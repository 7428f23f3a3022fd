"""Job-level benchmark for run_scrub and build_corpus.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one Spark session (``local[CPUS]``, a DRIVER_MEMORY
pre-touched heap, whatever the environment says), one job at a time in
a closed loop:

1. the workload's input, a seeded parquet, is sampled once per (seed,
   size, code) under ``.perfbench_work/`` from a generated corpus, and
   reused; the corpus is built once per (size, code) by a child
   process with its own short-lived JVM; neither is part of ``setup_s``
   and neither leaves a trace in the measured JVM;
2. set-up (``setup_s``): ``get_spark()``, then one warm-up job on a
   1,000-row slice of the seed's input, in one write batch;
3. the job runs through its public entry point again and again until
   ``--seconds`` have passed and it ran MIN_RUNS times; every run's output is
   checked, and a run that raises or fails a check counts as failed;
4. ``--trace 0`` prints the end-to-end metrics (medians over the runs);
   ``--trace 1`` alternates untraced and traced runs (untraced first and
   last) and prints the per-layer metrics of the traced ones, read from
   Spark's SQL status store, plus the tracing overhead: each traced
   run's wall time against the mean of its two untraced neighbours.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
MAX_RUN_S = 150  # stop starting job runs past this (the run must end < 180 s)
# timed runs per process however long they take: with a time window
# alone, a slow host period leaves one run, the one the JIT still warms
MIN_RUNS = 2
# Spark's task threads and heap, set here rather than taken from the
# environment. Two task threads leave the other cores of a 4-core host to
# the JIT, the GC, the driver and the Python workers, so job times on a
# shared host vary far less than at local[4]. The jobs' inputs are a few
# MB, so a 3 GB heap holds them; a smaller pre-touched heap also starts
# faster and takes less of a shared host's memory.
CPUS = 2
DRIVER_MEMORY = "3g"


def _prepare_env() -> None:
    """Environment the JVM and its Python workers inherit: the checkout
    on PYTHONPATH (a driver-side sys.path entry does not reach the
    workers), local[CPUS], the heap, and every temp/local dir inside the
    checkout."""
    for d in ("spark-local", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(min(CPUS, len(os.sched_getaffinity(0))))
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    env["TMPDIR"] = str(WORK / "tmp")
    # no hsperfdata file under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


@dataclass
class Run:
    """One job run of the measured window."""
    traced: bool
    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_rss: int = 0
    out_bytes: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.failures


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def trace_overhead(runs: list[Run]) -> float:
    """Median over the traced runs of wall time ÷ the mean wall time of
    its two untraced neighbours − 1. Comparing with both neighbours
    cancels the JIT warming from one run to the next, which would
    otherwise read as (negative) overhead."""
    return _median([
        r.wall_s / ((runs[k - 1].wall_s + runs[k + 1].wall_s) / 2) - 1
        for k, r in enumerate(runs[:-1])
        if k > 0 and r.traced and r.ok and runs[k - 1].ok and runs[k + 1].ok])


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not ((ROOT / "jobs" / "run_scrub.py").is_file()
            and (ROOT / "social_media_pii_scrubber_spark").is_dir()):
        print("perfbench: the program's sources (jobs/, "
              "social_media_pii_scrubber_spark/) are not in this checkout",
              file=sys.stderr)
        return 2
    _prepare_env()

    from perfbench import hostinfo
    from perfbench import workloads as W
    from perfbench.inputs import code_digest, ensure_input
    from perfbench.sparkstore import StatusStore
    from perfbench.tracing import PER_LAYER_UNITS, Tracer, layer_metrics
    from social_media_pii_scrubber_spark.session import get_spark

    wl = WORKLOADS[args.workload]
    t_begin = time.monotonic()
    jiffies0 = hostinfo.cpu_jiffies()
    out = WORK / "out" / f"{wl.name}-{os.getpid()}"

    def fresh_out() -> Path:
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        return out

    input_path, docs, warm_path = ensure_input(ROOT, WORK, args.seed, wl.docs)
    t0 = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        # one write batch: it compiles what every batch runs, and leaves
        # the window the time a full-shape warm-up would take
        W.run_job(spark, wl, warm_path, fresh_out(),
                  buckets=W.BUCKETS_PER_BATCH)
        warmup_s = time.perf_counter() - t0
        oracle = W.oracle_checksum(WORK, wl, input_path)
        store = None
        if args.trace:
            # scan nodes name their input path in full, not cut at 100 chars
            spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
            store = StatusStore(spark)

        runs: list[Run] = []
        traces = []  # every traced run's spans, written out at the end
        sums: set[str] = set()
        t_window = time.monotonic()
        while True:
            run = Run(traced=bool(args.trace) and len(runs) % 2 == 1)
            tracer = Tracer()
            target = fresh_out()
            if run.traced:
                store.skip_seen()
            try:
                cpu0 = hostinfo.tree_cpu_s()
                with hostinfo.PeakRss() as rss, \
                        (tracer.patched() if run.traced else nullcontext()), \
                        (tracer.span(wl.job, "jobs") if run.traced
                         else nullcontext()):
                    t0 = time.perf_counter()
                    reported = W.run_job(spark, wl, input_path, target)
                    run.wall_s = time.perf_counter() - t0
                run.cpu_s = hostinfo.tree_cpu_s() - cpu0
                run.peak_rss = rss.peak
                run.out_bytes = W.output_bytes(target)
                if run.traced:
                    execs = store.new_executions()
                    run.layers = layer_metrics(tracer, execs, str(input_path))
                    traces.append({"run": len(runs), "spans": tracer.dump(),
                                   "executions": [e.summary() for e in execs]})
                run.failures, checksum = W.check_output(
                    wl, input_path, target, reported, oracle)
                sums.add(checksum)
                if len(sums) > 1:
                    run.failures.append(f"checksum differs between runs: {sorted(sums)}")
            except Exception as exc:  # a failed run is counted, not fatal
                run.failures.append(f"raised {exc!r}")
            runs.append(run)
            elapsed = time.monotonic() - t_window
            # a traced window ends on an untraced run: U T U, U T U T U, ...
            done = elapsed >= args.seconds and len(runs) >= MIN_RUNS and (
                not args.trace or len(runs) % 2 == 1)
            if done or time.monotonic() - t_begin + elapsed / len(runs) > MAX_RUN_S:
                break

        # the content checksum must also repeat across processes that run
        # the same code on the same seed; the first one to finish records it
        sum_file = (WORK / "checksums" / code_digest(ROOT)
                    / f"{wl.name}-seed={args.seed}-docs={wl.docs}")
        if len(sums) == 1 and runs[-1].ok:
            (checksum,) = sums
            sum_file.parent.mkdir(parents=True, exist_ok=True)
            tmp = sum_file.with_name(f"{sum_file.name}.{os.getpid()}")
            tmp.write_text(checksum)
            try:  # link: the file appears whole, and only if it is new
                os.link(tmp, sum_file)
            except FileExistsError:
                if (earlier := sum_file.read_text()) != checksum:
                    runs[-1].failures.append(
                        f"checksum {checksum} differs from an earlier run "
                        f"of this seed and code ({earlier})")
            finally:
                tmp.unlink()
        stamp = hostinfo.host_stamp(ROOT, spark, jiffies0)
        if traces:
            trace_file = WORK / "traces" / f"{wl.name}-seed={args.seed}.json"
            trace_file.parent.mkdir(parents=True, exist_ok=True)
            trace_file.write_text(json.dumps(
                {"host": stamp, "runs": traces}, indent=1))
    finally:
        hostinfo.stop_spark(spark)
        shutil.rmtree(out, ignore_errors=True)

    failed = sum(not r.ok for r in runs)
    print(f"host: {json.dumps(stamp, sort_keys=True)}")
    print(f"workload {wl.name} seed {args.seed}: {docs} docs, {len(runs)} runs, "
          f"{wl.batches} write batches, failed_frac {failed / len(runs):g}")
    print("job wall s: " + " ".join(
        f"{r.wall_s:.2f}{'t' if r.traced else ''}" for r in runs)
        + f"; get_spark {get_spark_s:.2f}, warm-up {warmup_s:.2f}")
    for k, r in enumerate(runs):
        for f in r.failures:
            print(f"check failed: run {k}: {f}")
    if args.trace:
        traced = [r for r in runs if r.traced and r.ok]
        metrics = {k: _median([r.layers[k] for r in traced])
                   for k in (traced[0].layers if traced else ())}
        metrics["session.get_spark_s"] = get_spark_s
        metrics["session.warmup_s"] = warmup_s
        metrics["trace.overhead_frac"] = trace_overhead(runs)
        result = {k: {"value": metrics.get(k, 0.0), "unit": u}
                  for k, u in PER_LAYER_UNITS.items()}
    else:
        good = [r for r in runs if r.ok]
        result = {k: {"value": v, "unit": u} for k, (v, u) in {
            "docs_per_s": (_median([docs / r.wall_s for r in good]), "docs/s"),
            "setup_s": (get_spark_s + warmup_s, "s"),
            "cpu_s_per_kdoc": (_median([r.cpu_s / docs * 1000 for r in good]), "s"),
            "peak_rss_mb": (_median([r.peak_rss / 2**20 for r in good]), "MiB"),
            "output_bytes_per_doc": (_median([r.out_bytes / docs for r in good]), "B"),
        }.items()}
    for k, v in result.items():
        print(f"  {k:48s} {v['value']:>16.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0,
                      "attempted": len(runs), "failed": failed,
                      "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
