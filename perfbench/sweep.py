"""Repeat the benchmark over seeds and summarize each metric's spread.

    python3 perfbench/sweep.py --workload corpus_build --seeds 1-10

Runs BENCHMARK.json's command (``--seconds run_seconds --trace 0``)
once per seed, one after another, as a regression check does; appends
every result line to ``.perfbench_work/sweeps.jsonl`` and prints, per
metric, the median, the quartiles and the quartile distance as a share
of the median (``statistics.quantiles(values, n=4)``), the spread the
bounds in BENCHMARK.json are checked against.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarize(results: list[dict]) -> dict[str, dict]:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(values)
        q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                     else (med, med, med))
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0,
                     "unit": results[0]["metrics"][name]["unit"]}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,7,11")
    args = p.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    log = ROOT / ".perfbench_work" / "sweeps.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    results = []
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed",
             str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        results.append(res)
        with log.open("a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "wall_s": wall,
                                "host": lines[0], **res}) + "\n")
        print(f"seed {seed}: {wall:.0f} s, correct {res['correct']}, "
              f"{res['failed']}/{res['attempted']} failed, " + ", ".join(
                  f"{k} {v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    for name, s in summarize(results).items():
        print(f"{name:48s} median {s['median']:12.6g} {s['unit']:6s} "
              f"q1 {s['q1']:12.6g} q3 {s['q3']:12.6g} spread {s['spread']:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
