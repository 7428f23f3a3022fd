"""Spans around the layers' public functions, and per-layer metrics.

A traced job run patches the names the jobs call (the pipeline,
``write_with_checkpoints``, ``append_audit``, ``build_corpus`` and its
``_cut_lineage`` stage boundaries) with wrappers that record a span:
name, layer, start, end and parent, kept in memory. After the run the
SQL executions it issued are read from the status store and attached
to the innermost span open when each was submitted, as child spans
whose layer is their plan root: a data write belongs to
``plans.checkpoint``, an audit write to ``plans.audit``, a
``localCheckpoint`` to ``operators``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass

from .sparkstore import WRITE_NODE, Execution

# (module, attribute, layer): the names jobs/run_scrub.main and
# jobs/build_corpus call. run_build_corpus imports write_with_checkpoints
# from its module at call time, so that module's name is patched too.
TRACE_POINTS = (
    ("jobs.run_scrub", "filter_scrub_pipeline", "plans.pipeline"),
    ("jobs.run_scrub", "write_with_checkpoints", "plans.checkpoint"),
    ("jobs.run_scrub", "append_audit", "plans.audit"),
    ("social_media_pii_scrubber_spark.plans.checkpoint",
     "write_with_checkpoints", "plans.checkpoint"),
    ("jobs.build_corpus", "build_corpus", "operators"),
    ("jobs.build_corpus", "_cut_lineage", "operators"),
)
LAYERS = ("jobs", "plans.pipeline", "plans.checkpoint", "plans.audit",
          "operators")
# build_corpus's mat() boundaries in call order; s4 (host filter) is lazy
# up to the s5 gate's cut and s6 (classifier) up to the s7 mix's cut
CORPUS_STAGES = ("s0_canon", "s1_line_dedup", "s2_exact_dedup",
                 "s3_near_dup", "s5_gate", "s7_mix")
# operators Spark can compile into a WholeStageCodegen stage; one found
# outside a stage fell back to interpreted evaluation
CODEGEN_CAPABLE = {"Project", "Filter", "HashAggregate", "Sort", "Expand",
                   "Generate", "BroadcastHashJoin", "ShuffledHashJoin",
                   "SortMergeJoin"}
# every per-layer metric a traced run reports, with its unit
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_s": "s",
    "functions.codegen_s": "s",
    "functions.udf_rows": "count",
    "functions.udf_run_s": "s",
    "functions.udf_init_s": "s",
    "functions.udf_start_s": "s",
    "functions.udf_bytes_returned": "bytes",
    "plans.checkpoint.write_s": "s",
    "plans.checkpoint.batches": "count",
    "plans.checkpoint.batch_s_max": "s",
    "plans.checkpoint.rows_written": "count",
    "plans.checkpoint.files_written": "count",
    "plans.checkpoint.bytes_written": "bytes",
    "plans.checkpoint.rows_scored_per_row_written": "ratio",
    "plans.audit.append_s": "s",
    "plans.audit.rows_rescored": "count",
    **{f"operators.{stage}_s": "s" for stage in CORPUS_STAGES},
    "operators.exchanges": "count",
    "operators.reused_exchanges": "count",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.non_codegen_nodes": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.executions": "count",
    "trace.overhead_frac": "ratio",
}
EXEC_LAYER = {"data_write": "plans.checkpoint", "audit_write": "plans.audit",
              "checkpoint": "operators"}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float          # epoch seconds
    end: float
    parent: int | None
    exec_id: int | None = None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = Span(len(self.spans), name, layer, time.time(), 0.0,
                 self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self):
        """Install the span wrappers for the duration of one job run."""
        undo = []
        try:
            for mod_name, attr, layer in TRACE_POINTS:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr, None)
                if fn is None:
                    continue
                setattr(mod, attr, self._wrap(fn, attr, layer))
                undo.append((mod, attr, fn))
            yield self
        finally:
            for mod, attr, fn in reversed(undo):
                setattr(mod, attr, fn)

    def attach(self, execs: list[Execution], kinds: dict[int, str]) -> None:
        """Add one child span per execution under the innermost span
        that was open when it was submitted."""
        for e in execs:
            t = e.start_ms / 1000.0
            host = None
            for s in self.spans:
                if s.exec_id is None and s.start <= t <= s.end and (
                        host is None or s.start >= host.start):
                    host = s
            layer = EXEC_LAYER.get(kinds[e.id], host.layer if host else "jobs")
            self.spans.append(Span(len(self.spans), f"exec {e.id} {kinds[e.id]}",
                                   layer, t, e.end_ms / 1000.0,
                                   host.id if host else None, e.id))

    def dump(self) -> list[dict]:
        """The spans as JSON-ready dicts (times in epoch seconds)."""
        return [vars(s) for s in self.spans]

    def self_times(self) -> dict[str, float]:
        """Each layer's self time: span durations minus the part of each
        span its children cover (children of one span run serially)."""
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            covered = sum(min(c.end, s.end) - max(c.start, s.start)
                          for c in self.spans if c.parent == s.id)
            out[s.layer] = out.get(s.layer, 0.0) + max(
                s.end - s.start - covered, 0.0)
        return out


def exec_kind(e: Execution) -> str:
    path = e.write_path()
    if path:
        return "data_write" if path.rstrip("/").endswith("/data") else "audit_write"
    if e.description.startswith("localCheckpoint"):
        return "checkpoint"
    return "other"


def layer_metrics(tracer: Tracer, execs: list[Execution],
                  input_path: str) -> dict[str, float]:
    """The per-layer metrics of one traced job run."""
    kinds = {e.id: exec_kind(e) for e in execs}
    tracer.attach(execs, kinds)
    m: dict[str, float] = {}

    scans = [n for e in execs for n in e.nodes
             if n.name.startswith("Scan parquet") and input_path in n.desc]
    m["sources.scan_rows"] = sum(n.metrics.get("number of output rows", 0) for n in scans)
    m["sources.scan_bytes"] = sum(n.metrics.get("size of files read", 0) for n in scans)
    m["sources.scan_s"] = sum(n.metrics.get("scan time", 0) for n in scans)

    m["functions.codegen_s"] = sum(
        n.metrics.get("duration", 0) for e in execs for n in e.nodes
        if n.name.startswith("WholeStageCodegen"))
    udf = [n for e in execs for n in e.named("ArrowEvalPython")]
    for key, metric in (("udf_rows", "number of output rows"),
                        ("udf_run_s", "time to run Python workers"),
                        ("udf_init_s", "time to initialize Python workers"),
                        ("udf_start_s", "time to start Python workers"),
                        ("udf_bytes_returned", "data returned from Python workers")):
        m[f"functions.{key}"] = sum(n.metrics.get(metric, 0) for n in udf)

    writes = [e for e in execs if kinds[e.id] == "data_write"]
    write_spans = [s for s in tracer.spans
                   if s.name == "write_with_checkpoints"]
    m["plans.checkpoint.write_s"] = sum(s.end - s.start for s in write_spans)
    m["plans.checkpoint.batches"] = len(writes)
    m["plans.checkpoint.batch_s_max"] = max((e.duration_s for e in writes), default=0.0)
    written = sum(e.total(WRITE_NODE, "number of output rows") for e in writes)
    m["plans.checkpoint.rows_written"] = written
    m["plans.checkpoint.files_written"] = sum(
        e.total(WRITE_NODE, "number of written files") for e in writes)
    m["plans.checkpoint.bytes_written"] = sum(
        e.total(WRITE_NODE, "written output") for e in writes)
    m["plans.checkpoint.rows_scored_per_row_written"] = (
        sum(e.rows_entering() for e in writes) / written if written else 0.0)

    audits = [e for e in execs if kinds[e.id] == "audit_write"]
    m["plans.audit.append_s"] = sum(e.duration_s for e in audits)
    # rows the audit pass pushes through the pipeline again: only an
    # audit that reads the job's input re-evaluates it
    m["plans.audit.rows_rescored"] = sum(
        e.rows_entering() for e in audits
        if any(n.name.startswith("Scan parquet") and input_path in n.desc
               for n in e.nodes))

    stage_ends = [s.end for s in tracer.spans if s.name == "_cut_lineage"]
    corpus = [s for s in tracer.spans if s.name == "build_corpus"]
    prev = corpus[0].start if corpus else 0.0
    for k, stage in enumerate(CORPUS_STAGES):
        end = stage_ends[k] if k < len(stage_ends) else prev
        m[f"operators.{stage}_s"] = end - prev
        prev = end
    nodes = [n for e in execs for n in e.nodes]
    m["operators.exchanges"] = sum(n.name == "Exchange" for n in nodes)
    m["operators.reused_exchanges"] = sum(n.name == "ReusedExchange" for n in nodes)
    m["operators.shuffle_bytes"] = sum(n.metrics.get("shuffle bytes written", 0)
                                       for n in nodes)
    m["operators.spill_bytes"] = sum(n.metrics.get("spill size", 0) for n in nodes)
    fallback = [n.name for n in nodes
                if n.name in CODEGEN_CAPABLE and not n.in_codegen]
    m["operators.non_codegen_nodes"] = len(fallback)

    for layer, secs in tracer.self_times().items():
        m[f"{layer}.self_s"] = secs
    m["trace.executions"] = len(execs)
    return m
