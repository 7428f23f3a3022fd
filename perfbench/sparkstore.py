"""Read per-execution plan metrics from Spark's SQL status store.

The store (``sharedState().statusStore()``) is populated by the SQL
listener even with ``spark.ui.enabled=false``, so every action the jobs
run leaves an execution record: description, submission and completion
time, the final (post-AQE) plan graph and each node's accumulated
metrics as Spark's own formatted strings. ``parse_metric`` turns those
strings into seconds, bytes or plain counts.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
               "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50}

WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric → a number (seconds, bytes or count).

    Accepted shapes, as the status store renders them:
    ``"19,848"``, ``"1.2"``, ``"38 ms"``, ``"31.0 s"``, ``"1.3 m"``,
    ``"3.9 MiB"``, and the per-task form
    ``"total (min, med, max (stageId: taskId))\\n31.0 s (7.7 s, …)"``,
    whose first value is the total.
    """
    s = text.strip()
    if "\n" in s:  # drop the "total (min, med, max …)" header line
        s = s.split("\n", 1)[1].strip()
    head = s.split("(", 1)[0].split()
    if not head:
        raise ValueError(f"no value in metric string {text!r}")
    number = float(head[0].replace(",", ""))
    if len(head) == 1:
        return number
    unit = head[1]
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in metric string {text!r}")


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, float]
    in_codegen: bool = False


@dataclass
class Execution:
    id: int
    description: str
    start_ms: int
    end_ms: int
    nodes: list[Node]
    parents: dict[int, list[int]] = field(default_factory=dict)

    @property
    def duration_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0

    def summary(self) -> dict:
        """JSON-ready digest for the trace file."""
        return {"id": self.id, "description": self.description,
                "start_ms": self.start_ms, "end_ms": self.end_ms,
                "write_path": self.write_path(),
                "rows_entering": self.rows_entering(),
                "nodes": [{"name": n.name.strip(), "in_codegen": n.in_codegen,
                           "metrics": n.metrics} for n in self.nodes]}

    def named(self, name: str) -> list[Node]:
        return [n for n in self.nodes if n.name.strip() == name]

    def total(self, node_name: str, metric: str) -> float:
        return sum(n.metrics.get(metric, 0.0) for n in self.named(node_name))

    def write_path(self) -> str | None:
        """Output path of the write command at (or under) the plan root."""
        for n in self.named(WRITE_NODE):
            parts = n.desc.split()
            if len(parts) > 2:
                return parts[2].rstrip(",")
        return None

    def rows_entering(self) -> float:
        """Rows that reach the first real operator above a leaf.

        From each leaf (scan) walk up through row-preserving or
        row-dropping pass-throughs (Filter, ColumnarToRow, Project) and
        take the smallest row count seen: for the scrub jobs this is the
        date-window Filter above the parquet scan, for a checkpointed
        stage it is the rows read back from the checkpoint. The widest
        leaf counts, so a self-join is not double counted.
        """
        has_child = {p for ps in self.parents.values() for p in ps}
        by_id = {n.id: n for n in self.nodes}
        best = 0.0
        for leaf in (n for n in self.nodes
                     if n.id not in has_child and n.id in self.parents
                     and not n.name.startswith("WholeStageCodegen")):
            rows = leaf.metrics.get("number of output rows")
            cur = leaf.id
            while True:
                ups = self.parents.get(cur, [])
                if len(ups) != 1 or by_id[ups[0]].name.strip() not in (
                        "Filter", "ColumnarToRow", "Project"):
                    break
                cur = ups[0]
                r = by_id[cur].metrics.get("number of output rows")
                if r is not None:
                    rows = r if rows is None else min(rows, r)
            best = max(best, rows or 0.0)
        return best


def _split_case_class(text: str) -> list[str]:
    """``"Name(a,b,c)"`` → ``["a", "b", "c"]`` (a name may hold commas)."""
    inner = text[text.index("(") + 1: text.rindex(")")]
    return inner.rsplit(",", 2)


class StatusStore:
    """Incremental reader: each ``new_executions()`` call returns the
    executions that completed since the previous call."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = -1
        self.skip_seen()  # everything before now is not ours

    def drain(self) -> None:
        """Wait until the listener bus has delivered every SQL event."""
        self._spark._jsc.sc().listenerBus().waitUntilEmpty()

    def skip_seen(self) -> None:
        """Forget every execution recorded so far without reading it."""
        self.drain()
        lst = self._store.executionsList()
        if lst.size():
            self._seen = max(self._seen, lst.apply(lst.size() - 1).executionId())

    def new_executions(self, timeout_s: float = 30.0) -> list[Execution]:
        """The executions since the previous call. Call it after the
        actions have returned: the listener writes an execution's final
        record (completion time, aggregated metrics) asynchronously, so
        this waits until every new execution has one."""
        self.drain()
        deadline = time.monotonic() + timeout_s
        while True:
            lst = self._store.executionsList()
            new = [lst.apply(k) for k in range(lst.size())
                   if lst.apply(k).executionId() > self._seen]
            if (all(e.completionTime().isDefined() for e in new)
                    or time.monotonic() > deadline):
                break
            time.sleep(0.05)
        out = [self._read(e) for e in new if e.completionTime().isDefined()]
        if out:
            self._seen = max(x.id for x in out)
        return sorted(out, key=lambda x: x.id)

    def _read(self, e) -> Execution:
        eid = e.executionId()
        values: dict[int, str] = {}
        raw = self._store.executionMetrics(eid).mkString("\u0002")
        for item in raw.split("\u0002") if raw else []:
            acc, _, val = item.partition(" -> ")
            values[int(acc)] = val
        graph = self._store.planGraph(eid)
        jnodes = graph.allNodes()
        nodes, codegen_ids = [], set()
        for k in range(jnodes.size()):
            jn = jnodes.apply(k)
            metrics = {}
            raw_m = jn.metrics().mkString("\u0002")
            for item in raw_m.split("\u0002") if raw_m else []:
                name, acc, _typ = _split_case_class(item)
                if int(acc) in values:
                    try:
                        metrics[name] = parse_metric(values[int(acc)])
                    except ValueError:
                        pass
            name = jn.name()
            if name.startswith("WholeStageCodegen"):
                members = jn.nodes()
                codegen_ids.update(members.apply(i).id()
                                   for i in range(members.size()))
            desc = jn.desc()  # scans keep their Location; others are cut
            nodes.append(Node(jn.id(), name,
                              desc if name.startswith("Scan") else desc[:400],
                              metrics))
        for n in nodes:
            n.in_codegen = n.id in codegen_ids
        parents: dict[int, list[int]] = {}
        raw_e = graph.edges().mkString("\u0002")
        for item in raw_e.split("\u0002") if raw_e else []:
            frm, to = (int(x) for x in _split_case_class(item)[-2:])
            parents.setdefault(frm, []).append(to)
            parents.setdefault(to, [])
        return Execution(eid, e.description(), int(e.submissionTime()),
                         int(e.completionTime().get().getTime()), nodes,
                         parents)
