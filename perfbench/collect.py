"""Tracing for the benchmark, from outside the engine.

* ``Tracer`` records spans (name, start, end, parent, operation id) around
  the benchmark's own calls into a layer, and counts py4j commands sent
  while each span is open by wrapping the py4j client's ``send_command``.
  Spans stay in memory until the run ends.
* ``StatusStore`` reads Spark's AppStatusStore (jobs, stages, task
  summaries) and the SQL status store (Python-node metrics) for exactly
  one operation's window. It raises when the window's jobs or stages were
  evicted from the store, because a partial window would under-report.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# ---------------------------------------------------------------- spans


class Tracer:
    """Span recorder. With ``enabled=False`` every method is a no-op
    except the span timing itself, which the untraced run also needs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._py4j_calls = 0
        self._client = None
        self._orig_send = None

    def attach(self, spark) -> None:
        """Count py4j commands from now on (idempotent across session
        restarts: the gateway client outlives a SparkContext)."""
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        if self._client is client:
            return
        orig = client.send_command

        def counted(*args, **kwargs):
            self._py4j_calls += 1
            return orig(*args, **kwargs)

        client.send_command = counted
        self._client, self._orig_send = client, orig

    def detach(self) -> None:
        if self._client is not None:
            self._client.send_command = self._orig_send
            self._client = None

    @contextmanager
    def paused(self):
        """Run the collector's own py4j traffic without counting it."""
        before = self._py4j_calls
        try:
            yield
        finally:
            self._py4j_calls = before

    @contextmanager
    def span(self, name: str, op: int | None = None):
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "py4j_calls": 0,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        calls0 = self._py4j_calls
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j_calls"] = self._py4j_calls - calls0
            self._stack.pop()

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


# ------------------------------------------------------- interval maths


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [a, b] intervals."""
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


# ------------------------------------------------ SQL metric value text

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in bytes, seconds or a
    plain count. Multi-task values read "total (min, med, max ...)\\n
    <total> (...)"; single ones are just "<total>"."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value * _UNITS[unit]


PYTHON_NODES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "PythonMapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
)

ROW_METRICS = {"number of output rows", "records read"}

# ------------------------------------------------------- status store


class EvictedError(RuntimeError):
    pass


class StatusStore:
    """Reads one operation's jobs, stages and SQL executions."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = self._gw.jvm
        self._ss = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty_q = self._gw.new_array(self._jvm.double, 0)
        self._q = self._gw.new_array(self._jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def last_job_id(self) -> int:
        it = self._ss.jobsList(None).iterator()
        last = -1
        while it.hasNext():
            last = max(last, it.next().jobId())
        return last

    def _jobs_after(self, job0: int) -> list:
        jobs, it = {}, self._ss.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid > job0:
                jobs[jid] = j
        if jobs:
            missing = set(range(job0 + 1, max(jobs) + 1)) - set(jobs)
            if missing:
                raise EvictedError(
                    f"{len(missing)} jobs of this operation were evicted "
                    "from the status store (raise spark.ui.retainedJobs)"
                )
        return [jobs[k] for k in sorted(jobs)]

    def _stage(self, sid: int):
        seq = self._ss.stageData(
            sid, False, self._jvm.java.util.ArrayList(), False, self._empty_q
        )
        n = seq.size()
        return [seq.apply(i) for i in range(n)]

    def window(self, job0: int, t0: float, t1: float) -> dict:
        """Counts for jobs with id > ``job0`` (all the operation's jobs:
        the caller takes ``job0`` just before the operation) and for SQL
        executions submitted in [t0, t1] (epoch seconds)."""
        jobs = self._jobs_after(job0)
        stage_ids = set()
        for j in jobs:
            it = j.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "failed_tasks": 0,
            "task_run_core_s": 0.0,
            "task_cpu_core_s": 0.0,
            "gc_s": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "store_scan_mb": 0.0,
            "task_skew": 1.0,
            "intervals": [],
        }
        longest = (0.0, None)
        for sid in sorted(stage_ids):
            attempts = self._stage(sid)
            if not attempts:
                raise EvictedError(
                    f"stage {sid} of this operation was evicted from the "
                    "status store (raise spark.ui.retainedStages)"
                )
            for s in attempts:
                if str(s.status().toString()) == "SKIPPED":
                    continue
                sub, comp = s.submissionTime(), s.completionTime()
                if sub.isEmpty() or comp.isEmpty():
                    continue
                a = sub.get().getTime() / 1000.0
                b = comp.get().getTime() / 1000.0
                out["intervals"].append((a, b))
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["failed_tasks"] += s.numFailedTasks()
                out["task_run_core_s"] += s.executorRunTime() / 1e3
                out["task_cpu_core_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                out["store_scan_mb"] += s.inputBytes() / 2**20
                out["spill_mb"] += (
                    s.memoryBytesSpilled() + s.diskBytesSpilled()
                ) / 2**20
                if b - a > longest[0]:
                    longest = (b - a, (sid, s.attemptId()))
        if longest[1] is not None:
            summ = self._ss.taskSummary(longest[1][0], longest[1][1], self._q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                out["task_skew"] = mx / med if med > 0 else 1.0
        out.update(self._python_nodes(t0, t1))
        return out

    def _python_nodes(self, t0: float, t1: float) -> dict:
        """Sum the grouped-map / Arrow boundary metrics of every SQL
        execution submitted in the window."""
        acc = {
            "python_rows_in": 0.0,
            "python_mb_in": 0.0,
            "python_mb_out": 0.0,
            "python_worker_s": 0.0,
        }
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            sub = e.submissionTime() / 1000.0
            if not (t0 <= sub <= t1):
                continue
            eid = e.executionId()
            graph = self._sql.planGraph(eid)
            values = self._sql.executionMetrics(eid)
            nodes, names = {}, {}
            nit = graph.allNodes().iterator()
            while nit.hasNext():
                n = nit.next()
                nodes[n.id()] = n
                names[n.id()] = n.name()
            children: dict[int, list[int]] = {}
            eit = graph.edges().iterator()
            while eit.hasNext():
                ed = eit.next()
                children.setdefault(ed.toId(), []).append(ed.fromId())

            def metric(node, wanted):
                """The node's first metric named in ``wanted``, or None."""
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    if m.name() in wanted:
                        v = values.get(m.accumulatorId())
                        return parse_metric(v.get()) if v.isDefined() else 0.0
                return None

            def rows_out(nid):
                """Rows a node emits; nodes without a row count (sorts,
                shuffle reads, codegen wrappers) pass their child's."""
                got = metric(nodes[nid], ROW_METRICS)
                if got is not None:
                    return got
                return sum(rows_out(c) for c in children.get(nid, []))

            for nid, name in names.items():
                if not name.startswith(PYTHON_NODES):
                    continue
                node = nodes[nid]
                acc["python_mb_in"] += (metric(
                    node, {"data sent to Python workers"}) or 0.0) / 2**20
                acc["python_mb_out"] += (metric(
                    node, {"data returned from Python workers"}) or 0.0) / 2**20
                acc["python_worker_s"] += metric(
                    node, {"time to run Python workers"}) or 0.0
                acc["python_rows_in"] += sum(
                    rows_out(c) for c in children.get(nid, []))
        return acc
