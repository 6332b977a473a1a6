"""Measurement plumbing for the benchmark: spans, Spark job metrics by job
group, executed-plan inspection, and process-tree memory.

Everything here observes the engine from outside. Spans wrap calls into
the engine's public functions; Spark numbers come from the application
status store (per job group) and the SQL status store (per-operator plan
metrics). Nothing here changes what the engine executes.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

# Python-evaluation nodes of a physical plan: rows fed to these crossed
# the Arrow boundary.
PY_NODES = (
    "MapInArrow",
    "MapInPandas",
    "PythonMapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "FlatMapGroupsInArrow",
)
JOIN_NODES = (
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


class PlanPruned(AssertionError):
    """An op's executed plan lost the join or Python node that does its work."""


# ----------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: (op id, name, parent, start, end), plus per-op
    attributes. While disabled it records nothing and costs one branch."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.attrs: dict[int, dict] = {}
        self._stack: list[int] = []
        self._op: int | None = None

    def begin_op(self, op_id: int) -> None:
        self._op = op_id
        self._stack = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "op": self._op,
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def note(self, key: str, value) -> None:
        if self.enabled:
            self.attrs.setdefault(self._op, {})[key] = value

    def durations(self, name: str, ops: set[int]) -> list[float]:
        """Durations of the finished spans called ``name`` in the given ops."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["op"] in ops and s["end"] is not None]


# ------------------------------------------------------------ plan text


def final_plan_text(df) -> str:
    """The executed physical plan as text. For an adaptive plan only the
    final (or, before execution, the current) plan is kept, so each node
    is counted once."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return text.split("+- == Initial Plan ==")[0]


def guard_plan(kind: str, text: str, need: tuple[str, ...]) -> None:
    """Fail loudly when an op's plan no longer contains its input scan and
    the node that does its work — e.g. a count() over an include_zero
    aggregate, which Catalyst reduces to HashAggregate over Range."""
    missing = [n for n in need if not re.search(n, text)]
    if missing:
        raise PlanPruned(
            f"{kind}: plan matches none of {missing}; "
            f"the op would time plan construction only:\n{text[:2000]}"
        )


# ------------------------------------------------ Spark status stores


def _it(seq):
    i = seq.iterator()
    while i.hasNext():
        yield i.next()


class SparkMetrics:
    """Per-job-group Spark numbers, read after the group's jobs finished."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> dict:
        """Sums over the group's executed (non-skipped) stages."""
        store = self.jsc.statusStore()
        seen: set[int] = set()
        tot = {
            "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "gc_s": 0.0,
        }
        for jid in self.job_ids(group):
            tot["jobs"] += 1
            for sid in _it(store.job(jid).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in _it(store.stageData(sid, False, None, False, None)):
                    if sd.status().toString() == "SKIPPED":
                        continue
                    tot["tasks"] += sd.numCompleteTasks()
                    tot["executor_run_s"] += sd.executorRunTime() / 1e3
                    tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    tot["gc_s"] += sd.jvmGcTime() / 1e3
        return tot

    def _executions(self, group: str):
        jobs = set(self.job_ids(group))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _it(sql.executionsList()):
            if jobs.intersection(_it(ex.jobs().keys())):
                yield sql, ex.executionId()

    def plan_text(self, group: str) -> str:
        """Every node (name and description) of the final plans the
        group's SQL executions ran — collects, sink writes and the
        actions operators run internally alike."""
        return "\n".join(
            f"{n.name()}: {n.desc()}"
            for sql, eid in self._executions(group)
            for n in _it(sql.planGraph(eid).allNodes())
        )

    def python_rows(self, group: str) -> dict:
        """Rows fed to and emitted by Python nodes across the group's SQL
        executions. Rows in = the output rows of the nearest metered
        descendant of each Python node (the nodes themselves only meter
        their output)."""
        rows_in = rows_out = 0.0
        for sql, eid in self._executions(group):
            graph = sql.planGraph(eid)
            vals = sql.executionMetrics(eid)
            nodes = {}
            for n in _it(graph.allNodes()):
                rows = None
                for m in _it(n.metrics()):
                    if m.name() == "number of output rows" and vals.contains(m.accumulatorId()):
                        # a "sum" metric reads as a plain grouped number, e.g. '200,000'
                        rows = float(vals.apply(m.accumulatorId()).replace(",", ""))
                nodes[n.id()] = (n.name(), rows)
            children: dict[int, list[int]] = {}
            for e in _it(graph.edges()):
                children.setdefault(e.toId(), []).append(e.fromId())
            for nid, (name, rows) in nodes.items():
                if name not in PY_NODES:
                    continue
                rows_out += rows or 0.0
                for child in children.get(nid, []):
                    rows_in += self._metered_rows(child, nodes, children)
        return {"rows_in": rows_in, "rows_out": rows_out}

    @staticmethod
    def _metered_rows(nid: int, nodes: dict, children: dict) -> float:
        while True:
            rows = nodes[nid][1]
            if rows is not None:
                return rows
            kids = children.get(nid, [])
            if len(kids) != 1:
                return sum(SparkMetrics._metered_rows(k, nodes, children) for k in kids)
            nid = kids[0]


# ------------------------------------------------------ host and memory


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of a process and all its descendants: the Python
    driver, the JVM it launched and the JVM's Python workers."""
    kids = _proc_children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's resident memory until stopped; keeps the peak."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def host_state() -> dict:
    """Load average and cumulative CPU counters, for information only."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(v) for v in f.readline().split()[1:]]
    return {"load1": load1, "cpu_total": sum(cpu[:8]), "cpu_steal": cpu[7] if len(cpu) > 7 else 0}


def steal_frac(start: dict, end: dict) -> float:
    dt = end["cpu_total"] - start["cpu_total"]
    return (end["cpu_steal"] - start["cpu_steal"]) / dt if dt > 0 else 0.0


def process_age_s() -> float:
    """Seconds since this process started (kernel start time), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
