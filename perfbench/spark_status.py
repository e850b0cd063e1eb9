"""Per-op layer numbers read from Spark's own status stores.

Two stores are read, both fed by listeners that run with
``spark.ui.enabled=false``; nothing here starts the UI or calls its REST
API:

- the core status store (jobs, stages, tasks) for executor time;
- the SQL status store (executed plan graph of every SQL execution and
  the formatted value of every plan-node metric) for exchange, sort,
  Python-boundary, scan and output numbers.

An op is attributed its jobs through a Spark job group that the runner
sets around the op, and its SQL executions through those jobs.
"""

from __future__ import annotations

import re
import statistics

_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_SIZE_B = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_VALUE = re.compile(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value.

    Spark renders a metric either as a bare total (``"65,038"``,
    ``"12 ms"``, ``"1046.0 KiB"``) or, for per-task metrics, as
    ``"<total> (<min>, <med>, <max> (stage s.a: task t))"``, sometimes
    after a ``"total (min, med, max ...)"`` header line. Returns times in
    ms, sizes in bytes and counts as plain numbers."""
    lines = text.strip().splitlines()
    m = _VALUE.match(lines[-1]) if lines else None
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return value
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    if unit in _SIZE_B:
        return value * _SIZE_B[unit]
    raise ValueError(f"unknown unit {unit!r} in metric value {text!r}")


def _seq(s) -> list:
    """Python list of a Scala Seq reached through py4j."""
    return [s.apply(i) for i in range(s.size())]


# plan-node metric name -> (layer metric, scale to the reported unit)
_EXCHANGE = {
    "shuffle records written": ("exchange.records", 1.0),
    "shuffle bytes written": ("exchange.bytes_written", 1.0),
    "shuffle write time": ("exchange.write_ms", 1.0),
    "fetch wait time": ("exchange.fetch_wait_ms", 1.0),
}
_SORT = {
    "sort time": ("sort.ms", 1.0),
    "peak memory": ("sort.peak_mb", 1 / 2**20),
    "spill size": ("sort.spill_mb", 1 / 2**20),
}
_PYTHON = {
    "time to run Python workers": ("python.run_ms", 1.0),
    "time to start Python workers": ("python.boot_ms", 1.0),
    "time to initialize Python workers": ("python.init_ms", 1.0),
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_received", 1.0),
    "number of output rows": ("python.rows_received", 1.0),
}
_SCAN_NODES = ("Scan", "InMemoryTableScan", "LocalTableScan", "Range")


class StatusReader:
    """Reads what one op cost, layer by layer, after it has finished."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._core = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_of_job: dict[int, int] = {}
        self._execs_seen = 0

    def drain(self) -> None:
        """Wait until the listeners have seen every event posted so far."""
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list:
        """Last attempt of every stage that ran tasks for these jobs."""
        sids = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                sids.update(info.stageIds)
        out = []
        for sid in sorted(sids):
            st = self._core.lastStageAttempt(sid)
            if st.numCompleteTasks() > 0:
                out.append(st)
        return out

    def task_numbers(self, job_ids: list[int]) -> dict[str, float]:
        """Executor time of the op's stages, and how uneven the tasks of
        its longest stage were (slowest task run time over the median)."""
        stages = self.stages(job_ids)
        out = {
            "tasks.task_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "tasks.cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "tasks.gc_ms": float(sum(s.jvmGcTime() for s in stages)),
            "tasks.count": float(sum(s.numCompleteTasks() for s in stages)),
            "stages.count": float(len(stages)),
            "tasks.max_over_median": 0.0,
        }
        if stages:
            longest = max(stages, key=lambda s: s.executorRunTime())
            runs = []
            for t in _seq(self._core.taskList(longest.stageId(), longest.attemptId(), 1 << 20)):
                tm = t.taskMetrics()
                if tm.isDefined():
                    runs.append(tm.get().executorRunTime())
            med = statistics.median(runs) if runs else 0
            if med > 0:
                out["tasks.max_over_median"] = max(runs) / med
        return out

    def _index_executions(self) -> None:
        n = self._sql.executionsCount()
        if n > self._execs_seen:
            for ex in _seq(self._sql.executionsList(self._execs_seen, n - self._execs_seen)):
                it = ex.jobs().keysIterator()
                while it.hasNext():
                    self._exec_of_job[int(it.next())] = ex.executionId()
            self._execs_seen = n

    def plan_numbers(self, job_ids: list[int]) -> dict[str, float]:
        """Sum of exchange, sort, Python, scan and output metrics over the
        executed plans of every SQL execution that ran these jobs.

        Two actions on one DataFrame (an eager probe, then the result)
        run the same physical plan, whose metrics keep accumulating; a
        plan node is therefore counted once, with its latest values."""
        self._index_executions()
        execs = sorted({self._exec_of_job[j] for j in job_ids if j in self._exec_of_job})
        nodes = {}
        for eid in execs:
            values = self._metric_values(eid)
            for node, cluster_ms in self._nodes(eid, values):
                accs = _node_metrics(node)
                if accs:
                    metrics = {name: values[acc] for name, acc in accs if acc in values}
                    nodes[min(acc for _, acc in accs)] = (node.name(), metrics, cluster_ms)
        out = {name: 0.0 for name, _ in (*_EXCHANGE.values(), *_SORT.values(), *_PYTHON.values())}
        out.update({"exchange.count": 0.0, "python.nodes": 0.0, "scan.ms": 0.0, "scan.rows": 0.0})
        for kind, metrics, cluster_ms in nodes.values():
            if kind.startswith("Exchange") and metrics.get("shuffle records written", 0) > 0:
                out["exchange.count"] += 1
                _add(out, metrics, _EXCHANGE)
            elif kind == "Sort":
                _add(out, metrics, _SORT)
            elif "time to run Python workers" in metrics:
                out["python.nodes"] += 1
                _add(out, metrics, _PYTHON)
            elif kind.startswith(_SCAN_NODES):
                out["scan.rows"] += metrics.get("number of output rows", 0.0)
                out["scan.ms"] += metrics.get("scan time", cluster_ms)
        return out

    def _metric_values(self, eid: int) -> dict[int, float]:
        # one py4j round trip for the whole map; "\x01" never occurs in
        # a formatted value
        raw = self._sql.executionMetrics(eid).mkString("\x01")
        values = {}
        for item in raw.split("\x01") if raw else []:
            acc, _, text = item.partition(" -> ")
            try:
                values[int(acc)] = parse_metric(text)
            except ValueError:
                continue  # a metric kind this reader does not use
        return values

    def _nodes(self, eid: int, values: dict[int, float]):
        """(node, duration of its enclosing whole-stage-codegen cluster)."""
        for node in _seq(self._sql.planGraph(eid).nodes()):
            if node.getClass().getSimpleName() == "SparkPlanGraphCluster":
                ms = values.get(dict(_node_metrics(node)).get("duration"), 0.0)
                for child in _seq(node.nodes()):
                    yield child, ms
            else:
                yield node, 0.0

    def cached_mb(self) -> float:
        """Spark storage (memory and disk) held by cached RDDs right now."""
        total = 0
        for rdd in _seq(self._core.rddList(True)):
            total += rdd.memoryUsed() + rdd.diskUsed()
        return total / 2**20


_METRIC_REPR = re.compile(r"SQLPlanMetric\((.*),(-?\d+),([\w-]+)\)")


def _node_metrics(node) -> list[tuple[str, int]]:
    """(metric name, accumulator id) of a plan-graph node, in one round trip."""
    raw = node.metrics().mkString("\x01")
    out = []
    for item in raw.split("\x01") if raw else []:
        m = _METRIC_REPR.fullmatch(item)
        if m:
            out.append((m.group(1), int(m.group(2))))
    return out


def _add(out: dict, metrics: dict, mapping: dict) -> None:
    for src, (dst, scale) in mapping.items():
        out[dst] += metrics.get(src, 0.0) * scale
