"""Per-layer counters read from outside the program, through Spark's
in-process status stores.

Every query of a traced pass runs its builder under the job group
``<tag>:build`` and its timed action under ``<tag>:act`` (the group id is
also the job description, which Spark copies onto SQL executions). After
the pass, :meth:`StatusReader.collect` walks the jobs, stages and SQL
executions that appeared since the previous call and sums their metrics
per tag:

* ``statusStore().jobsList`` / ``lastStageAttempt`` — jobs, stages, tasks,
  executor run/CPU/GC time, shuffle and spill bytes, task result bytes;
* the SQL status store — the Python-worker metrics of the Arrow kernel
  nodes and the BroadcastExchange sizes and times.

SQL metric values are only available pre-formatted ("1.2 s",
"130.1 KiB", "4,990"); :func:`parse_metric` turns them back into seconds,
bytes or counts at the precision Spark prints.
"""

from __future__ import annotations

import re
from collections import defaultdict

# SQL metric name -> layer metric it adds into
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
BROADCAST_SQL_METRICS = {
    "data size": "driver.broadcast_bytes",
    "time to collect": "driver.broadcast_s",
    "time to build": "driver.broadcast_s",
    "time to broadcast": "driver.broadcast_s",
}

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_ENTRY = re.compile(r"(?:^|, )(\d+) -> ")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> seconds, bytes or a plain count.
    Multi-task metrics print ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value of the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def parse_scala_map(text: str) -> dict[int, str]:
    """``Map(1 -> a, 2 -> b)`` (the toString of the accumulator-id -> value
    map the SQL store returns) -> ``{1: "a", 2: "b"}``. One py4j round
    trip instead of two per entry."""
    body = text[text.index("(") + 1 : -1]
    keys = list(_ENTRY.finditer(body))
    out = {}
    for i, k in enumerate(keys):
        end = keys[i + 1].start() if i + 1 < len(keys) else len(body)
        out[int(k.group(1))] = body[k.end() : end]
    return out


class StatusReader:
    """Incremental reader of one SparkContext's status stores."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = -1
        self._next_exec = 0
        self.mark()

    def mark(self) -> None:
        """Forget everything that ran so far; the next collect() starts here."""
        self._drain()
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        for i in range(jobs.size()):
            self._last_job = max(self._last_job, jobs.apply(i).jobId())
        execs = self._sql.executionsList()
        if execs.size():
            self._next_exec = max(
                self._next_exec, execs.apply(execs.size() - 1).executionId() + 1
            )

    def _drain(self) -> None:
        # job-end and SQL-metric events arrive through the asynchronous
        # listener bus: wait until every event posted so far is applied
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def collect(self) -> tuple[dict[str, dict[str, float]], list[str]]:
        """Counters per job-group tag since the last call, plus the job
        groups of jobs that ran outside any tag (they escape attribution)."""
        self._drain()
        per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        untagged: list[str] = []
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        newest = self._last_job
        seen_stages: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                continue
            newest = max(newest, jid)
            group = job.jobGroup()
            tag = group.get() if group.isDefined() else None
            if tag is None:
                untagged.append(str(job.name()))
                continue
            c = per[tag]
            c["scheduler.jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                _add_stage(c, self._store.lastStageAttempt(sid))
        self._last_job = newest
        self._collect_sql(per)
        return per, untagged

    def _collect_sql(self, per) -> None:
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                return
            ex = opt.get()
            eid = self._next_exec
            self._next_exec += 1
            tag = str(ex.description())
            if tag not in per:
                continue
            names = {
                int(acc): name for name, acc, _ in _METRIC.findall(ex.metrics().toString())
            }
            wanted = {a for a, n in names.items() if n in PYTHON_SQL_METRICS}
            has_broadcast = any(n == "time to broadcast" for n in names.values())
            if not wanted and not has_broadcast:
                continue
            values = parse_scala_map(self._sql.executionMetrics(eid).toString())
            c = per[tag]
            for acc in wanted:
                if acc in values:
                    c[PYTHON_SQL_METRICS[names[acc]]] += parse_metric(values[acc])
            if has_broadcast:
                for acc in self._broadcast_accumulators(eid):
                    if acc in values and acc in names:
                        c[BROADCAST_SQL_METRICS[names[acc]]] += parse_metric(values[acc])

    def _broadcast_accumulators(self, eid: int) -> list[int]:
        nodes = self._sql.planGraph(eid).allNodes()
        accs = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not node.name().startswith("BroadcastExchange"):
                continue
            for name, acc, _ in _METRIC.findall(node.metrics().toString()):
                if name in BROADCAST_SQL_METRICS:
                    accs.append(int(acc))
        return accs


def cached_bytes(spark) -> float:
    """Memory + disk bytes of every persisted RDD right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(info.memSize() + info.diskSize() for info in infos))


def _add_stage(c: dict[str, float], st) -> None:
    if str(st.status()) == "SKIPPED":
        c["scheduler.skipped_stages"] += 1
        return
    c["scheduler.stages"] += 1
    c["scheduler.tasks"] += st.numTasks()
    c["scheduler.failed_tasks"] += st.numFailedTasks()
    c["executor.run_s"] += st.executorRunTime() / 1e3
    c["executor.cpu_s"] += st.executorCpuTime() / 1e9
    c["executor.gc_s"] += st.jvmGcTime() / 1e3
    c["shuffle.write_bytes"] += st.shuffleWriteBytes()
    c["shuffle.read_bytes"] += st.shuffleReadBytes()
    c["shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
    c["shuffle.spill_bytes"] += st.diskBytesSpilled()
    c["driver.result_bytes"] += st.resultSize()
