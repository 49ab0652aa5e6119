"""Outside-in tracing for the benchmark's traced mode.

Nothing in the package changes: ``Tracer.install`` swaps the package's
public functions for timing wrappers in every loaded package module that
holds them (so ``from .session import get_spark`` call sites are covered
too) and ``uninstall`` puts the originals back. Spans stay in memory and
are written out when the run ends.

``SparkStats`` reads what the engine did from Spark's own status stores:
stage/task metrics from the core ``AppStatusStore`` (per job group) and
SQL node metrics plus the final AQE plan graph from the SQL status store.
Both are populated with ``spark.ui.enabled=false``. Scan bytes come from
the SQL ``size of files read`` metric, because stage ``inputBytes`` reads
0 for local parquet scans.
"""

from __future__ import annotations

import contextlib
import functools
import re
import sys
import time

from stats import union_length

PKG = "mapreduce_in_pthreads_spark"

# (module, public function, span name) pairs the tracer wraps.
TARGETS = (
    (f"{PKG}.session", "get_spark", "session.get_spark"),
    (f"{PKG}.sources.tables", "load_table", "sources.load_table"),
    (f"{PKG}.sources.text", "read_word_per_line", "sources.read_word_per_line"),
    (f"{PKG}.functions.normalize", "normalize_word", "functions.normalize_word"),
    (f"{PKG}.cli", "build_index", "operators.build"),
)

BROADCAST_JOINS = {"BroadcastHashJoin", "BroadcastNestedLoopJoin"}
SHUFFLE_JOINS = {"SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"}
SCAN_METRICS = {"number of output rows": "scan_rows",
                "size of files read": "scan_bytes"}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([KMGT]?i?B)?")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.qid: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "qid": self.qid,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        for modname, attr, span_name in TARGETS:
            orig = getattr(sys.modules[modname], attr)
            wrapped = self.wrap(span_name, orig)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(PKG):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapped)
                        self._patched.append((mod, key, orig))

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()


def parse_metric(text: str) -> float:
    """Numeric value of a formatted SQL metric: the total for per-task
    metrics (``"total (min, med, max ...)\\n12.0 MiB (...)"``), bytes for
    sizes, the plain number for counts."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.search(text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def metric_map(text: str) -> dict[int, str]:
    """Parse the ``toString`` of a Scala ``Map[Long, String]`` of formatted
    SQL metric values (``"Map(12 -> 1,024, 13 -> total (...)\n2.0 MiB")``)
    in one call instead of one JVM round trip per accumulator."""
    body = text[text.index("(") + 1:-1]
    parts = re.split(r"(?:^|, )(\d+) -> ", body)
    return {int(k): v for k, v in zip(parts[1::2], parts[2::2])}


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = self.sc._gateway.new_array(self.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_wall_s(self, job_ids) -> float:
        """Wall seconds during which at least one of these jobs ran (AQE
        runs independent stages as concurrent jobs)."""
        spans = []
        for j in job_ids:
            job = self.store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return union_length(spans)

    def stages(self, job_ids) -> list[dict]:
        """One dict per stage attempt that ran tasks, for these jobs."""
        sids = set()
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        out = []
        for sid in sorted(sids):
            seq = self.store.stageData(sid, False, self.jvm.java.util.ArrayList(),
                                       True, self._quantiles)
            for i in range(seq.size()):
                st = seq.apply(i)
                tasks = st.numCompleteTasks()
                if tasks == 0:
                    continue
                dist = st.taskMetricsDistributions()
                med = mx = 0.0
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, mx = run.apply(0) / 1e3, run.apply(1) / 1e3
                out.append({
                    "stage": sid, "tasks": tasks,
                    "task_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_write_b": st.shuffleWriteBytes(),
                    "shuffle_read_b": st.shuffleReadBytes(),
                    "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "med_task_s": med, "max_task_s": mx,
                })
        return out

    def execution_mark(self) -> tuple[int, int]:
        """(number of SQL executions so far, id of the latest one)."""
        n = self.sql.executionsCount()
        last = self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return n, last

    def plan_facts(self, mark: tuple[int, int]) -> dict:
        """Join strategies, reused exchanges, scan rows/bytes and bytes sent
        to Python workers, read from the final plan graphs of every SQL
        execution started after ``mark``."""
        facts = {"broadcast_joins": 0, "shuffle_joins": 0,
                 "reused_exchanges": 0, "scan_rows": 0.0, "scan_bytes": 0.0,
                 "python_bytes": 0.0}
        count, last = mark
        start = max(0, count - 8)  # slack in case old executions were evicted
        seq = self.sql.executionsList(start, self.sql.executionsCount() - start)
        ids = [seq.apply(i).executionId() for i in range(seq.size())]
        for eid in (e for e in ids if e > last):
            values = metric_map(self.sql.executionMetrics(eid).toString())
            nodes = self.sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                facts["broadcast_joins"] += name in BROADCAST_JOINS
                facts["shuffle_joins"] += name in SHUFFLE_JOINS
                facts["reused_exchanges"] += name == "ReusedExchange"
                for mname, acc, _ in _PLAN_METRIC.findall(node.metrics().toString()):
                    if name.startswith("Scan") and mname in SCAN_METRICS:
                        key = SCAN_METRICS[mname]
                    elif mname == "data sent to Python workers":
                        key = "python_bytes"
                    else:
                        continue
                    if int(acc) in values:
                        facts[key] += parse_metric(values[int(acc)])
        return facts
