"""One benchmark process: start a session, run the workload's passes and
write what it measured as JSON. Started by ``run.py``; not a user entry
point.

    worker.py --config CONFIG.json --out RESULT.json

Prints ``READY`` on stdout once ``get_spark()`` has returned and one
trivial job has finished; ``run.py`` times set-up up to that line.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import hashlib
import itertools
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from mapreduce_in_pthreads_spark import cli, session  # noqa: E402
from mapreduce_in_pthreads_spark.functions import normalize  # noqa: E402
from mapreduce_in_pthreads_spark.plans.registry import REGISTRY  # noqa: E402
from mapreduce_in_pthreads_spark.sources import tables, text  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import spec  # noqa: E402
import stats  # noqa: E402
from tracing import SparkStats, Tracer  # noqa: E402


MIN_PASSES = 3  # measured passes per run, however long they take


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Workload:
    """Runs one workload's passes in a started session."""

    def __init__(self, spark, cfg: dict, tracer: Tracer):
        self.spark = spark
        self.cfg = cfg
        self.data = cfg["data_dir"]
        self.tracer = tracer
        self.gc = spark.sparkContext._jvm.java.lang.System.gc
        self.failed: dict[str, str] = {}   # query -> first failure seen
        self.attempted: dict[str, int] = {}

    def run_pass(self, first: bool) -> dict[str, float]:
        """One timed pass; returns per-query wall seconds. The first pass
        drains results to the driver (checked afterwards), later passes
        use the noop sink."""
        times = {}
        for name in self.cfg["queries"]:
            self.gc()
            self.attempted[name] = self.attempted.get(name, 0) + 1
            t0 = time.perf_counter()
            try:
                self.run_query(name, first)
            except Exception as exc:  # a failed query is counted, not fatal
                self.failed.setdefault(name, f"{type(exc).__name__}: {exc}")
                traceback.print_exc()
            times[name] = time.perf_counter() - t0
        return times


class RegistryWorkload(Workload):
    def __init__(self, *a):
        super().__init__(*a)
        self.results: dict[str, tuple] = {}

    def run_query(self, name: str, first: bool) -> None:
        df = REGISTRY[name].fn(self.spark, self.data)
        if first:
            self.results[name] = (df.columns, df.collect())
        else:
            noop(df)

    def check(self) -> None:
        from tests.oracle import compare  # not billed to set-up (imports DuckDB)

        con = spec.duck_views(self.data, self.cfg["tables"])
        for name, (cols, rows) in self.results.items():
            rel = con.sql(REGISTRY[name].oracle)
            try:
                compare(spec.Collected(cols, rows), rel.fetchall(), list(rel.columns))
            except AssertionError as exc:
                self.failed.setdefault(name, f"oracle mismatch: {exc}")

    def traced_pass(self, st: SparkStats, tag: str) -> dict:
        tr = self.tracer
        layer = _empty_layer()
        for name in self.cfg["queries"]:
            self.gc()
            tr.qid = qid = f"{name}#{tag}"
            with tr.span("query"):
                st.set_group(qid + ":build")
                with tr.span("operators.build"):
                    df = REGISTRY[name].fn(self.spark, self.data)
                st.set_group(qid + ":plan")
                with tr.span("engine.plan"):
                    df._jdf.queryExecution().executedPlan()
                st.set_group(qid + ":exec")
                mark = st.execution_mark()
                with tr.span("engine.exec"):
                    noop(df)
            facts = st.plan_facts(mark)
            # Drain twin: collect() the same plan; the drain layer is the
            # part of it spent outside the Spark jobs that compute the rows.
            st.set_group(qid + ":drain")
            with tr.span("cli.drain") as dr:
                rows = df.collect()
            st.set_group(None)
            _add_query(layer, st, tr, qid, facts, "query")
            layer["cli.drain_s"] += (dr["end"] - dr["start"]) - st.jobs_wall_s(
                st.job_ids(qid + ":drain"))
            layer["cli.output_mb"] += sum(len(str(tuple(r))) + 1 for r in rows) / 1e6
        return layer

    def probes(self, st: SparkStats) -> dict:
        out = {"sources.scan_s": 0.0, "scan_tasks": [], "functions.normalize_s": 0.0}
        for t in self.cfg["tables"]:
            s, tasks = _probe(st, lambda: tables.load_table(self.spark, self.data, t))
            out["sources.scan_s"] += s
            out["scan_tasks"].append(tasks)
        words = lambda: tables.load_table(self.spark, self.data, self.cfg["text_table"]).select(
            F.explode(F.split(self.cfg["text_column"], " ")).alias("w"))
        base, _ = _probe(st, words)
        norm, _ = _probe(st, lambda: words().select(normalize.normalize_word("w")))
        out["functions.normalize_s"] = norm - base
        return out


class CliWorkload(Workload):
    def argv(self) -> list[str]:
        return ["--testfiles", self.data, "-p", str(self.cfg["size"]["files"]),
                "-c", str(self.cfg["reducers"])]

    def run_query(self, name: str, first: bool) -> None:
        out = self.cfg["output"]
        with open(out, "w") as fh, contextlib.redirect_stdout(fh):
            rc = cli.main(self.argv())
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        digest = _sha256(out)
        if first:
            self.cold_digest = digest
        elif digest != self.cold_digest:
            raise RuntimeError("output differs from the first pass")

    def paths(self) -> list[str]:
        return [os.path.join(self.data, f"file{i}.txt")
                for i in range(1, self.cfg["size"]["files"] + 1)]

    def check(self) -> None:
        got = spec.parse_index_output(self.cfg["output"])
        diffs = spec.index_diff(got, spec.spec_index(self.paths()))
        if diffs:
            self.failed.setdefault("cli.main", f"spec mismatch: {diffs}")

    def traced_pass(self, st: SparkStats, tag: str) -> dict:
        tr = self.tracer
        layer = _empty_layer()
        self.gc()
        tr.qid = qid = f"cli.main#{tag}"
        st.set_group(qid + ":cli")
        with tr.span("cli.main") as root:
            self.run_query("cli.main", False)
        # Twin: build_index into the noop sink, split into build/plan/exec.
        self.gc()
        tr.qid = twin = qid + "~twin"
        conf = self.spark.conf
        prev = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(self.cfg["reducers"]))
        try:
            with tr.span("query"):
                st.set_group(twin + ":build")
                df = cli.build_index(self.spark, self.paths())  # traced as operators.build
                st.set_group(twin + ":plan")
                with tr.span("engine.plan"):
                    df._jdf.queryExecution().executedPlan()
                st.set_group(twin + ":exec")
                mark = st.execution_mark()
                with tr.span("engine.exec"):
                    noop(df)
            facts = st.plan_facts(mark)
        finally:
            conf.set("spark.sql.shuffle.partitions", prev)
            st.set_group(None)
        _add_query(layer, st, tr, twin, facts, None)
        main_s = root["end"] - root["start"]
        layer["query_s"] = main_s
        layer["cli.drain_s"] = main_s - sum(
            s["end"] - s["start"] for s in tr.spans
            if s["qid"] == twin and s["name"] in ("operators.build", "engine.exec"))
        layer["cli.output_mb"] = os.path.getsize(self.cfg["output"]) / 1e6
        return layer

    def probes(self, st: SparkStats) -> dict:
        corpus = lambda: text.read_word_per_line(self.spark, self.paths())
        scan, tasks = _probe(st, corpus)
        norm, _ = _probe(st, lambda: corpus().select(normalize.normalize_word("raw_line")))
        base, _ = _probe(st, lambda: corpus().select("raw_line"))
        return {"sources.scan_s": scan, "scan_tasks": [tasks],
                "functions.normalize_s": norm - base}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _empty_layer() -> dict:
    """Per-pass accumulators: metric name -> total, plus each query's stages."""
    layer = collections.defaultdict(float)
    layer["stages"] = []
    return layer


def _add_query(layer: dict, st: SparkStats, tracer: Tracer, qid: str,
               facts: dict, root: str | None) -> None:
    """Fold one traced query's spans, jobs, stages and the plan facts of its
    timed execution into the pass totals. ``root`` names the span that
    times what an untraced pass times, so ``query_s`` compares with it."""
    spans = [s for s in tracer.spans if s["qid"] == qid]
    self_t = stats.self_times(spans)
    for s in spans:
        if s["name"] == "operators.build":
            layer["operators.build_s"] += self_t[s["id"]]
        elif s["name"] in ("engine.plan", "engine.exec"):
            layer[s["name"] + "_s"] += s["end"] - s["start"]
        elif s["name"] == root and s["parent"] is None:
            layer["query_s"] += s["end"] - s["start"]
    build = st.stages(st.job_ids(qid + ":build"))
    layer["operators.build_jobs"] += len(st.job_ids(qid + ":build"))
    layer["operators.build_task_s"] += sum(x["task_s"] for x in build)
    ex = st.stages(st.job_ids(qid + ":exec"))
    layer["engine.jobs"] += len(st.job_ids(qid + ":exec"))
    layer["engine.stages"] += len(ex)
    layer["engine.tasks"] += sum(x["tasks"] for x in ex)
    layer["engine.task_s"] += sum(x["task_s"] for x in ex)
    layer["engine.cpu_s"] += sum(x["cpu_s"] for x in ex)
    layer["engine.gc_s"] += sum(x["gc_s"] for x in ex)
    layer["engine.shuffle_write_mb"] += sum(x["shuffle_write_b"] for x in ex) / 1e6
    layer["engine.shuffle_read_mb"] += sum(x["shuffle_read_b"] for x in ex) / 1e6
    layer["engine.spill_mb"] += sum(x["spill_b"] for x in ex) / 1e6
    layer["stages"].append(ex)
    for k in ("broadcast_joins", "shuffle_joins", "reused_exchanges"):
        layer["engine." + k] += facts[k]
    layer["engine.python_mb"] += facts["python_bytes"] / 1e6
    layer["sources.files_mb"] += facts["scan_bytes"] / 1e6
    layer["sources.rows"] += facts["scan_rows"]


def _traced(wl: Workload, st: SparkStats, tracer: Tracer, n: int) -> dict:
    tracer.install()
    try:
        return wl.traced_pass(st, str(n))
    finally:
        tracer.uninstall()


_PROBES = itertools.count()
PROBE_REPS = 3


def _probe(st: SparkStats, make_df) -> tuple[float, int]:
    """Median noop time of ``make_df()`` over ``PROBE_REPS`` runs and its
    task count."""
    times, tasks = [], 0
    for _ in range(PROBE_REPS):
        group = f"probe#{next(_PROBES)}"
        st.set_group(group)
        t0 = time.perf_counter()
        noop(make_df())
        times.append(time.perf_counter() - t0)
        st.set_group(None)
        tasks = sum(x["tasks"] for x in st.stages(st.job_ids(group)))
    return statistics.median(times), tasks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(args.config) as fh:
        cfg = json.load(fh)

    tracer = Tracer()
    if cfg["trace"]:
        tracer.install()
    spark = session.get_spark("perfbench")
    spark.sparkContext.parallelize([0], 1).count()
    print("READY", flush=True)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.uninstall()
    kind = CliWorkload if cfg["kind"] == "cli" else RegistryWorkload
    wl = kind(spark, cfg, tracer)

    t0 = time.perf_counter()
    cold = wl.run_pass(first=True)
    cold_s = time.perf_counter() - t0
    wl.check()

    # At least MIN_PASSES measured passes (traced ones included), so the
    # medians over them absorb the JIT warm-up that still slows the first
    # pass after the cold one.
    warm, traced = [], []
    deadline = time.perf_counter() + cfg["seconds"]
    st = SparkStats(spark) if cfg["trace"] else None
    while True:
        # Traced mode pairs each untraced pass with a traced one, in
        # alternating order so warm-up drift does not bias the overhead.
        if st is not None and len(traced) % 2:
            traced.append(_traced(wl, st, tracer, len(traced)))
        warm.append(wl.run_pass(first=False))
        if st is not None and len(traced) < len(warm):
            traced.append(_traced(wl, st, tracer, len(traced)))
        if (len(warm) + len(traced) >= MIN_PASSES
                and time.perf_counter() >= deadline):
            break

    import pyspark

    result = {
        "versions": {
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0]},
        "cold_s": cold_s, "cold": cold, "warm": warm,
        "attempted": sum(wl.attempted.values()),
        "failed_queries": wl.failed,
        "failed": sum(wl.attempted[q] for q in wl.failed),
    }
    if st is not None:
        tracer.install()
        try:
            result["probes"] = wl.probes(st)
        finally:
            tracer.uninstall()
        result["traced"] = traced
        result["spans"] = tracer.spans
    with open(args.out + ".tmp", "w") as fh:
        json.dump(result, fh)
    os.replace(args.out + ".tmp", args.out)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    # Skip interpreter and JVM shutdown work; run.py stops the JVM.
    os._exit(code)
