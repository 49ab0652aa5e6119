#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed (cached under
``.bench_data/``), starts a fresh worker process that runs the workload
closed-loop with one client on ``local[<cores>]``, samples the worker
process tree's RSS from ``/proc``, checks the outputs, and prints one JSON
object as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` the per-layer metrics of a traced run. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

DRIVER_MEM = "2g"
TPCH_QUERIES = ("q1_pricing_summary", "q6_forecast_revenue",
                "q3_shipping_priority", "q5_local_supplier_volume",
                "q18_large_orders", "revenue_by_nation",
                "top_orders_per_customer")
CURATION_QUERIES = ("curation_funnel", "minhash_lsh_dedup", "exact_dedup",
                    "tfidf_top_terms", "bm25_topk_docs", "ann_topk_blas")
# Tables each registry query reads (its load_table calls); input rows of a
# pass are the rows of these tables summed over the pass's queries.
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q6_forecast_revenue": ("lineitem",),
    "q3_shipping_priority": ("customer", "lineitem", "orders"),
    "q5_local_supplier_volume": ("customer", "lineitem", "nation", "orders",
                                 "region", "supplier"),
    "q18_large_orders": ("customer", "lineitem", "orders"),
    "revenue_by_nation": ("customer", "lineitem", "nation", "orders",
                          "region"),
    "top_orders_per_customer": ("orders",),
    "curation_funnel": ("documents",),
    "minhash_lsh_dedup": ("documents",),
    "exact_dedup": ("documents",),
    "tfidf_top_terms": ("documents",),
    "bm25_topk_docs": ("documents",),
    "ann_topk_blas": ("embeddings",),
}
# A worker not done ``deadline_s`` after the inputs are ready is killed and
# the run fails. ``tpch`` is measured by hand only; at 10x its traced run
# needs more than the 180 s a benchmark run may take.
WORKLOADS = {
    "wordline": {"kind": "cli", "size": {"files": 24, "lines": 20_000},
                 "deadline_s": 170,
                 "reducers": 10, "queries": ["cli.main"]},
    "curation": {"kind": "registry", "size": {"n_docs": 1_000, "n_vecs": 400},
                 "deadline_s": 170,
                 "queries": list(CURATION_QUERIES),
                 "tables": list(gen.CURATION_TABLES),
                 "text_table": "documents", "text_column": "text"},
    "tpch": {"kind": "registry", "size": {"replicas": 10}, "deadline_s": 600,
             "queries": list(TPCH_QUERIES), "tables": list(gen.TPCH_TABLES),
             "text_table": "part", "text_column": "p_name"},
}


def session_procs(sid: int) -> dict[int, int]:
    """pid -> resident bytes of every live process in session ``sid``."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is stat field 3 (state): session is field 6, rss 24.
        if int(fields[3]) == sid and fields[0] != "Z":
            out[int(pid)] = int(fields[21]) * page
    return out


def stop_session(sid: int) -> None:
    """Kill every process of session ``sid`` and wait until all have ended."""
    while procs := session_procs(sid):
        for pid in procs:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class Child:
    """The worker process, in its own session so that everything it starts
    (driver JVM, Python workers) can be found, measured and stopped.
    ``setup_s`` is the time from spawn to its READY line."""

    def __init__(self, args: list[str], env: dict, log: str, deadline: float):
        self.log = log
        self.peak_rss = 0
        t0 = time.perf_counter()
        with open(log, "w") as err:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), *args],
                stdout=subprocess.PIPE, stderr=err, env=env, cwd=ROOT,
                start_new_session=True, text=True)
        # Past the deadline the whole session is killed, which ends the
        # reads and waits below.
        self._watchdog = threading.Timer(max(deadline - time.monotonic(), 0),
                                         stop_session, (self.proc.pid,))
        self._watchdog.daemon = True
        self._watchdog.start()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()
        line = ""
        for line in self.proc.stdout:  # the JVM shares this pipe
            if line.strip() == "READY":
                break
        self.setup_s = time.perf_counter() - t0
        if line.strip() != "READY":
            self.finish()
            raise RuntimeError(f"worker did not start; see {log}")

    def _sample(self) -> None:
        while self.proc.poll() is None:
            self.peak_rss = max(self.peak_rss,
                                sum(session_procs(self.proc.pid).values()))
            time.sleep(0.1)

    def finish(self) -> int:
        """Wait for the worker to exit, then stop every process it started
        (the JVM's graceful shutdown takes seconds and measures nothing);
        returns the worker's exit code."""
        rc = self.proc.wait()
        stop_session(self.proc.pid)
        self.proc.stdout.close()
        self._watchdog.cancel()
        self._sampler.join()
        return rc


def input_rows(wl: dict, meta: dict) -> int:
    if wl["kind"] == "cli":
        return meta["lines"]
    return sum(meta["rows"][t] for q in wl["queries"] for t in QUERY_TABLES[q])


def end_to_end(res: dict, setup_s: float, rows: int, peak_rss: int) -> dict:
    totals = [sum(p.values()) for p in res["warm"]]
    per_query = {q: statistics.median([p[q] for p in res["warm"]]) for q in res["warm"][0]}
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (res["cold_s"], "s"),
        "rows_per_s": (rows / statistics.median(totals), "rows/s"),
        "query_s_geomean": (stats.geomean(per_query.values()), "s"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
    }


def per_layer(res: dict, cores: int) -> dict:
    passes = res["traced"]
    med = lambda key: statistics.median([p[key] for p in passes])
    out = {k: med(k) for k in passes[0] if k not in ("stages", "query_s")}
    units = {k: ("s" if k.endswith("_s") else "MB" if k.endswith("_mb")
                 else "count") for k in out}
    out["engine.core_util"] = statistics.median(
        [stats.core_util(p["engine.task_s"], p["engine.exec_s"], cores) for p in passes])
    out["engine.task_skew"] = statistics.median(
        [max(stats.task_skew(q) for q in p["stages"]) for p in passes])
    out["operators.build_share"] = statistics.median(
        [p["operators.build_s"] / p["query_s"] for p in passes])
    units.update({"engine.core_util": "ratio", "engine.task_skew": "ratio",
                  "operators.build_share": "ratio"})
    probes = res["probes"]
    out["sources.scan_s"] = probes["sources.scan_s"]
    out["sources.scan_tasks"] = statistics.median(probes["scan_tasks"]) / cores
    out["functions.normalize_s"] = probes["functions.normalize_s"]
    units.update({"sources.scan_s": "s", "sources.scan_tasks": "ratio",
                  "functions.normalize_s": "s"})
    starts = [s for s in res["spans"] if s["name"] == "session.get_spark"]
    out["session.start_s"] = starts[0]["end"] - starts[0]["start"]
    untraced = statistics.median([sum(p.values()) for p in res["warm"]])
    out["trace.overhead_s"] = med("query_s") - untraced
    units.update({"session.start_s": "s", "trace.overhead_s": "s"})
    return {k: (v, units[k]) for k, v in sorted(out.items())}


def span_summary(spans: list[dict]) -> dict:
    """Total and self seconds per span name over the whole traced run."""
    self_t = stats.self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        agg["n"] += 1
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += self_t[s["id"]]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("mapreduce_in_pthreads_spark/__init__.py", "tests/oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    wl = WORKLOADS[args.workload]
    data_dir, meta = gen.ensure(args.workload, args.seed,
                                os.path.join(ROOT, ".bench_data"), wl["size"])
    t_start = time.monotonic()
    out = os.path.join(ROOT, ".bench_out", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM, TMPDIR=tmp,
               SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"),
               PYTHONPATH=ROOT)  # Spark's Python workers import the package
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*.
    env["SPARK_SUBMIT_OPTS"] = (env.get("SPARK_SUBMIT_OPTS", "")
                                + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    env["SPARK_LAUNCHER_OPTS"] = (env.get("SPARK_LAUNCHER_OPTS", "")
                                  + " -XX:-UsePerfData").strip()
    cfg = {**wl, "data_dir": data_dir, "seconds": args.seconds,
           "trace": bool(args.trace), "output": os.path.join(out, "output.txt")}
    cfg_path, res_path = os.path.join(out, "config.json"), os.path.join(out, "result.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)

    # SIGTERM unwinds like an interrupt, so the worker's session is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = None
    try:
        child = Child(["--config", cfg_path, "--out", res_path], env,
                      os.path.join(out, "worker.log"), t_start + wl["deadline_s"])
        rc = child.finish()
        if rc != 0 or not os.path.exists(res_path):
            raise RuntimeError(f"worker failed (exit {rc}); see {child.log}")
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        if child is not None:
            stop_session(child.proc.pid)
        # Shuffle and temporary files of the stopped JVM.
        for d in ("spark-local", "tmp"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    with open(res_path) as fh:
        res = json.load(fh)

    if args.trace:
        metrics = per_layer(res, cores)
        with open(os.path.join(out, "trace.json"), "w") as fh:
            json.dump({"spans": res["spans"], "passes": res["traced"],
                       "span_summary": span_summary(res["spans"])}, fh)
    else:
        metrics = end_to_end(res, child.setup_s, input_rows(wl, meta), child.peak_rss)
    warm = [sum(p.values()) for p in res["warm"]]
    q1, q3 = stats.quartiles(warm)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"cores": cores, "mem_mb": _mem_total_mb(),
                 "driver_mem": DRIVER_MEM, **res["versions"]},
        "input": {**meta, "rows_per_pass": input_rows(wl, meta)},
        "warm_pass_s": {"median": statistics.median(warm), "q1": q1, "q3": q3,
                        "n": len(warm)},
        "failed_frac": res["failed"] / res["attempted"],
        "failed_queries": res["failed_queries"],
    }
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


if __name__ == "__main__":
    sys.exit(main())
