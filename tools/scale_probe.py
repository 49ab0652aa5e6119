#!/usr/bin/env python3
"""Measured scale-up probe: does wall-time grow ~linearly sf0.1 → sf1.0?

Every plan in the fleet has been AUDITED for scale (tests/plan_budgets.json:
no cartesians, banded candidate generation, combinable aggs), but audits
predict — they don't measure. This tool produces the first measured
evidence: it synthesizes a 10× dataset from the driver's sf0.1 parquet,
times the most expensive registry queries at both scales with the bench
protocol (noop sink, warm-up, median-of-3, GC between runs), and reports
t(sf1.0)/t(sf0.1) per query. A scale-safe plan on a 32-core host should
come in ≤ ~10× (linear in data) — super-linear outliers are plan bugs.

The synthetic sf1.0 is a PERF dataset, not a correctness input (TESTDATA.md
data stays the only correctness source): each base table is replicated 10×
with key-space striding so entity counts, join fan-outs, and group
cardinalities scale the way a real 10× corpus would:

  * fact/entity keys get ``+ replica * 2^24`` strides (disjoint key ranges,
    FK joins keep exactly their base fan-out per replica);
  * ``region``/``nation`` stay fixed — TPC-H dims are constant-size at any
    SF;
  * ``documents.text`` is SPLICED per replica (first half of doc d + second
    half of doc (d + 37*replica) mod N, n_chars recomputed) so near-dup
    structure is preserved instead of multiplied: verbatim copies would
    give every doc 9 exact twins and quadratic candidate blow-up INSIDE
    LSH buckets — a data artifact, not a plan property;
  * ``events`` keeps its time range (10× events/hour = densified stream,
    which is what a bigger deployment looks like) with strided event/user
    ids; ``embeddings`` stride vec_id and keep vectors (ANN cost is
    row-count-driven, not value-driven).

Usage:
    python tools/scale_probe.py synth  [--out /tmp/sfprobe/sf1.0]
    python tools/scale_probe.py rank   [--top 15]       # 1 timed pass, all registry
    python tools/scale_probe.py probe NAME [NAME ...] [--dir /tmp/sfprobe/sf1.0]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/sfprobe/sf1.0"
REPLICAS = 10
STRIDE = 1 << 24  # disjoint key ranges per replica; far above any base key


def synth(out: str) -> None:
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    rep = f"range({REPLICAS}) AS rep(i)"

    def copy(sql: str, table: str) -> None:
        path = os.path.join(out, f"{table}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        print(f"  {table}: {n:,} rows")

    t = {n: f"'{BASE}/{n}.parquet'" for n in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")}

    # constant-size dims: verbatim
    copy(f"SELECT * FROM {t['region']}", "region")
    copy(f"SELECT * FROM {t['nation']}", "nation")

    copy(f"""SELECT c_custkey + rep.i * {STRIDE} AS c_custkey, c_name,
                    c_nationkey, c_acctbal, c_mktsegment
             FROM {t['customer']}, {rep}""", "customer")
    copy(f"""SELECT s_suppkey + rep.i * {STRIDE} AS s_suppkey, s_name,
                    s_nationkey, s_acctbal
             FROM {t['supplier']}, {rep}""", "supplier")
    copy(f"""SELECT p_partkey + rep.i * {STRIDE} AS p_partkey, p_name,
                    p_brand, p_type, p_size, p_retailprice
             FROM {t['part']}, {rep}""", "part")
    copy(f"""SELECT o_orderkey + rep.i * {STRIDE} AS o_orderkey,
                    o_custkey + rep.i * {STRIDE} AS o_custkey,
                    o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
             FROM {t['orders']}, {rep}""", "orders")
    copy(f"""SELECT l_orderkey + rep.i * {STRIDE} AS l_orderkey,
                    l_partkey + rep.i * {STRIDE} AS l_partkey,
                    l_suppkey + rep.i * {STRIDE} AS l_suppkey,
                    l_linenumber, l_quantity, l_extendedprice, l_discount,
                    l_tax, l_returnflag, l_linestatus, l_shipdate
             FROM {t['lineitem']}, {rep}""", "lineitem")
    copy(f"""SELECT event_id + rep.i * {STRIDE} AS event_id, ts,
                    user_id + rep.i * {STRIDE} AS user_id,
                    event_type, value, props
             FROM {t['events']}, {rep}""", "events")

    n_docs, min_id, max_id = con.execute(
        f"SELECT count(*), min(doc_id), max(doc_id) "
        f"FROM {t['documents']}").fetchone()
    # The splice partner join below computes (doc_id + 37i) % n_docs and
    # INNER-joins it back to doc_id — it silently drops rows unless
    # doc_id is exactly the contiguous range 0..n_docs-1 (r9 ADVICE).
    assert (min_id, max_id) == (0, n_docs - 1), (
        f"documents.doc_id must be contiguous 0..n-1 for the splice "
        f"(got min={min_id}, max={max_id}, n={n_docs})")
    copy(f"""
        WITH spliced AS (
            SELECT a.doc_id + rep.i * {STRIDE} AS doc_id,
                   CASE WHEN rep.i = 0 THEN a.text
                        ELSE substr(a.text, 1, CAST(a.n_chars // 2 AS INT))
                             || substr(b.text,
                                       CAST(b.n_chars // 2 AS INT) + 1)
                   END AS text,
                   a.lang, a.source
            FROM {t['documents']} a
            CROSS JOIN {rep}
            JOIN {t['documents']} b
              ON b.doc_id = (a.doc_id + 37 * rep.i) % {n_docs}
        )
        SELECT doc_id, text, lang, source,
               length(text) AS n_chars
        FROM spliced""", "documents")
    copy(f"""SELECT vec_id + rep.i * {STRIDE} AS vec_id, embedding, label
             FROM {t['embeddings']}, {rep}""", "embeddings")
    print(f"synth done → {out}")


def _bench_session():
    from mapreduce_in_pthreads_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _time_query(spark, fn, sf_dir: str, reps: int = 3) -> float:
    """bench.py protocol: noop sink, JVM GC before each rep, median."""
    gc = spark.sparkContext._jvm.java.lang.System.gc
    runs = []
    for _ in range(reps):
        gc()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[len(runs) // 2]


def rank(top: int) -> None:
    from mapreduce_in_pthreads_spark.plans.registry import REGISTRY

    spark = _bench_session()
    # Warm the JVM/codegen/IO stack before the timed sweep (bench.py's
    # warm-up discipline) — otherwise the first entries absorb session
    # startup and the "slowest N" ranking is biased (r9 ADVICE).
    warm = next(iter(REGISTRY.values()))
    warm.fn(spark, BASE).write.mode("overwrite").format("noop").save()
    times: dict[str, float] = {}
    for name, q in REGISTRY.items():
        try:
            t0 = time.perf_counter()
            q.fn(spark, BASE).write.mode("overwrite").format("noop").save()
            times[name] = time.perf_counter() - t0
        except Exception as exc:  # rank is best-effort; report and move on
            print(f"  SKIP {name}: {type(exc).__name__}: {exc}")
    worst = sorted(times.items(), key=lambda kv: -kv[1])[:top]
    print(f"\nslowest {top} of {len(times)} @ {BASE} (single pass):")
    for name, sec in worst:
        print(f"  {sec:7.3f}s  {name}")
    print(json.dumps([n for n, _ in worst]))


def probe(names: list[str], big_dir: str) -> None:
    from mapreduce_in_pthreads_spark.plans.registry import REGISTRY

    spark = _bench_session()
    rows = []
    for name in names:
        fn = REGISTRY[name].fn
        fn(spark, BASE).write.mode("overwrite").format("noop").save()  # warm
        t_small = _time_query(spark, fn, BASE)
        if t_small < 5.0:
            fn(spark, big_dir).write.mode("overwrite").format("noop").save()
            t_big = _time_query(spark, fn, big_dir)
        else:
            # long enough that fixed overheads are noise: one timed run
            # (the plan's codegen is already warm from the sf0.1 passes)
            t_big = _time_query(spark, fn, big_dir, reps=1)
        rows.append((name, t_small, t_big, t_big / t_small))
        print(f"  {name}: sf0.1 {t_small:.3f}s  sf1.0 {t_big:.3f}s  "
              f"ratio {t_big / t_small:.2f}x", flush=True)
    print("\n| query | t(sf0.1) s | t(sf1.0) s | ratio |")
    print("| --- | --- | --- | --- |")
    for name, a, b, r in rows:
        print(f"| `{name}` | {a:.3f} | {b:.3f} | {r:.2f}x |")
    print(json.dumps({n: {"sf0.1": round(a, 4), "sf1.0": round(b, 4),
                          "ratio": round(r, 2)} for n, a, b, r in rows}))


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("synth")
    s.add_argument("--out", default=OUT)
    r = sub.add_parser("rank")
    r.add_argument("--top", type=int, default=15)
    p = sub.add_parser("probe")
    p.add_argument("names", nargs="+")
    p.add_argument("--dir", default=OUT)
    args = ap.parse_args()
    if args.cmd == "synth":
        synth(args.out)
    elif args.cmd == "rank":
        rank(args.top)
    else:
        probe(args.names, args.dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
