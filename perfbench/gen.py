"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical files, so a run is reproducible from its seed alone
and the program under test only ever sees the generated files.

- ``wordline``: word-per-line text files in the reference program's input
  format (CRLF line ends, a UTF-8 BOM line at the top of ``file1.txt``,
  and the edge rows of FIXTURES.md section A1), with Zipf-distributed
  words so one head word dominates one reduce partition.
- ``tpch``: the star schema of the synthetic tables in TESTDATA.md
  with the value distributions observed in its sf0.1 files, replicated
  with seed-chosen key strides the way ``tools/scale_probe.py synth``
  derives a larger corpus (fact/entity keys strided, region/nation fixed).
- ``curation``: ``documents`` (a 31-token vocabulary, exact twins and
  ``" dup"``-suffixed near twins) and ``embeddings`` (64-d unit vectors
  with a weak per-label centroid), with a seed-chosen permutation of ids.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "hot", "large", "red", "small", "green", "cold", "old")
P_NOUN = ("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# Base row counts are those of the sf0.1 tables in TESTDATA.md.
BASE_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000}
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem")
CURATION_TABLES = ("documents", "embeddings")
BOM = b"\xef\xbb\xbf"
WORD_VOCAB = 50_000  # distinct words of the wordline corpus
ZIPF_S = 1.07        # Zipf exponent of its word ranks
EMBED_DIM = 64       # floats per curation embedding
# Per-line decorations of the word-per-line corpus: (probability, kind).
# Each kind exercises one normalization rule of SURVEY.md Appendix A.
DECORATIONS = (
    (0.040, "empty"), (0.005, "blank"), (0.003, "dashes"),
    (0.050, "title"), (0.010, "upper"), (0.030, "punct"),
    (0.005, "apostrophe"), (0.005, "digits"), (0.001, "long"),
)


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, salt))])


def _write(table: pa.Table, path: str, row_group_rows: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_rows,
                   compression="snappy")


# ---------------------------------------------------------------- wordline

def make_vocab(rng: np.random.Generator) -> list[str]:
    """``WORD_VOCAB`` distinct lowercase words, 2-11 letters, in random rank
    order."""
    n = WORD_VOCAB
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        lens = rng.integers(2, 12, size=n)
        codes = rng.choice(letters, size=(n, 11))
        for row, ln in zip(codes, lens):
            w = row[:ln].tobytes().decode()
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def zipf_ranks(rng: np.random.Generator, size: int) -> np.ndarray:
    """Draw ``size`` 0-based ranks below ``WORD_VOCAB`` with P(k)
    proportional to (k+1)^-ZIPF_S."""
    cdf = np.cumsum(np.arange(1, WORD_VOCAB + 1, dtype=np.float64) ** -ZIPF_S)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), WORD_VOCAB - 1)


def _decorate(word: str, kind: str, rng: np.random.Generator) -> str:
    if kind == "empty":
        return ""
    if kind == "blank":
        return "   "
    if kind == "dashes":
        return "---"
    if kind == "title":
        return word.capitalize()
    if kind == "upper":
        return word.upper()
    if kind == "punct":
        return word + ".,;!?"[int(rng.integers(5))]
    if kind == "apostrophe":
        return word + ("'t", "'s", "'ll")[int(rng.integers(3))]
    if kind == "digits":
        return ("3rd", "2000", "1st", "42", "7th")[int(rng.integers(5))]
    # "long": a 60-character line whose leading word is short, so the
    # 49-byte read buffer of the reference never cuts into the word.
    return (word + ", " + "x" * 60)[:60]


def gen_wordline(out: str, seed: int, files: int, lines: int) -> dict:
    rng = _rng(seed, "wordline")
    words = make_vocab(rng)
    probs = np.array([p for p, _ in DECORATIONS])
    kinds = [k for _, k in DECORATIONS]
    cum = np.cumsum(probs)
    total = 0
    for i in range(1, files + 1):
        ranks = zipf_ranks(rng, lines)
        pick = np.searchsorted(cum, rng.random(lines), side="right")
        body = []
        for r, k in zip(ranks.tolist(), pick.tolist()):
            w = words[r]
            body.append(w if k >= len(kinds) else _decorate(w, kinds[k], rng))
        data = "\r\n".join(body).encode("latin-1") + b"\r\n"
        if i == 1:
            data = BOM + b"\r\n" + data
            total += 1
        with open(os.path.join(out, f"file{i}.txt"), "wb") as fh:
            fh.write(data)
        total += lines
    return {"files": files, "lines": total}


# -------------------------------------------------------------------- tpch

def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    a = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - a).astype(int)
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _base_tpch(rng) -> dict[str, dict]:
    n = BASE_ROWS
    ck = np.arange(n["customer"], dtype=np.int64)
    sk = np.arange(n["supplier"], dtype=np.int64)
    pk = np.arange(n["part"], dtype=np.int64)
    ok = np.arange(n["orders"], dtype=np.int64)
    price_off = int(rng.integers(1000))
    return {
        "customer": {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, ck.size).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, ck.size),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, ck.size)],
        },
        "supplier": {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, sk.size).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, sk.size),
        },
        "part": {
            "p_partkey": pk,
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, pk.size), rng.integers(0, 8, pk.size))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, pk.size)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, pk.size)],
            "p_size": rng.integers(1, 51, pk.size).astype(np.int32),
            "p_retailprice": 900.0 + ((pk + price_off) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n["customer"], ok.size),
            "o_orderstatus": np.array(("F", "O", "P"))[
                rng.integers(0, 3, ok.size)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, ok.size),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", ok.size),
            "o_orderpriority": np.array(PRIORITIES)[
                rng.integers(0, 5, ok.size)],
        },
        "lineitem": _base_lineitem(rng, n["lineitem"], n),
    }


def _base_lineitem(rng, m: int, n: dict) -> dict:
    return {
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0, 10, m)) / 100.0,
        "l_tax": np.round(rng.uniform(0, 8, m)) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, m)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    }


STRIDED = {  # table -> key columns that get the per-replica stride
    "customer": ("c_custkey",), "supplier": ("s_suppkey",),
    "part": ("p_partkey",), "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
}


def gen_tpch(out: str, seed: int, replicas: int) -> dict:
    """``replicas`` strided copies of a seeded sf0.1-shaped base."""
    rng = _rng(seed, "tpch")
    base = _base_tpch(rng)
    stride = (1 << 24) + int(rng.integers(0, 1 << 20))
    rows = {}
    small = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    for name, tbl in small.items():
        _write(tbl, os.path.join(out, f"{name}.parquet"), 1 << 20)
        rows[name] = tbl.num_rows
    for name, cols in base.items():
        base_tbl = pa.table(cols)
        parts = []
        for r in range(replicas):
            t = base_tbl
            for c in STRIDED[name]:
                i = t.schema.get_field_index(c)
                t = t.set_column(i, c, pa.array(
                    base_tbl.column(c).to_numpy() + r * stride, pa.int64()))
            parts.append(t)
        tbl = pa.concat_tables(parts)
        # Several row groups per file so a scan splits across all cores.
        _write(tbl, os.path.join(out, f"{name}.parquet"),
               max(1, tbl.num_rows // 16))
        rows[name] = tbl.num_rows
    return {"rows": rows, "stride": stride}


# ---------------------------------------------------------------- curation

def gen_curation(out: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    rng = _rng(seed, "curation")
    vocab = np.array(DOC_VOCAB)
    texts = []
    for ln in rng.integers(10, 101, n_docs):
        texts.append(" ".join(vocab[rng.integers(0, vocab.size, ln)]))
    # 5% near twins (another document plus " dup"), 0.2% exact twins.
    for d in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[d] = texts[int(rng.integers(n_docs))] + " dup"
    for d in rng.choice(n_docs, max(1, n_docs // 500), replace=False):
        texts[d] = texts[int(rng.integers(n_docs))]
    ids = rng.permutation(n_docs).astype(np.int64)
    order = np.argsort(ids)  # row i of the file holds doc_id i
    texts = [texts[i] for i in order]
    doc_ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{d % 20}" for d in doc_ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(docs, os.path.join(out, "documents.parquet"), 1 << 20)

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centroids = rng.normal(0, 1, (10, EMBED_DIM)) * 0.5
    v = rng.normal(0, 1, (n_vecs, EMBED_DIM)) + centroids[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels,
    })
    _write(emb, os.path.join(out, "embeddings.parquet"), 1 << 20)
    return {"rows": {"documents": n_docs, "embeddings": n_vecs}}


# ----------------------------------------------------------------- caching

def ensure(workload: str, seed: int, root: str, size: dict) -> tuple[str, dict]:
    """Generate the inputs of ``(workload, seed, size)`` under ``root``
    unless a finished copy is already cached there. Returns the data
    directory and its metadata (with ``gen_s``, the generation time, and
    ``cached``, whether this call reused an earlier copy)."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(root, f"{workload}-{seed}-{tag}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        return out, {**meta, "cached": True}
    os.makedirs(out, exist_ok=True)
    t0 = time.perf_counter()
    gen = {"wordline": gen_wordline, "tpch": gen_tpch,
           "curation": gen_curation}[workload]
    meta = gen(out, seed, **size)
    meta["gen_s"] = time.perf_counter() - t0
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)  # the marker is written last
    return out, {**meta, "cached": False}
