"""Seeded harness tables for the olap_scan and corpus_dag workloads.

Two steps, both deterministic:

1. ``base_tables(sf)`` generates the TPC-H-ish star schema plus the
   ``events``, ``documents`` and ``embeddings`` tables graft's queries
   read, in the schema and value ranges of the harness scale factors
   (one parquet file per table).  The base content is fixed (generator
   seed 42).
2. ``jittered_copy(base, dst, seed)`` writes a key-jittered copy, as
   ``tools/make_scale.py`` does: the workload seed adds one offset per
   key family, so join structure is kept, and shuffles the row order;
   every file is written in 20k-row groups so scans split.  Vector ids
   are the exception: graft's fixed IVF quantizer and the ANN queries
   take the vectors with ``vec_id < 16`` as centroids and queries and
   read the ids as a dense 0..n-1 range, so ids 0..15 stay on the same
   base vectors and the seed permutes only the ids above them.  The
   centroids and queries, and so the IVF list sizes the ANN work grows
   with, are then the same on every seed, and every workload seed runs
   the same amount of work.

Same seed, same bytes; a different seed changes keys and row order but
not sizes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP = 20_000
BASE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()

# (key column -> key family) per table; one offset per family keeps
# every foreign key pointing at the same jittered primary key
KEY_FAMILIES = {
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
# the seed's offset for a key family is a multiple of its step, below 900 steps
KEY_STEP = {"order": 10**6, "part": 10**5, "supp": 10**4, "cust": 10**4,
            "event": 10**5, "user": 10**3, "doc": 10**3}
# vector ids below this keep their base vector on every seed
PINNED_VEC_IDS = 16
DIMS = ["region", "nation"]
TABLES = DIMS + list(KEY_FAMILIES)


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def base_tables(sf):
    """The base harness tables at scale factor ``sf`` as pyarrow tables."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    gaps = rng.exponential(26.0, n_evt)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.cumsum(gaps * 1e6).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, int(15_000 * sf), n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    t["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return t


def _documents(rng, n):
    """Random texts over a small vocabulary, 5% of them near-duplicates
    (a few words substituted) and a handful exact duplicates of an
    earlier document, so the dedup operators find real clusters."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 30)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     rng.integers(8, 100))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def write_base(dst, sf):
    os.makedirs(dst, exist_ok=True)
    for name, tbl in base_tables(sf).items():
        pq.write_table(tbl, os.path.join(dst, f"{name}.parquet"))


def jittered_copy(base, dst, seed):
    """Write one key-jittered copy of every base table to dst.

    Returns {table: {"rows": n, "bytes": b}} for the files written."""
    rng = np.random.default_rng([seed, 7919])
    seed_off = {f: int(rng.integers(1, 900)) * KEY_STEP[f] for f in KEY_STEP}
    n_vec = pq.read_metadata(os.path.join(base, "embeddings.parquet")).num_rows
    vec_id = np.concatenate([np.arange(PINNED_VEC_IDS),
                             PINNED_VEC_IDS + rng.permutation(n_vec - PINNED_VEC_IDS)])
    os.makedirs(dst, exist_ok=True)
    sizes = {}
    for name in TABLES:
        out = pq.read_table(os.path.join(base, f"{name}.parquet"))
        for col, fam in KEY_FAMILIES.get(name, {}).items():
            keys = out[col].to_numpy()
            keys = vec_id[keys] if fam == "vec" else keys + seed_off[fam]
            out = out.set_column(out.schema.get_field_index(col), col,
                                 pa.array(keys, pa.int64()))
        if name not in DIMS:
            out = out.take(rng.permutation(out.num_rows))
        path = os.path.join(dst, f"{name}.parquet")
        pq.write_table(out, path, row_group_size=ROW_GROUP)
        sizes[name] = {"rows": out.num_rows, "bytes": os.path.getsize(path)}
    return sizes
