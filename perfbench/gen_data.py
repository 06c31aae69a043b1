"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the program's queries read (`region` ... `embeddings`,
the layout `graft.Tables` loads) as single-file parquet, with the schemas and
value distributions of the TPC-H-like fixtures the program was built on:
uniform keys, two-decimal money, `events` in timestamp order over January
2024, documents drawn from a small vocabulary with a few exact duplicates,
unit-norm 64-d float32 embeddings.

Row counts follow the scale factor (sf0.1: 100k events, 600k lineitem).
The data seed is fixed per scale factor; the workload seed never changes the
tables, only the order in which the benchmark offers work.

    python3 perfbench/gen_data.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def sizes(sf):
    n = lambda base: max(1, int(round(base * sf)))
    return dict(customer=n(150_000), supplier=n(10_000), part=n(200_000),
                orders=n(1_500_000), lineitem=n(6_000_000), events=n(1_000_000),
                documents=max(500, n(50_000)), embeddings=max(500, n(20_000)))


def money(rng, lo, hi, k):
    return np.round(rng.uniform(lo, hi, k), 2)


def day_ts(rng, start, end, k):
    """Midnight timestamps, uniform over [start, end] (days)."""
    s, e = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, int((e - s).astype(int)) + 1, k)
    return (s + days).astype("datetime64[us]")


def tables(sf):
    rng = np.random.default_rng([DATA_SEED, int(round(sf * 1e6))])
    z = sizes(sf)
    i64 = lambda k: np.arange(k, dtype=np.int64)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    k = z["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(k),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, k),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, k)]})
    k = z["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(k),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, k)})
    k = z["part"]
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": i64(k),
        "p_name": names[rng.integers(0, len(names), k)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": PART_TYPES[rng.integers(0, 6, k)],
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1)})
    k = z["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(k),
        "o_custkey": rng.integers(0, z["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, k)],
        "o_totalprice": money(rng, 1000.0, 500000.0, k),
        "o_orderdate": day_ts(rng, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, k)]})
    k = z["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, z["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, z["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, z["supplier"], k).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, k)],
        "l_shipdate": day_ts(rng, "1995-01-02", "2001-11-04", k)})
    k = z["events"]
    span_us = 30 * 86_400_000_000
    offs = np.sort(rng.integers(0, span_us, k))
    out["events"] = pa.table({
        "event_id": i64(k),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, z["customer"] // 10), k).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    k = z["documents"]
    n_words = rng.integers(8, 105, k)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), w)]) for w in n_words]
    # a handful of exact re-posts, as real crawls have
    for dst in rng.choice(k, size=max(1, k // 600), replace=False):
        texts[dst] = texts[int(rng.integers(0, k))]
    out["documents"] = pa.table({
        "doc_id": i64(k), "text": texts,
        "lang": LANGS[rng.choice(5, size=k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    k = z["embeddings"]
    m = rng.standard_normal((k, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(k),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k).astype(np.int32))})
    return out


def write(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        # one row group per table, like the fixtures the program was tuned on
        pq.write_table(tbl, tmp, row_group_size=max(1, tbl.num_rows))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
