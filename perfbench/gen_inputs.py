"""Seeded input generator for the benchmark.

Writes the engine's ten input tables (TPC-H-like star schema plus the
`events`, `documents` and `embeddings` tables) as one parquet file each.
Schemas match the engine's test tables exactly, `events.ts` included
(TIMESTAMP(MICROS), not adjusted to UTC). Value distributions follow the
same recipe; the seed decides every value, the row order and the row-group
size, so one seed always gives byte-identical tables.

    python3 perfbench/gen_inputs.py <out_dir> <seed> [scale]

`scale` is the TPC-H scale factor (default 0.01: 60,000 lineitem rows).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.14, 0.15, 0.15, 0.16]

I32, I64, F64, STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us")


def _cents(rng, lo, hi, n):
    """Uniform money values with two decimals in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days + 1, n)).astype("datetime64[us]")


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * scale))
    n_supp = max(1, round(10_000 * scale))
    n_part = max(1, round(200_000 * scale))
    n_ord = max(1, round(1_500_000 * scale))
    n_line = max(1, round(6_000_000 * scale))
    n_ev = max(1, round(1_000_000 * scale))
    n_users = max(1, round(15_000 * scale))
    n_docs = max(500, round(50_000 * scale))
    n_emb = max(500, round(20_000 * scale))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), I32),
        "r_name": pa.array(REGIONS, STR)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), I32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], STR),
        "n_regionkey": pa.array([i % 5 for i in range(25)], I32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), I64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], STR),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), I32),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust), F64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), STR)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), I64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], STR),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), I32),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp), F64)})
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), I64),
        "p_name": pa.array(rng.choice(names, n_part), STR),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], STR),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), STR),
        "p_size": pa.array(rng.integers(1, 51, n_part), I32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), F64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), I64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), I64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), STR),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord), F64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), TS),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), STR)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), I64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), I64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), I64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), I32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), F64),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_line), F64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, F64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, F64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), STR),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), STR),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line), TS)})

    # events: a 30-day stream, strictly time-ordered by event_id
    gaps_us = np.maximum(1, rng.exponential(26.0, n_ev) * 1e6).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), I64),
        "ts": pa.array(ts, TS),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), I64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), STR),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), F64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], STR)})

    # documents: bag-of-words texts; 5% are an earlier text plus " dup"
    # (near duplicates) and a few are verbatim copies (exact duplicates)
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.002):
        texts[i] = texts[rng.integers(0, n_docs)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), I64),
        "text": pa.array(texts, STR),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), STR),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], STR),
        "n_chars": pa.array([len(t) for t in texts], I64)})

    # embeddings: random unit vectors in 64 dimensions, labels 0-9
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), I64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, I32)})
    return out, rng


def write(out_dir, seed, scale=0.01):
    os.makedirs(out_dir, exist_ok=True)
    tabs, rng = tables(seed, scale)
    for name, t in tabs.items():
        t = t.take(rng.permutation(t.num_rows))
        groups = int(rng.integers(1, 5))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, -(-t.num_rows // groups)))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
