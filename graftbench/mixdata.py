"""Seeded generator of the analytics tables `SparkEntry.queries` read:
the TPC-H-ish star plus events, documents and embeddings, one parquet
file per table in the testdata layout (naive microsecond timestamps,
int32/int64 keys), with half the sf0.01 row counts.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()

N_CUST, N_ORD, N_LINE, N_PART, N_SUPP = 750, 7500, 30000, 1000, 100
N_EVENTS, N_DOCS, N_VECS, DIM = 5000, 250, 250, 64


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(),
                    pa.string())


def _cents(rng, lo, hi, n):
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _days(epoch_days):
    return pa.array(np.asarray(epoch_days, dtype="int64") * 86_400_000_000,
                    pa.int64()).cast(pa.timestamp("us"))


def write(out_dir, seed):
    """Writes every table to `out_dir/<table>.parquet`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": pa.array(REGIONS)})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    save("customer", {
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, N_CUST),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUST)})
    save("supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, N_SUPP)})
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), N_PART)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), N_PART)]
    save("part", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": _pick(rng, PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(N_PART) % 1000) / 10.0})
    d0, d1 = 9131, 11535  # 1995-01-01 .. 2001-08-01
    save("orders", {
        "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORD),
        "o_totalprice": _cents(rng, 1000, 500000, N_ORD),
        "o_orderdate": _days(rng.integers(d0, d1 + 1, N_ORD)),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORD)})
    save("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINE).astype("float64"),
        "l_extendedprice": _cents(rng, 900, 105000, N_LINE),
        "l_discount": rng.integers(0, 11, N_LINE) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINE) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINE),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINE),
        "l_shipdate": _days(rng.integers(d0 + 1, d1 + 96, N_LINE))})
    # events ~4.3 minutes apart on average, at micro precision
    t0 = 19723 * 86_400_000_000  # 2024-01-01
    ts = t0 + np.cumsum(1 + rng.integers(0, 2 * 259_200_000, N_EVENTS))
    save("events", {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": _cents(rng, 0.01, 50, N_EVENTS) * np.where(rng.integers(0, 20, N_EVENTS) == 0, 10, 1),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)])})
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.integers(0, 20) == 0:  # ~5% near-duplicates
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), rng.integers(20, 70))]
            texts.append(" ".join(words))
    save("documents", {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.random((10, DIM)) * 2 - 1
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + (rng.random((N_VECS, DIM)) * 2 - 1) * 0.8
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    save("embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
