"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table (`<dir>/<name>.parquet`) with the schema of
the engine's fixture tables (FIXTURES.md): the TPC-H-style star schema, the
`events` stream table, and the LLM-pipeline `documents`/`embeddings` tables.
Row counts follow the fixture scale factors (`scale=0.01` gives 60,000
lineitem rows). The same seed and scale always give byte-identical tables.

The corpus is built so the dedup operators have work to do: a share of the
documents are near-duplicates (a few words substituted) or exact duplicates
up to case of an earlier document.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream value hash batch sort data big filter dup fast "
         "spark line small customer group key agg scan slow table part a "
         "merge window order column join vector").split()
COLORS = "blue hot small old red new cold large".split()
THINGS = "bolt gear anvil widget ring rod plate gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01"))
                 .astype(int))


def row_counts(scale):
    """Rows per table at a scale factor (fixture ratios; corpus floor 500)."""
    return {
        "customer": int(150_000 * scale), "supplier": max(10, int(10_000 * scale)),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _ts(days_us):
    return pa.array(EPOCH_1995 + days_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.15:  # near-duplicate of an earlier document
            words = texts[rng.integers(i)].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 10), replace=False):
                words[j] = VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(words))
        elif i > 0 and r < 0.18:  # exact duplicate up to case
            words = texts[rng.integers(i)].split(" ")
            words[0] = words[0].upper()
            texts.append(" ".join(words))
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[k] for k in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64):
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] * 0.5 + rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir, seed, scale):
    """Write every table for (seed, scale) into out_dir; returns row counts."""
    rng = np.random.default_rng(seed)
    c = row_counts(scale)
    os.makedirs(out_dir, exist_ok=True)
    nc, ns, npart, no, nl = (c["customer"], c["supplier"], c["part"],
                             c["orders"], c["lineitem"])
    odays = rng.integers(0, ORDER_DAYS + 1, no)
    lorder = rng.integers(0, no, nl)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array([f"{COLORS[a]} {THINGS[b]}" for a, b in zip(
                rng.integers(0, 8, npart), rng.integers(0, 8, npart))], pa.string()),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)],
                                pa.string()),
            "p_type": _pick(rng, PTYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(odays * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, no)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(lorder, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["O", "F"], nl),
            "l_shipdate": _ts((odays[lorder] + rng.integers(1, 122, nl)) * DAY_US)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(c["events"]), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * DAY_US, c["events"])).astype("timedelta64[us]"),
                pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, c["events"] // 66),
                                             c["events"]), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, c["events"]),
            "value": _money(rng, 0.01, 490.0, c["events"]),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, c["events"])], pa.string())}),
        "documents": _documents(rng, c["documents"]),
        "embeddings": _embeddings(rng, c["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
