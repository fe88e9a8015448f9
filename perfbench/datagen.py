"""Seeded input tables for the benchmark.

Writes the engine's star schema (the ten tables `hiero_spark.catalog.TABLES`
names, same column names and parquet types as the engine's test data) into a
directory, plus a list of event batches for the ingest workload.  The same
seed gives byte-identical values; sizes do not depend on the seed, so every
seed measures the same amount of work.

Sizes follow the 0.01 scale factor (60k lineitem rows): the engine's
per-job fixed cost dominates its sketches at this size and a ten times
larger copy did not steady the figures, so the smaller tables buy more
measured ops per run instead.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
INGEST_BATCH_ROWS = 4000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_VOCAB = (
    "a the row col key agg scan slow fast table value part hash merge batch "
    "spark line sort window join small big data column query order group "
    "filter stream vector customer"
).split()

_DAY_US = 86_400_000_000


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _text(rng, n_words: int) -> list[str]:
    return [_VOCAB[i] for i in rng.integers(0, len(_VOCAB), n_words)]


def events_table(rng, n: int, first_id: int, start_us: int) -> pa.Table:
    """Events with strictly increasing ids and non-decreasing timestamps."""
    gaps = rng.integers(1, 5 * 60 * 1_000_000, n)
    ts = start_us + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()
        ),
        "value": pa.array(np.round(rng.exponential(25.0, n), 2), pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
        ),
    })


def star_tables(rng) -> dict[str, pa.Table]:
    n = ROWS
    nat = np.arange(25)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nat, pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in nat]),
            "n_regionkey": pa.array(nat % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array(_names("Customer", n["customer"])),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array(
                [_SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])]
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array(_names("Supplier", n["supplier"])),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        }),
    }
    pk = np.arange(n["part"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n["part"])]),
        "p_type": pa.array([_PART_TYPES[i] for i in rng.integers(0, 6, n["part"])]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in rng.integers(0, 5, no)]),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })
    start = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    tables["events"] = events_table(rng, n["events"], 0, start)

    # Documents: random word streams, with every 16th document a
    # one-word edit of an earlier one so near-duplicate search has answers.
    nd = n["documents"]
    words = [_text(rng, int(k)) for k in rng.integers(10, 90, nd)]
    for i in range(16, nd, 16):
        src = list(words[int(rng.integers(0, i))])
        src[int(rng.integers(0, len(src)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        words[i] = src
    texts = [" ".join(w) for w in words]
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in rng.choice(5, nd, p=lang_p)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    ne = n["embeddings"]
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(
            list(rng.standard_normal((ne, 64)).astype(np.float32)),
            pa.list_(pa.float32()),
        ),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32()),
    })
    return tables


def ingest_batches(rng, n_batches: int) -> list[pa.Table]:
    """Event batches that continue each other's ids and timestamps."""
    out, start = [], int(np.datetime64("2024-02-01", "us").astype(np.int64))
    for b in range(n_batches):
        t = events_table(rng, INGEST_BATCH_ROWS, b * INGEST_BATCH_ROWS, start)
        start = int(t.column("ts")[-1].value)
        out.append(t)
    return out


def generate(out_dir: str, seed: int, n_ingest_batches: int) -> dict:
    """Write every table and ingest batch under out_dir; return their paths."""
    rng = np.random.default_rng(seed)
    sf_dir = os.path.join(out_dir, "tables")
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in star_tables(rng).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    batch_dir = os.path.join(out_dir, "ingest")
    os.makedirs(batch_dir, exist_ok=True)
    batches = []
    for i, table in enumerate(ingest_batches(rng, n_ingest_batches)):
        path = os.path.join(batch_dir, f"batch{i:03d}.parquet")
        pq.write_table(table, path)
        batches.append(path)
    return {"sf_dir": sf_dir, "batches": batches}
