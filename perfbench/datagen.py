"""Seeded generator for the star schema the query registry reads.

Writes the ten tables of ``cosmos_xenna_spark.catalog.TABLES`` as one
parquet file each, with the column names, types and value shapes of the
reference test data the registry's oracles are checked on at sf0.001 to
sf0.1 (uniform keys, cent-rounded prices, 10-99-word documents over a
30-word vocabulary with 5% planted near-duplicates, sources cycling
through 20 names, unit-norm embeddings).
Row counts scale linearly with ``sf``; documents and embeddings keep the
test data's floor of 500 rows.

The same ``(sf, seed)`` always writes the same bytes.  ``ensure`` keeps a
directory only while its row-count fingerprint matches and regenerates
it otherwise.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def row_counts(sf: float) -> dict[str, int]:
    def n(base: float, floor: int = 1) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    c = row_counts(sf)
    n_users = max(1, c["customer"] // 10)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    pick = lambda vals, n, p=None: pa.array(np.asarray(vals, dtype=object)[rng.choice(len(vals), n, p=p)])  # noqa: E731

    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
    }
    n = c["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": i64(range(n)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
            "c_nationkey": i32(rng.integers(0, 25, n)),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pick(SEGMENTS, n),
        }
    )
    n = c["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(range(n)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)]),
            "s_nationkey": i32(rng.integers(0, 25, n)),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
        }
    )
    n = c["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": i64(range(n)),
            "p_name": pick(names, n),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
            "p_type": pick(PART_TYPES, n),
            "p_size": i32(rng.integers(1, 51, n)),
            "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0),
        }
    )
    n = c["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(range(n)),
            "o_custkey": i64(rng.integers(0, c["customer"], n)),
            "o_orderstatus": pick(["F", "O", "P"], n),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
            "o_orderpriority": pick(PRIORITIES, n),
        }
    )
    n = c["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, c["orders"], n)),
            "l_partkey": i64(rng.integers(0, c["part"], n)),
            "l_suppkey": i64(rng.integers(0, c["supplier"], n)),
            "l_linenumber": i32(rng.integers(1, 8, n)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n),
            "l_linestatus": pick(["F", "O"], n),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
        }
    )
    n = c["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n)).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": i64(range(n)),
            "ts": pa.array(start + offs, pa.timestamp("us")),
            "user_id": i64(rng.integers(0, n_users, n)),
            "event_type": pick(EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    n = c["documents"]
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, lengths)]
    # Planted near-duplicates, as in the test data: 5% of documents are
    # another document's text with " dup" appended.  The other document
    # is any document, so a few copy a copy or copy the same text.
    for i in rng.choice(n, max(1, n // 20), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": i64(range(n)),
            "text": pa.array(texts),
            "lang": pick(LANGS, n, LANG_P),
            "source": pa.array([f"src{k % 20}" for k in range(n)]),
            "n_chars": i64([len(t) for t in texts]),
        }
    )
    n = c["embeddings"]
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": i64(range(n)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, n)),
        }
    )
    return out


def fingerprint(sf: float, seed: int) -> dict:
    return {"version": GENERATOR_VERSION, "sf": sf, "seed": seed, "rows": row_counts(sf)}


def on_disk_rows(path: str) -> dict[str, int] | None:
    try:
        return {
            t: pq.ParquetFile(os.path.join(path, f"{t}.parquet")).metadata.num_rows
            for t in row_counts(1.0)
        }
    except (OSError, pa.ArrowInvalid):
        return None


def ensure(path: str, sf: float, seed: int) -> bool:
    """Make ``path`` hold the (sf, seed) data; return True if it was
    (re)generated, False if the fingerprint already matched."""
    want = fingerprint(sf, seed)
    fp_file = os.path.join(path, "FINGERPRINT.json")
    try:
        with open(fp_file) as f:
            have = json.load(f)
    except (OSError, ValueError):
        have = None
    if have == want and on_disk_rows(path) == want["rows"]:
        return False
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "FINGERPRINT.json"), "w") as f:
        json.dump(want, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return True
