"""Seeded source tables for the benchmark.

Writes one parquet file per table, with the schemas of the engine's
canonical source tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings).  The same
``(seed, scale)`` always yields byte-identical tables; row counts depend
only on ``scale``, so every seed asks the engine for the same amount of
work and only the values (dates, keys, text, vectors) move.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale 1.0 (TPC-H proportions; documents and
#: embeddings follow the canonical test tables' ratios)
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small big data column order query group "
    "stream filter customer index page log commit file snapshot plan"
).split()
PART_WORDS = ["small", "red", "blue", "green", "large", "steel", "brass"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]
EMBED_DIM = 64
EMBED_CLUSTERS = 10


def rows_at(table: str, scale: float) -> int:
    return max(10, int(round(BASE_ROWS[table] * scale)))


def first_year(seed: int) -> int:
    """First of the two consecutive order years a seed covers."""
    return 1994 + seed % 2


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, start: datetime, days: int, n: int) -> pa.Array:
    offs = rng.integers(0, days, n)
    base = np.datetime64(start, "us")
    return pa.array(base + offs.astype("timedelta64[D]"), pa.timestamp("us"))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All source tables for ``(seed, scale)`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    n = rows_at("customer", scale)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        }
    )
    n_cust = n

    n = rows_at("supplier", scale)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n_supp = n

    n = rows_at("part", scale)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [
                f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 7, n), rng.integers(0, 7, n))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 5, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
        }
    )
    n_part = n

    n = rows_at("orders", scale)
    start = datetime(first_year(seed), 1, 1)
    days = (datetime(first_year(seed) + 2, 1, 1) - start).days
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _dates(rng, start, days, n),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        }
    )
    n_orders = n

    n = rows_at("lineitem", scale)
    qty = rng.integers(1, 51, n).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.sort(rng.integers(0, n_orders, n)), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": _dates(rng, start, days + 120, n),
        }
    )

    n = rows_at("events", scale)
    n_users = max(20, n // 60)
    ev_start = np.datetime64(datetime(2024, 1, 1), "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ev_start + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": np.round(rng.uniform(0.0, 100.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )

    # documents: ~10% are near-duplicates of an earlier document (one
    # word swapped) and ~5% exact copies, so the dedup entries find work
    n = rows_at("documents", scale)
    texts: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and kind < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(20, 80))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    n = rows_at("embeddings", scale)
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_tables(out_dir: Path, seed: int, scale: float) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for every table; returns row
    counts per table."""
    out_dir.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts


def quarter_bounds(seed: int, quarter: int) -> tuple[str, str]:
    """``[lo, hi)`` ISO dates of quarter ``quarter`` (0..7) of the two
    order years of ``seed``."""
    y = first_year(seed) + quarter // 4
    q = quarter % 4
    lo = datetime(y, 3 * q + 1, 1)
    hi = datetime(y + 1, 1, 1) if q == 3 else datetime(y, 3 * q + 4, 1)
    return lo.strftime("%Y-%m-%d"), hi.strftime("%Y-%m-%d")


def ledger_history(seed: int, runs: int, tables: int = 30) -> list[dict]:
    """``runs`` prior extraction runs as ledger events (one put and two
    updates each, as a finished engine run leaves them): daily extracts
    of ``tables`` tables, oldest first."""
    rng = np.random.default_rng(seed + 7919)
    day0 = datetime(first_year(seed), 1, 1)
    events = []
    for i in range(runs):
        table = f"src_table_{i % tables:02d}"
        day = day0 + timedelta(days=i // tables)
        hash_id = f"{seed:04d}{i:028x}"
        stamp = day.strftime("%Y-%m-%d 02:00:00")
        rows = int(rng.integers(1_000, 1_000_000))
        events.append(
            {
                "_op": "put",
                "ExecutionHashId": hash_id,
                "SourceTable": table,
                "MigrationPart": 1,
                "Query": f"SELECT * FROM iqdemo.dba.{table} WHERE load_day = '{day:%Y-%m-%d}'",
                "ExpectedAmountOfRecords": rows,
                "LambdaCallTimestamp": stamp,
                "GlueJobFinalStatus": None,
            }
        )
        events.append(
            {
                "_op": "update",
                "ExecutionHashId": hash_id,
                "SourceTable": table,
                "GlueJobStartTimestamp": stamp,
            }
        )
        events.append(
            {
                "_op": "update",
                "ExecutionHashId": hash_id,
                "SourceTable": table,
                "GlueAmountOfRecords": rows,
                "GlueJobEndTimestamp": day.strftime("%Y-%m-%d 02:05:00"),
                "GlueJobFinalStatus": "SUCCEEDED",
                "ExecutionTime": int(rng.integers(30, 900)),
            }
        )
    return events
