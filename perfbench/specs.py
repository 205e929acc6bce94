"""What each workload asks the engine to do, as a pure function of the
seed: extraction plan files, the ACID operation list and the catalog
entry order.  Nothing here touches Spark or the disk, so the same seed
always yields identical plans and op lists (see tests/).
"""

from __future__ import annotations

import random

from datagen import quarter_bounds

#: plan envelope shared by every generated plan (the reference's Sybase
#: IQ source naming: database ``iqdemo``, schema ``dba``)
ENVELOPE = {
    "SourceName": "sybaseiq",
    "SourceDatabase": "iqdemo",
    "SourceSchema": "dba",
    "Active": True,
    "JobName": "sybaseiq_extractor",
    "WorkerType": "G.1X",
    "NumberOfWorkers": 3,
}

#: l_orderkey range parts per lineitem plan
LINEITEM_PARTS = 3

#: catalog entries of one catalog_queries pass: six of the nineteen
#: ``bench.py`` headline entries, picked to cover the catalog's layers
#: (a TPC-H join with shuffles, a window top-k, exact and MinHash
#: dedup, the IVF Arrow kernels, text functions) while the JIT-bound
#: warm pass over every entry stays inside the run's time budget
CATALOG_ENTRIES = [
    "q3_shipping_priority",
    "window_topk_per_group",
    "dedup_exact_text",
    "dedup_minhash_lsh_pairs",
    "ann_ivf_topk",
    "text_quality_scores",
]


def _rng(seed: int, *salt) -> random.Random:
    return random.Random(f"{seed}:" + ":".join(map(str, salt)))


def extract_queue(seed: int, round_idx: int, n_orders: int) -> list[tuple[str, dict, list[str]]]:
    """The ``run_now/`` queue of one extract_chain round.

    Returns ``(file_name, plan, oracle_sqls)`` in dispatch order; each
    plan job has a DuckDB count query in ``oracle_sqls`` (same order as
    its ``Jobs``), used to fill ``ExpectedAmountOfRecords``.  Migration
    parts are numbered per round, so every round passes the ledger's
    dedup gate once and only the duplicate plan is skipped.
    """
    rng = _rng(seed, "extract", round_idx)
    base_part = round_idx * 10
    out: list[tuple[str, dict, list[str]]] = []

    # 1. one quarter of orders, date-partitioned on S3 with two range
    #    splits (~2 files in each of ~90 day directories: the per-file load);
    #    consecutive rounds walk the eight quarters of the seed's two years
    lo, hi = quarter_bounds(seed, (seed * 3 + round_idx) % 8)
    job = {
        "SourceTable": "orders",
        "Query": (
            "SELECT [o_orderkey], [o_custkey], [o_orderstatus], [o_totalprice], "
            "[o_orderdate], [o_orderpriority] FROM iqdemo.dba.orders "
            f"WHERE [o_orderdate] >= CONVERT(date, '{lo}') "
            f"AND [o_orderdate] < CONVERT(date, '{hi}')"
        ),
        "MigrationPart": base_part + 1,
        "NumPartitions": "2",
        "LowerBound": "0",
        "UpperBound": str(n_orders - 1),
        "ColumnForPartitioningOnSpark": "o_orderkey",
        "ColumnForPartitioningOnS3": "o_orderdate",
    }
    sql = f"SELECT count(*) FROM orders WHERE o_orderdate >= DATE '{lo}' AND o_orderdate < DATE '{hi}'"
    out.append(("1_orders.json", {**ENVELOPE, "SequentialMultipleParts": True, "Jobs": [job]}, [sql]))

    # 2. all of lineitem in l_orderkey ranges, few partition values (bytes-heavy)
    cuts = [n_orders * k // LINEITEM_PARTS for k in range(LINEITEM_PARTS + 1)]
    jobs, sqls = [], []
    for i in range(LINEITEM_PARTS):
        lo, hi = cuts[i], cuts[i + 1]
        jobs.append(
            {
                "SourceTable": "lineitem",
                "Query": (
                    "SELECT * FROM iqdemo.dba.lineitem "
                    f"WHERE [l_orderkey] >= {lo} AND [l_orderkey] < {hi}"
                ),
                "MigrationPart": base_part + i + 1,
                "NumPartitions": "4",
                "LowerBound": str(lo),
                "UpperBound": str(hi - 1),
                "ColumnForPartitioningOnSpark": "l_orderkey",
                "ColumnForPartitioningOnS3": "l_returnflag",
            }
        )
        sqls.append(
            f"SELECT count(*) FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"
        )
    lineitem_plan = {**ENVELOPE, "SequentialMultipleParts": True, "Jobs": jobs}
    out.append(("2_lineitem.json", lineitem_plan, sqls))

    # 3. customer x nation in the Sybase dialect (brackets, three-part
    #    names, ISNULL/LEN), categorical S3 partitioning
    floor = round(rng.uniform(-500.0, 2000.0), 2)
    out.append(
        (
            "3_customer_nation.json",
            {
                **ENVELOPE,
                "SourceTable": "customer",
                "Query": (
                    "SELECT c.[c_custkey], c.[c_name], c.[c_acctbal], "
                    "ISNULL(c.[c_mktsegment], 'UNKNOWN') AS [c_mktsegment], "
                    "n.[n_name], LEN(c.[c_name]) AS [name_len] "
                    "FROM iqdemo.dba.customer c JOIN iqdemo.dba.nation n "
                    f"ON c.[c_nationkey] = n.[n_nationkey] WHERE c.[c_acctbal] > {floor}"
                ),
                "MigrationPart": base_part + 1,
                "NumPartitions": "1",
                "ColumnForPartitioningOnSpark": " ",
                "ColumnForPartitioningOnS3": "c_mktsegment",
            },
            [f"SELECT count(*) FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal > {floor}"],
        )
    )

    # 4. a byte-identical copy of the lineitem plan: the dedup gate must
    #    skip every one of its parts
    out.append(("4_lineitem_duplicate.json", lineitem_plan, list(sqls)))
    return out


def duplicate_parts(queue: list[tuple[str, dict, list[str]]]) -> int:
    """Parts the dedup gate must skip in one round's queue."""
    return sum(len(p.get("Jobs", [p])) for name, p, _ in queue if "duplicate" in name)


#: incremental appends per acid_ingest round: with the merge and the
#: delete that follow, the tenth commit writes a checkpoint, so the
#: reads replay from it and the compaction commits past it
ACID_APPENDS = 8


def acid_ops(seed: int, n_orders: int) -> list[dict]:
    """The operation list of one acid_ingest round.

    ``ACID_APPENDS`` incremental appends over an ``o_orderkey``
    watermark, a price-correction merge of a contiguous ~1% key range,
    a deletion-vector delete of a scattered ~1% (one key residue mod
    100), four reads (current count + checksum, data-skipping filtered
    count, time travel to the first append, change feed over the whole
    round) and one compaction.  ``version`` is the table version each
    commit produces (one commit per write op).
    """
    rng = _rng(seed, "acid")
    ops: list[dict] = []
    for b in range(1, ACID_APPENDS + 1):
        upper = n_orders * b // ACID_APPENDS
        ops.append(
            {
                "op": "append",
                "version": b,
                "upper": upper,
                "plan": {
                    **ENVELOPE,
                    "SourceTable": "orders",
                    "Query": f"SELECT * FROM iqdemo.dba.orders WHERE [o_orderkey] < {upper}",
                    "MigrationPart": b,
                    "ColumnForPartitioningOnSpark": " ",
                    "ColumnForPartitioningOnS3": "o_orderpriority",
                },
            }
        )
    v = ACID_APPENDS
    width = max(1, n_orders // 100)
    lo = rng.randrange(0, n_orders - width)
    ops.append({"op": "merge", "version": v + 1, "lo": lo, "hi": lo + width, "delta": 1.25})
    ops.append({"op": "delete", "version": v + 2, "residue": rng.randrange(100)})
    lo = rng.randrange(0, n_orders - n_orders // 5)
    ops += [
        {"op": "read_current", "version": v + 2},
        {"op": "read_filtered", "version": v + 2, "lo": lo, "hi": lo + n_orders // 5},
        {"op": "read_time_travel", "version": 1},
        {"op": "read_change_feed", "from_version": 0, "version": v + 2},
        {"op": "compact", "version": v + 3},
    ]
    return ops


def catalog_order(seed: int, pass_idx: int) -> list[str]:
    """Entry order of one catalog_queries pass."""
    order = list(CATALOG_ENTRIES)
    _rng(seed, "catalog", pass_idx).shuffle(order)
    return order
