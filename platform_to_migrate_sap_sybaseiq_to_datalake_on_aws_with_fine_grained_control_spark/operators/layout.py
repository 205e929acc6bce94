"""Physical-layout control (SURVEY.md §2.4).

R1 — size-tiered output-file-count control, same thresholds as the
reference (``sybaseiq_extractor.py:149-154``): 8 files below 50M rows,
16 between 50M and 100M, 24 at or above 100M.

At 100 TB the static tiers are too coarse (24 files of multi-TB each),
so :func:`apply_output_sizing` also offers the idiomatic scale path:
AQE-coalesced write bounded by ``maxRecordsPerFile`` — kept opt-in to
preserve behavioral parity by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

COALESCE_TIERS: list[tuple[int, int]] = [
    (50_000_000, 8),
    (100_000_000, 16),
]
COALESCE_MAX_TIER = 24


def coalesce_tier(num_records: int) -> int:
    """Tier function (``sybaseiq_extractor.py:149-154``)."""
    for upper, files in COALESCE_TIERS:
        if num_records < upper:
            return files
    return COALESCE_MAX_TIER


def apply_output_sizing(
    df: DataFrame,
    num_records: int,
    mode: str = "tiered",
    max_records_per_file: int = 5_000_000,
) -> DataFrame:
    """Shape the output file count.

    ``tiered``  — reference parity: ``coalesce(coalesce_tier(n))``.
    ``adaptive`` — scale path: let AQE pick partition count; the
    per-file row bound travels as a WRITER option
    (``maxRecordsPerFile``, applied by the sink — see
    ``write_partitioned_parquet``), NEVER as a session conf: a session-
    wide setting leaks into every later write, splitting a tiered job's
    coalesce(8) into 12+ files and breaking the reference-parity file
    counts this module exists to preserve.
    """
    if mode == "tiered":
        return df.coalesce(coalesce_tier(num_records))
    if mode == "adaptive":
        return df
    raise ValueError(f"unknown output sizing mode: {mode!r}")


def zorder_key(x: "Column", y: "Column", bits: int = 16) -> "Column":
    """Morton/Z-order key: bit-interleave the low ``bits`` bits of two
    non-negative integer dimensions (x gets the even bit positions).

    The lakehouse multi-dimensional clustering primitive (Delta
    ``OPTIMIZE ZORDER BY``, Hudi/Iceberg z-ordering): range-partitioning
    and sorting by this key co-locates rows that are close in BOTH
    dimensions, so per-file min/max column stats prune scans filtered on
    either one.  Pure bit arithmetic on Columns — whole-stage codegen,
    no UDF, no shuffle of its own.
    """
    from pyspark.sql import functions as F

    if not 1 <= bits <= 31:
        # 2*bits-1 must stay below the long sign bit; with an INT input
        # Spark's shiftleft would wrap y's top bit into the sign bit
        # and negative keys silently break the range-clustering order
        raise ValueError(f"zorder_key: bits must be in [1, 31], got {bits}")
    x = x.cast("long")
    y = y.cast("long")
    parts = []
    for b in range(bits):
        parts.append(F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b))
        parts.append(F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1))
    out = parts[0]
    for p in parts[1:]:
        out = out.bitwiseOR(p)
    return out


def zorder_key_sql(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """The same interleave as :func:`zorder_key`, as an engine-neutral SQL
    expression (``>> & <<`` operators — DuckDB dialect, used by the
    catalog oracle)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"zorder_key_sql: bits must be in [1, 31], got {bits}")
    parts = []
    for b in range(bits):
        parts.append(f"((({x_expr} >> {b}) & 1) << {2 * b})")
        parts.append(f"((({y_expr} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(parts) + ")"


def zorder_layout(df: DataFrame, zkey_col: str, num_partitions: int) -> DataFrame:
    """Cluster a frame for write: range-partition on the z-key (contiguous
    key ranges per output file → tight min/max stats on both interleaved
    dimensions) and sort within partitions so row groups stay clustered."""
    return df.repartitionByRange(num_partitions, zkey_col).sortWithinPartitions(zkey_col)


def global_ordered_scan(
    df: DataFrame,
    order_cols: list,
    rn_out: str | None = None,
    cumsum: dict[str, str] | None = None,
    num_partitions: int | None = None,
    cache: str = "checkpoint",
) -> DataFrame:
    """Distributed ORDER-dependent scan primitives — exact global row
    numbers (``rn_out``) and/or running sums (``cumsum`` maps output
    column -> value column) under a TOTAL order, without the
    single-task funnel of an unpartitioned window.

    ``Window.orderBy(...)`` with no partition moves the whole input
    through ONE task (Spark itself warns 'No Partition Defined'); at
    100 TB that is fatal.  This is the distributed equivalent:

    1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order
       key (the same machinery as a global ORDER BY — parallel;
       ``order_cols`` may be Column sort expressions, e.g.
       ``F.col("rev").desc()``);
    2. per-partition row numbers / running sums via windows
       PARTITIONED BY ``spark_partition_id()`` (parallel, one pass,
       no extra shuffle — data is already range-clustered);
    3. per-partition counts/totals -> cumulative offsets: an
       O(partitions) aggregate whose own running-sum window is
       bounded by construction; broadcast-joined back.

    ``order_cols`` must be a total order (append a unique tiebreaker);
    range partitioning never splits equal keys across a boundary, so
    row numbers are bit-identical to the single-task window.  Running
    sums of NON-INTEGRAL doubles differ from the sequential window in
    summation order (partition totals first) — last-ulp noise, fine
    for floor-scaled readouts, not for exact-decimal accounting (use
    DECIMAL inputs there).

    The offsets pass and the main pass must see the SAME physical
    partitioning (``repartitionByRange`` bounds come from sampling),
    so the range-partitioned input is materialized once.  ``cache``
    picks the lifecycle:

    - ``"checkpoint"`` (default): eager ``localCheckpoint`` — the
      blocks are owned by the returned frame's plan and are freed by
      Spark's ContextCleaner when the frame is garbage-collected.  A
      long-lived session (the ``Orchestrator(max_concurrent_runs=N)``
      regime) accumulates nothing across calls; no
      ``clearCache()`` discipline required.  Tradeoff: lineage is
      truncated, so losing an executor's blocks fails the job instead
      of recomputing (Spark's documented localCheckpoint contract) —
      acceptable for interactive/orchestrated analytics, use
      ``"persist"`` on preemptible clusters.
    - ``"persist"``: the pre-r11 behavior — lineage-preserving
      ``persist()`` whose entry outlives the returned frame; the
      caller owns cleanup (``spark.catalog.clearCache()`` between
      calls, as the bench harness does).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cumsum = cumsum or {}
    if not rn_out and not cumsum:
        raise ValueError("global_ordered_scan: nothing to compute")
    if cache not in ("checkpoint", "persist"):
        raise ValueError(
            f"global_ordered_scan: cache must be 'checkpoint' or "
            f"'persist', got {cache!r}"
        )
    parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    sdf = (
        df.repartitionByRange(parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    if cache == "checkpoint":
        # freeze the sampled range bounds structurally: both passes
        # read the same materialized blocks, and the blocks die with
        # the returned frame (ContextCleaner on GC) instead of
        # living until a session-wide clearCache
        sdf = sdf.localCheckpoint(eager=True)
    else:
        sdf.persist()
    aggs = [F.count(F.lit(1)).alias("_cnt")] + [
        F.sum(v).alias(f"_t_{o}") for o, v in cumsum.items()
    ]
    w_off = Window.orderBy("_pid").rowsBetween(
        # O(partitions) rows — grouped by spark_partition_id, bounded
        # by construction: the allowed global-window class
        Window.unboundedPreceding,
        -1,
    )
    offsets = (
        sdf.groupBy("_pid")
        .agg(*aggs)
        .select(
            "_pid",
            F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off_rn"),
            *[
                F.coalesce(F.sum(f"_t_{o}").over(w_off), F.lit(0)).alias(
                    f"_off_{o}"
                )
                for o in cumsum
            ],
        )
    )
    w_local = Window.partitionBy("_pid").orderBy(*order_cols)
    res = sdf
    drop = ["_pid"]
    if rn_out:
        res = res.withColumn("_lrn", F.row_number().over(w_local))
        drop.append("_lrn")
    for o, v in cumsum.items():
        res = res.withColumn(
            f"_lc_{o}",
            F.sum(v).over(
                w_local.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        drop.append(f"_lc_{o}")
    res = res.join(F.broadcast(offsets), "_pid")
    drop.append("_off_rn")
    if rn_out:
        # bigint, never int: >2^31 rows is exactly the regime this
        # helper exists for (int cast would wrap silently)
        res = res.withColumn(
            rn_out, (F.col("_off_rn") + F.col("_lrn")).cast("bigint")
        )
    for o in cumsum:
        res = res.withColumn(o, F.col(f"_off_{o}") + F.col(f"_lc_{o}"))
        drop.append(f"_off_{o}")
    return res.drop(*drop)


def global_row_number(
    df: DataFrame,
    order_cols: list,
    out: str = "rn",
    num_partitions: int | None = None,
    cache: str = "checkpoint",
) -> DataFrame:
    """EXACT global 1-based row number under a TOTAL order — see
    :func:`global_ordered_scan` (this is its ``rn_out``-only form)."""
    return global_ordered_scan(
        df, order_cols, rn_out=out, num_partitions=num_partitions, cache=cache
    )


def exact_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    out: str = "bucket",
    cache: str = "checkpoint",
) -> DataFrame:
    """SQL-standard ``NTILE(n) OVER (ORDER BY ...)`` — exact, but
    distributed via :func:`global_row_number` instead of the
    single-task unpartitioned window.

    Standard NTILE semantics (what Spark and DuckDB both implement):
    with ``N`` rows, the first ``N % n`` buckets hold ``N // n + 1``
    rows, the rest ``N // n``.  Derived arithmetically from the exact
    global row number and the total count (one scalar aggregate) —
    bit-identical to the window form under a total order.
    """
    from pyspark.sql import functions as F

    rn = global_row_number(df, order_cols, out="_rn", cache=cache)
    total = rn.sparkSession.createDataFrame(
        [(rn.count(),)], "_n bigint"
    )  # scalar readout off the materialized frame; one 1-row broadcast
    big = F.col("_n") % n_buckets  # buckets holding floor(N/n)+1 rows
    size_big = (F.col("_n") / n_buckets).cast("bigint") + 1
    size_small = (F.col("_n") / n_buckets).cast("bigint")
    cut = big * size_big  # rows covered by the larger buckets
    bucket = F.when(
        F.col("_rn") <= cut,
        ((F.col("_rn") - 1) / size_big).cast("bigint") + 1,
    ).otherwise(
        big + ((F.col("_rn") - 1 - cut) / size_small).cast("bigint") + 1
    )
    return (
        rn.join(F.broadcast(total))
        .withColumn(out, bucket.cast("int"))
        .drop("_rn", "_n")
    )


def exact_file_chunks(
    df: DataFrame,
    order_cols: list,
    rows_per_file: int,
    partition_keys: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Parallel layout for an EXACT-chunk write: the returned frame,
    written with ``maxRecordsPerFile=rows_per_file`` (and
    ``partitionBy(*partition_keys)`` when given), produces file
    boundaries IDENTICAL to the single-task
    ``orderBy(*order_cols).coalesce(1)`` layout — file k holds rows
    with global (per hive partition, when partitioned) sorted rank in
    ``[k*rows_per_file, (k+1)*rows_per_file)`` — but written by many
    tasks instead of one.

    The ``coalesce(1)`` form funnels the whole dataset through ONE
    writer task (guide §2: a serial wall at any scale — measured 10-12 s
    of a 16-19 s bench entry at sf0.1, and fatal at 100 TB).  This is
    the distributed equivalent:

    1. exact global row number under the ``(partition_keys ∪
       order_cols)`` total order (:func:`global_row_number` — range
       partition + per-partition windows + O(partitions) offsets);
    2. per-hive-partition 0-based rank (for partitioned writes: rank =
       rn − first rn of the key group, an O(groups) broadcast join);
    3. ``chunk = rank // rows_per_file`` — the file index the
       single-task writer would have assigned;
    4. hash-repartition on ``(partition_keys, chunk)`` and sort within
       partitions by ``(partition_keys, chunk, order_cols)``.

    Alignment proof: every chunk lands whole inside one task; within a
    task all chunks except the LAST-sorted one are exactly
    ``rows_per_file`` rows (only a key group's maximal chunk index can
    be short, and it sorts after that group's full chunks), so the
    writer's ``maxRecordsPerFile`` splits — which count rows per
    output file, resetting per hive dir — fall exactly on chunk
    boundaries.  Per-file row counts, min/max column stats, and
    skipping behavior are bit-identical to the ``coalesce(1)`` layout
    (differential-tested); only file names and add-list order differ
    (both already uuid-randomized / path-sorted by staging).

    ``order_cols`` must be a total order within each key group (same
    contract as :func:`global_row_number`).
    """
    from pyspark.sql import functions as F

    if rows_per_file < 1:
        raise ValueError(f"rows_per_file must be >= 1, got {rows_per_file}")
    pkeys = list(partition_keys or [])
    rn_frame = global_row_number(
        df, [*pkeys, *order_cols], out="_efc_rn", num_partitions=num_partitions
    )
    if pkeys:
        # O(distinct key groups) aggregate on the already-materialized
        # frame; broadcast back — rank restarts per hive partition.
        # The join is NULL-SAFE on every key (r12, ADVICE r11): a NULL
        # partition key is a real group for the hive writer
        # (__HIVE_DEFAULT_PARTITION__), and a plain equi-join would
        # silently drop its rows from the layout.
        offs = rn_frame.groupBy(*pkeys).agg(
            F.min("_efc_rn").alias("_efc_base")
        ).select(
            *[
                F.col(k).alias(f"_efc_g{i}")
                for i, k in enumerate(pkeys)
            ],
            "_efc_base",
        )
        cond = None
        for i, k in enumerate(pkeys):
            c = F.col(k).eqNullSafe(F.col(f"_efc_g{i}"))
            cond = c if cond is None else cond & c
        rn_frame = rn_frame.join(F.broadcast(offs), cond).drop(
            *[f"_efc_g{i}" for i in range(len(pkeys))]
        )
        rank0 = F.col("_efc_rn") - F.col("_efc_base")
    else:
        rank0 = F.col("_efc_rn") - F.lit(1)
    parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # integer division (r12, ADVICE r11): the double-division floor is
    # exact only while rank*ulp < 1/rows_per_file; DIV is exact at any
    # rank the bigint can hold — the 100 TB contract the helper sells
    out = rn_frame.withColumn("_efc_rank0", rank0.cast("bigint"))
    out = out.withColumn(
        "_efc_chunk", F.expr(f"_efc_rank0 DIV {int(rows_per_file)}")
    ).drop("_efc_rank0")
    out = (
        out.repartition(parts, *pkeys, "_efc_chunk")
        .sortWithinPartitions(*pkeys, "_efc_chunk", *order_cols)
    )
    return out.drop("_efc_rn", "_efc_base", "_efc_chunk")


def _hilbert_level(s: int, x: str, y: str, d: str) -> tuple[str, str, str]:
    """One Hilbert d2xy fold level as engine-neutral SQL (CASE/&/
    arithmetic only — identical text runs in Spark SQL and DuckDB).
    Returns (d_new, x_new, y_new) given the current state columns.
    Mirrors the standard xy2d loop (Wikipedia 'Hilbert curve',
    convert (x,y) to d): quadrant digit (3*rx)^ry spelled as a CASE,
    then the conditional reflect+swap rotation."""
    rx = f"(({x} & {s}) > 0)"
    ry = f"(({y} & {s}) > 0)"
    d_new = (
        f"{d} + {s * s} * (CASE WHEN {rx} AND {ry} THEN 2 "
        f"WHEN {rx} THEN 3 WHEN {ry} THEN 1 ELSE 0 END)"
    )
    x_new = (
        f"CASE WHEN NOT {ry} THEN (CASE WHEN {rx} THEN {s - 1} - {y} "
        f"ELSE {y} END) ELSE {x} END"
    )
    y_new = (
        f"CASE WHEN NOT {ry} THEN (CASE WHEN {rx} THEN {s - 1} - {x} "
        f"ELSE {x} END) ELSE {y} END"
    )
    return d_new, x_new, y_new


def add_hilbert_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    out: str = "hkey",
) -> DataFrame:
    """Hilbert-curve key for two non-negative integer dimensions in
    ``[0, 2^bits)`` — the locality-preserving alternative to
    :func:`zorder_key` (the published result behind Delta liquid
    clustering's curve choice: Hilbert has no Z-shaped jumps, so
    range buckets get tighter per-file min/max boxes on BOTH
    dimensions).  ``bits`` unrolled fold levels of pure integer CASE
    arithmetic — whole-stage codegen, no UDF; plan depth is linear in
    ``bits`` (each level is one projection over the previous)."""
    from pyspark.sql import functions as F

    if not 1 <= bits <= 31:
        raise ValueError(f"add_hilbert_key: bits in [1, 31], got {bits}")
    carry = df.columns
    res = df.select(
        "*",
        F.col(x_col).cast("long").alias("_hx"),
        F.col(y_col).cast("long").alias("_hy"),
        F.lit(0).cast("long").alias("_hd"),
    )
    for lvl in range(bits - 1, -1, -1):
        d_new, x_new, y_new = _hilbert_level(1 << lvl, "_hx", "_hy", "_hd")
        # one select per level: all three updates read the OLD state
        res = res.select(
            *carry,
            F.expr(x_new).alias("_hx"),
            F.expr(y_new).alias("_hy"),
            F.expr(d_new).alias("_hd"),
        )
    return res.select(*carry, F.col("_hd").alias(out))


def hilbert_cte_sql(
    src: str,
    x_expr: str,
    y_expr: str,
    carry: list[str],
    bits: int = 8,
) -> str:
    """The same fold as :func:`add_hilbert_key`, as a chain of CTEs
    over ``src`` (engine-neutral SQL — used verbatim by the catalog
    oracle).  The final CTE is ``hilb`` with ``{carry}, hkey``."""
    if not 1 <= bits <= 31:
        raise ValueError(f"hilbert_cte_sql: bits in [1, 31], got {bits}")
    if not carry:
        raise ValueError("hilbert_cte_sql: carry columns required")
    cols = ", ".join(carry)
    parts = [
        f"h0 AS (SELECT {cols}, CAST({x_expr} AS BIGINT) AS _hx, "
        f"CAST({y_expr} AS BIGINT) AS _hy, CAST(0 AS BIGINT) AS _hd "
        f"FROM {src})"
    ]
    for i, lvl in enumerate(range(bits - 1, -1, -1), start=1):
        d_new, x_new, y_new = _hilbert_level(1 << lvl, "_hx", "_hy", "_hd")
        parts.append(
            f"h{i} AS (SELECT {cols}, {x_new} AS _hx, {y_new} AS _hy, "
            f"{d_new} AS _hd FROM h{i - 1})"
        )
    parts.append(f"hilb AS (SELECT {cols}, _hd AS hkey FROM h{bits})")
    return ",\n".join(parts)
