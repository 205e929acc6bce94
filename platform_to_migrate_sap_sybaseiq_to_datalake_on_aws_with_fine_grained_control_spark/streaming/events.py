"""Streaming event analytics (SURVEY.md §7 M5 extensions).

The reference has no data-plane streaming; these are the extension
operators a training-data platform needs, exercised against the
``events`` table re-played as a file stream:

* tumbling / sliding window aggregation with watermarked late-data
  handling (``F.window`` + ``withWatermark``);
* session windows (``F.session_window``, gap-based);
* a custom stateful operator — running per-user event counter with
  inactivity timeout — via ``applyInPandasWithState`` (the
  arbitrary-state escape hatch for semantics the built-ins can't
  express).

Each builder takes a *streaming or batch* DataFrame with columns
``(event_id, ts, user_id, event_type, value)``; the transformations
are identical in both modes (the point of Structured Streaming), which
is how the tests validate them: run on a stream, compare with batch.

Two skeletons are shared: every keyed-state operator reads its key's
micro-batch through :func:`_batch_in_order`, and every
``run_streaming_*`` sketch maintainer is a ``delta``/``merge`` pair
driven by :func:`_maintain_log`.  Ordering contract: within a
micro-batch rows fold in ``(ts, event_id)`` order, across micro-batches
in arrival order — so an event-time-ordered replay (time-sliced files,
a log-compacted CDC feed) reproduces the batch result exactly.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _with_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize the event-time column to TIMESTAMP.

    Parquet written with naive ``timestamp[us]`` is inferred as
    ``TIMESTAMP_NTZ``, and ``withWatermark`` rejects NTZ event time
    (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``).  The session TZ is
    pinned UTC, so the cast is value-preserving; it is a no-op when the
    column is already TIMESTAMP.
    """
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def _epoch_us(ts: pd.Series) -> pd.Series:
    """``ts`` as epoch micros, whatever unit Arrow delivered it in (ns
    for TIMESTAMP, us for naive-parquet NTZ columns); an integer column
    is taken as micros already."""
    if not str(ts.dtype).startswith("datetime"):
        return ts.astype("int64")
    return ts.astype("datetime64[us]").astype("int64")


def _batch_in_order(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """One key's micro-batch as one frame in ``(ts, event_id)`` order,
    or ``None`` when the batch is empty.

    A key whose batch exceeds ``arrow.maxRecordsPerBatch`` arrives as
    several Arrow chunks in shuffle order; folding or sorting chunk by
    chunk would take ts-later rows of an early chunk before ts-earlier
    rows of a later one.  So all chunks are gathered, then sorted once;
    ``event_id`` breaks ``ts`` ties, making replays deterministic.
    """
    chunks = list(pdfs)
    if not chunks:
        return None
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    if pdf.empty:
        return None
    return pdf.sort_values(["ts", "event_id"])


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type."""
    return (
        _with_event_time(events, "ts").withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Gap-based session windows per user (the streaming-native form of
    the batch gaps-and-islands ``events_sessionize`` query)."""
    return (
        _with_event_time(events, "ts").withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


USER_STATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", TimestampType()),
        StructField("status", StringType()),
    ]
)

_STATE_TYPE = StructType(
    [StructField("n", LongType()), StructField("last_us", LongType())]
)


def stateful_user_counter(events: DataFrame, timeout_ms: int = 60_000) -> DataFrame:
    """Custom stateful operator: per-user cumulative event count with
    inactivity timeout, via ``applyInPandasWithState``.

    Demonstrates the arbitrary-state path (reference has none; this is
    the extension point for bespoke streaming semantics like CDC
    conflation or windowless dedup).  State is one (count, last-seen)
    pair per user — O(users) state, partitioned by the grouping key, so
    it scales horizontally like any keyed state store.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, last_us = state.get if state.exists else (0, 0)
        if state.hasTimedOut:
            state.remove()
            status = "expired"
        else:
            for pdf in pdfs:
                n += len(pdf)
                last_us = max(last_us, int(_epoch_us(pdf["ts"]).max()))
            state.update((n, last_us))
            state.setTimeoutDuration(timeout_ms)
            status = "active"
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "status": [status],
            }
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=USER_STATE_SCHEMA,
            stateStructType=_STATE_TYPE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def replay_events_stream(
    spark, events_parquet_dir: str, schema: StructType
) -> DataFrame:
    """Re-play an events parquet directory as a file-source stream
    (one file = one micro-batch increment via ``maxFilesPerTrigger``)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_parquet_dir)
    )


def streaming_neardup(
    docs: DataFrame,
    text_col: str = "props",
    ts_col: str = "ts",
    num_bits: int = 16,
    watermark: str = "1 hour",
    batch_tiebreak: str | None = None,
) -> DataFrame:
    """Streaming near-duplicate suppression: drop arrivals whose
    SimHash signature collides with one already seen inside the
    watermark horizon — the streaming analog of the batch SimHash
    dedup (exact-collision form; for hamming ≤ k, band the signature
    into multiple keys the way MinHash-LSH does).

    State is one row per distinct signature, expired by the watermark —
    bounded, unlike an unbounded ``dropDuplicates`` key set.

    In streaming mode the survivor is the first arrival (the only
    causal choice).  In batch mode pass ``batch_tiebreak`` (a unique
    column) to make the survivor deterministic — min tiebreak per
    signature via one hash-partitioned window — so batch replays are
    reproducible and oracle-checkable; without it the batch path keeps
    ``dropDuplicates``' arbitrary-survivor semantics.
    """
    from pyspark.sql import Window

    from ..functions.text import simhash_bits

    keyed = docs.withColumn("_sig", simhash_bits(text_col, num_bits))
    out = _with_event_time(keyed, ts_col).withWatermark(ts_col, watermark)
    if out.isStreaming:
        return out.dropDuplicatesWithinWatermark(["_sig"]).drop("_sig")
    if batch_tiebreak is not None:
        w = Window.partitionBy("_sig").orderBy(F.col(batch_tiebreak).asc())
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_sig")
        )
    return out.dropDuplicates(["_sig"]).drop("_sig")


def enrich_with_dimension(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    dim_cols: list[str],
) -> DataFrame:
    """Stream-static enrichment: join each micro-batch against a
    (slowly-changing) dimension snapshot.

    The static side is re-resolved every micro-batch (so a dimension
    refresh is picked up without restarting the query) and broadcast —
    the stream side never shuffles, which is the only sane shape when
    the stream is the 100 TB/day side and the dimension is a user/
    account table.  Left join keeps events with no dimension row.
    """
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim.select(on, *dim_cols)), on, "left")


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within
    the watermark horizon (``dropDuplicatesWithinWatermark`` — state is
    bounded by the watermark, unlike unbounded ``dropDuplicates``).

    The training-data analog of the batch ``dedup_exact`` operator for
    continuously-arriving corpora.
    """
    keys = keys or ["event_id"]
    out = _with_event_time(events, "ts").withWatermark("ts", watermark)
    if out.isStreaming:
        return out.dropDuplicatesWithinWatermark(keys)
    return out.dropDuplicates(keys)


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

_SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def stateful_sessionizer(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` —
    the arbitrary-state form of the batch gaps-and-islands
    ``events_sessionize`` query (30-min inactivity gap), emitting one row
    per CLOSED session.

    Unlike ``F.session_window`` (which holds every open window in the
    window operator's state), this is the escape-hatch shape for
    semantics the built-in can't express — e.g. emitting per-session
    custom payloads, capping session length, or carrying bespoke
    per-session accumulators.  State is one open session per user
    (O(users), keyed, horizontally partitioned); sessions close either
    when a later event for the same user arrives past the gap, or by
    event-time timeout once the watermark passes ``last + gap``.

    Ordering contract: event-time order is guaranteed *within* a
    micro-batch (sorted here); across micro-batches the replay must be
    time-monotonic at file granularity (see ``replay_events_stream`` —
    the same contract any log-compacted source provides).
    """
    gap_us = gap_s * 1_000_000
    gap_ms = gap_s * 1_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key

        def emit(start_us: int, last_us: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield emit(start_us, last_us, n)
            return

        pdf = _batch_in_order(pdfs)
        if pdf is None:
            return
        ts_us = _epoch_us(pdf["ts"]).to_numpy()

        # vectorized gap split of THIS batch: segment k spans
        # rows starts_idx[k] .. starts_idx[k+1]-1
        starts_idx = np.r_[0, np.flatnonzero(np.diff(ts_us) > gap_us) + 1]
        seg_first = ts_us[starts_idx]
        seg_last = ts_us[np.r_[starts_idx[1:] - 1, len(ts_us) - 1]]
        seg_cnt = np.diff(np.r_[starts_idx, len(ts_us)])

        closed: list[pd.DataFrame] = []
        if state.exists:
            start_us, last_us, n = state.get
            if int(seg_first[0]) - last_us <= gap_us:
                # first batch segment extends the open session
                seg_first[0] = -1  # marker: keep carried start_us
            else:
                closed.append(emit(start_us, last_us, n))
                n = 0
        else:
            n = 0

        # all but the trailing segment close inside this batch
        for k in range(len(starts_idx)):
            s = start_us if seg_first[k] == -1 else int(seg_first[k])
            cnt = (n if seg_first[k] == -1 else 0) + int(seg_cnt[k])
            if k < len(starts_idx) - 1:
                closed.append(emit(s, int(seg_last[k]), cnt))
            else:
                start_us, last_us, n = s, int(seg_last[k]), cnt

        wm_ms = state.getCurrentWatermarkMs()
        # strict > in MICROS: an on-time event with ts == last + gap
        # would still extend the session (the extension rule is
        # diff <= gap), and flooring last_us to ms would otherwise
        # close up to 1 ms early
        if wm_ms > 0 and wm_ms * 1000 > last_us + gap_us:
            closed.append(emit(start_us, last_us, n))
            state.remove()
        else:
            state.update((start_us, last_us, n))
            state.setTimeoutTimestamp(max(last_us // 1000 + gap_ms, wm_ms + 1))

        for frame in closed:
            yield frame

    return (
        _with_event_time(events, "ts")
        .withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_click_purchase_join(events: DataFrame, window_minutes: int = 30) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each purchase
    to every click by the same user in the preceding ``window_minutes``.

    Both sides carry a watermark and the join condition bounds
    purchase_ts to [click_ts, click_ts + window], so the state store
    can expire rows once the watermark passes the interval — bounded
    state, the requirement for an unbounded 100 TB/day stream pair.
    The same code runs in batch (identical semantics, one range join),
    which is how the equivalence test validates it.
    """
    base = _with_event_time(events, "ts")
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", f"{window_minutes} minutes")
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", f"{window_minutes} minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {window_minutes} minutes"
        ),
        "inner",
    )
    return joined.select(
        "user_id", "click_id", "purchase_id", "purchase_value"
    )


EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma_value", DoubleType()),
    ]
)

_EWMA_STATE = StructType(
    [StructField("ewma", DoubleType()), StructField("n", LongType())]
)


def stateful_ewma(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Streaming form of the batch ``events_user_ewma`` fold: per-user
    exponentially-weighted moving average maintained as O(1) keyed
    state (one (ewma, count) pair per user) via
    ``applyInPandasWithState`` — the unbounded-stream shape of a
    recurrence the batch entry computes with a bounded collect_list
    fold.

    Within a micro-batch, rows fold in (ts, event_id) order; across
    micro-batches the fold applies in arrival order, so replayed
    event-time-ordered sources (the tests' file replay, or any
    log-compacted CDC feed) reproduce the batch result exactly.  The
    per-update emission (outputMode=update) makes the latest smoothed
    value continuously queryable — the online feature-store shape.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ewma, n = state.get if state.exists else (None, 0)
        pdf = _batch_in_order(pdfs)
        if pdf is not None:
            for v in pdf["value"].dropna().astype("float64").tolist():
                ewma = v if ewma is None else alpha * v + (1.0 - alpha) * ewma
                n += 1
        if ewma is None:
            return
        state.update((float(ewma), int(n)))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "ewma_value": [float(ewma)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=_EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_MATCH_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("signup_us", LongType()),
        StructField("purchase_us", LongType()),
        StructField("latency_s", DoubleType()),
    ]
)

_FUNNEL_STATE = StructType(
    [StructField("pending", StringType())]  # csv of unmatched signup micros
)


def _funnel_fold(
    pending: list[int],
    events_us: list[tuple[int, str]],
    horizon_us: int,
) -> tuple[list[int], list[tuple[int, int, float]]]:
    """One micro-batch of FIFO signup→purchase matching for a single
    user.  Returns ``(new_pending, matches)``.

    The bounded-state guarantee lives here: besides the per-purchase
    head eviction, EVERY fold ends by dropping pending signups older
    than ``max_batch_ts - horizon`` — so a user who signs up forever
    and never purchases still holds at most one horizon of state.
    (Module-level so the memory bound is directly unit-testable.)
    """
    pending = list(pending)
    out: list[tuple[int, int, float]] = []
    max_us = -1
    for us, etype in events_us:
        max_us = max(max_us, us)
        if etype == "signup":
            pending.append(us)
        elif etype == "purchase":
            # STRICT eviction: a purchase exactly window_s after the
            # signup still matches (the batch funnel oracle's bound is
            # inclusive: diff <= window)
            while pending and pending[0] < us - horizon_us:
                pending.pop(0)
            if pending and pending[0] < us:
                s = pending.pop(0)
                out.append((s, us, (us - s) / 1_000_000.0))
    # Unconditional eviction: without this, a signup-only user
    # accumulates state forever (the purchase branch never runs).
    if max_us >= 0:
        while pending and pending[0] < max_us - horizon_us:
            pending.pop(0)
    return pending, out


def stateful_funnel_matcher(
    events: DataFrame, window_s: int = 3600
) -> DataFrame:
    """CEP-style two-step pattern matcher: emit one row per
    (signup → purchase within ``window_s``) pair per user, with
    FIFO one-to-one matching (each purchase consumes the OLDEST
    still-valid unmatched signup; each signup matches at most once).

    This is the "A followed by B within T" primitive of complex event
    processing engines, expressed as keyed arbitrary state:

    * state per user is the queue of unmatched signup timestamps —
      bounded by the signup rate within one ``window_s`` horizon:
      heads older than ``purchase_ts - window_s`` are evicted before
      matching, and at the END of every invocation everything older
      than ``max_batch_ts - window_s`` is dropped too, so a user who
      signs up forever and never purchases still holds at most one
      horizon of state (the requirement for an unbounded run);
    * within a micro-batch rows fold in (ts, event_id) order; across
      batches in arrival order — an event-time-ordered replay (file
      replay, log-compacted CDC) reproduces the batch matching
      exactly, which is what the equivalence test asserts;
    * emission is immediate on match (outputMode=append semantics
      downstream), giving the real-time conversion feed the batch
      ``events_funnel_conversion`` entry aggregates after the fact.

    Timestamps ride as epoch micros (NTZ-safe — the ts column is
    normalized through the same cast the batch entries use).
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        (csv,) = state.get if state.exists else ("",)
        pending = [int(x) for x in csv.split(",")] if csv else []
        out: list[tuple[int, int, float]] = []
        pdf = _batch_in_order(pdfs)
        if pdf is not None:
            ordered = zip(_epoch_us(pdf["ts"]).tolist(), pdf["event_type"])
            pending, out = _funnel_fold(pending, list(ordered), window_s * 1_000_000)
        state.update((",".join(str(x) for x in pending),))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "signup_us": [o[0] for o in out],
                    "purchase_us": [o[1] for o in out],
                    "latency_s": [o[2] for o in out],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=FUNNEL_MATCH_SCHEMA,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def idempotent_foreach_batch(apply_fn, marker_dir: str):
    """Wrap a ``foreachBatch`` apply function with batch-id idempotence.

    Structured Streaming guarantees at-least-once delivery to
    ``foreachBatch`` — after a crash between the sink write and the
    checkpoint commit, the SAME (batchId, data) is re-delivered. A
    sink that is not idempotent duplicates that batch. This wrapper
    supplies the standard fix: a durable marker per committed batch
    id, written AFTER ``apply_fn`` succeeds; re-delivered ids are
    skipped.

    The marker write is the transaction boundary: if ``apply_fn``
    itself crashes mid-write the marker is absent and the retry
    re-runs it, so ``apply_fn`` must be atomic-or-idempotent at the
    storage layer (parquet overwrite / snapshot swap both qualify —
    the engine's sinks do). Markers are O(1) files; a production sink
    compacts them or uses a table with a unique key. Exactly-once
    END-TO-END = at-least-once delivery + this idempotence, which is
    precisely how Spark's own file sinks work internally (their
    _spark_metadata log plays the marker role).
    """
    from pathlib import Path

    md = Path(marker_dir)
    md.mkdir(parents=True, exist_ok=True)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        marker = md / f"batch-{batch_id}.done"
        if marker.exists():
            return
        apply_fn(batch_df, batch_id)
        marker.write_text("")

    return fn


QUOTA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("admit_seq", LongType()),
    ]
)


def stateful_quota_admitter(events: DataFrame, quota_n: int = 5) -> DataFrame:
    """Per-key admission quota on the NEW arbitrary-state API
    (``transformWithStateInPandas``, Spark 4.x): admit each user's
    first ``quota_n`` events in event-time order, emitting
    ``(user_id, event_id, admit_seq)``; everything after the quota is
    dropped at the operator, before any downstream work.

    This is the training-pipeline "cap documents per source / events
    per user" primitive, and the repo's coverage of the
    StatefulProcessor surface that succeeds applyInPandasWithState:
    typed ``ValueState`` via a handle instead of a tuple blob, explicit
    ``init``/``close`` lifecycle, and (unused here) ListState/MapState/
    timers.  Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) — the session
    factory default works for the applyInPandas operators, so the
    caller/test sets RocksDB only for this query.

    Batch oracle: ``row_number() OVER (PARTITION BY user ORDER BY ts,
    event_id) <= quota_n`` — the stream-vs-batch equivalence test
    proves cross-micro-batch state carries the count correctly.

    Environment note: the transformWithState worker protocol requires
    ``google.protobuf`` (the driver↔worker state channel is protobuf);
    the equivalence test importorskips when absent. The
    applyInPandasWithState operators above have no such dependency.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class QuotaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._admitted = handle.getValueState("admitted", "n BIGINT")

        def handleInputRows(self, key, rows, timer_values):
            (user_id,) = key
            n = self._admitted.get()[0] if self._admitted.exists() else 0
            allrows = _batch_in_order(rows)
            out_ids: list[int] = []
            if allrows is not None and n < quota_n:
                take = min(quota_n - n, len(allrows))
                out_ids = [int(x) for x in allrows["event_id"].iloc[:take]]
                n += take
            self._admitted.update((n,))
            if out_ids:
                start = n - len(out_ids)
                yield pd.DataFrame(
                    {
                        "user_id": [user_id] * len(out_ids),
                        "event_id": out_ids,
                        "admit_seq": list(range(start + 1, n + 1)),
                    }
                )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=QuotaProcessor(),
        outputStructType=QUOTA_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


_Reduce = Callable[[DataFrame], DataFrame]


def _maintain_log(
    spark, src_dir: str, work_dir: str, log: str, delta: _Reduce, merge: _Reduce
) -> DataFrame:
    """The driver every ``run_streaming_*`` sketch maintainer shares:
    replay ``src_dir`` one file per trigger under ``availableNow``
    (checkpoint ``{work_dir}/ckpt``), APPEND each micro-batch's
    ``delta(batch)`` to the log ``{work_dir}/{log}`` behind
    :func:`idempotent_foreach_batch` markers, return ``merge(log)``.

    If no micro-batch ever wrote the log (nothing new under ``src_dir``
    and the log cleared), returns ``merge(delta(<empty source frame>))``
    — empty and typed like a non-empty result, not PATH_NOT_FOUND.
    """
    log_dir = f"{work_dir}/{log}"

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # 1-task reduce + 1 file per micro-batch (r12, guide §2.4/§6):
        # every sketch delta is a few hundred rows, and streaming
        # disables AQE, so the session's 32-way exchange fanned a tiny
        # write into 32 tasks + up to 32 files per batch for nothing.
        # coalesce(1) merges the post-shuffle partitions into one
        # reduce task; committed rows are identical.
        delta(batch_df).coalesce(1).write.mode("append").parquet(log_dir)

    schema = spark.read.parquet(src_dir).schema
    (
        replay_events_stream(spark, src_dir, schema)
        .writeStream.foreachBatch(
            idempotent_foreach_batch(apply, f"{work_dir}/markers")
        )
        .option("checkpointLocation", f"{work_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if not Path(log_dir).exists():
        return merge(delta(spark.createDataFrame([], schema)))
    return merge(spark.read.parquet(log_dir))


def run_streaming_hll(
    spark,
    src_dir: str,
    key_col: str,
    work_dir: str,
) -> DataFrame:
    """Maintain a HyperLogLog register table through a file-source
    stream and return the merged ``(idx, m)`` registers.

    Each micro-batch reduces its rows to per-register max ranks
    (:func:`functions.sketches.hll_register_rows`) and APPENDS them to
    a register log; the merged sketch is ``max(m) per idx`` over the
    log.  Correctness under streaming failure semantics comes from two
    independent layers: ``idempotent_foreach_batch`` markers skip
    re-delivered batch ids, and even WITHOUT the marker a replayed
    append cannot move the sketch — max-merge is idempotent under
    duplicate register rows (the property test pins this).  That is
    the point of sketch-based cardinality at 100 TB/day: per-partition
    /per-batch/per-day register tables of 256 rows each merge by max
    into the exact sketch a monolithic batch pass would build, with no
    giant count-distinct shuffle and no replay hazard.
    """
    from ..functions.sketches import hll_register_rows

    return _maintain_log(
        spark, src_dir, work_dir, "regs",
        lambda b: hll_register_rows(b, key_col)
        .groupBy("idx")
        .agg(F.max("rho").alias("m")),
        lambda log: log.groupBy("idx").agg(F.max("m").alias("m")),
    )


def run_streaming_cms(
    spark,
    src_dir: str,
    key_col: str,
    work_dir: str,
) -> DataFrame:
    """Maintain a Count-Min counter grid through a file-source stream
    and return the merged ``(i, b, c)`` counters.

    Structurally :func:`run_streaming_hll` with one crucial
    difference: CMS cells merge by SUM, which is associative but NOT
    replay-idempotent — without the ``idempotent_foreach_batch``
    marker a re-delivered micro-batch double-counts every key it
    carried (the HLL's max-merge shrugs that off).  Exactly-once here
    genuinely depends on the marker layer; the contrast test pins the
    inflation WITHOUT markers and the equality WITH them.
    """
    from ..functions.sketches import cms_counter_rows

    return _maintain_log(
        spark, src_dir, work_dir, "counters",
        lambda b: cms_counter_rows(b, key_col),
        lambda log: log.groupBy("i", "b").agg(F.sum("c").alias("c")),
    )


def run_streaming_bin_counts(
    spark,
    src_dir: str,
    work_dir: str,
    bin_expr: str,
    period_expr: str,
    group_col: str = "event_type",
) -> DataFrame:
    """Maintain per-(group, bin) base/current counts through a
    file-source stream and return the merged count table — the
    streaming substrate of a PSI drift monitor.

    Each micro-batch reduces its rows to ``(group, bin, nb, nc)``
    count deltas (``nb`` = rows in the base period, ``nc`` = current)
    and APPENDS them; the merged table is ``sum()`` per (group, bin)
    over the log.  Sum-merge is associative but NOT replay-idempotent,
    so exactly-once rides on the ``idempotent_foreach_batch`` marker
    layer exactly like :func:`run_streaming_cms`.  At 100 TB/day this
    is distribution monitoring with O(groups × bins) state per batch
    and no raw-value retention — the only full-width pass is the
    per-batch binning map.
    """
    return _maintain_log(
        spark, src_dir, work_dir, "bincounts",
        lambda b: b.select(
            F.col(group_col),
            F.expr(bin_expr).alias("bin"),
            F.expr(period_expr).alias("period"),
        )
        .groupBy(group_col, "bin")
        .agg(
            F.count(F.when(F.col("period") == "base", 1)).alias("nb"),
            F.count(F.when(F.col("period") == "cur", 1)).alias("nc"),
        ),
        lambda log: log.groupBy(group_col, "bin").agg(
            F.sum("nb").alias("nb"), F.sum("nc").alias("nc")
        ),
    )


def run_streaming_hll_windows(
    spark,
    src_dir: str,
    key_col: str,
    ts_col: str,
    work_dir: str,
) -> DataFrame:
    """Per-tumbling-hour HyperLogLog registers maintained through a
    file-source stream: each micro-batch reduces to per-(window,
    register) max ranks and appends them; the merged sketch set is
    ``max(m) per (window, idx)`` over the log.  Late or re-delivered
    data is harmless twice over (idempotence markers + max-merge), and
    a window's registers keep absorbing stragglers forever at 256
    rows of state per window — the cardinality-dashboard pattern
    (distinct users per hour over an unbounded stream) without a
    count-distinct shuffle or watermark-dropped accuracy."""
    from ..functions.sketches import hll_register_rows

    def delta(batch_df: DataFrame) -> DataFrame:
        keyed = batch_df.select(
            F.expr(f"CAST(date_trunc('hour', {ts_col}) AS STRING)").alias("win"),
            F.col(key_col).alias("k"),
        )
        return (
            hll_register_rows(keyed, "k", carry=("win",))
            .groupBy("win", "idx")
            .agg(F.max("rho").alias("m"))
        )

    return _maintain_log(
        spark, src_dir, work_dir, "regs",
        delta,
        lambda log: log.groupBy("win", "idx").agg(F.max("m").alias("m")),
    )
