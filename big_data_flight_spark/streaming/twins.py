"""Structured-Streaming twins of the event-time operators — SURVEY.md §2.9.

The correctness gate runs batch DataFrames; these twins prove the same
logic runs as streams. Each uses ``trigger(availableNow=True)`` so a
bounded parquet-backed stream drains and terminates — the local-mode
stand-in for a Kafka-style unbounded source. The gate entry
(stream_source_sink) gets the STRONG oracle because counts are
deterministic; watermark/session twins live here as library functions
exercised by tests/test_streaming.py (their late-data semantics
depend on arrival order, which a batch oracle can't pin down).

At scale the only changes are the source (kafka.bootstrap.servers),
a real trigger interval, and a checkpointLocation on durable storage
— the transformation code is identical, which is the point of the
DataFrame/Streaming unification.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_flight_spark.io import fan_out, footer_schema, table, ts_guard
from big_data_flight_spark.operators.etl import _DRIFT_TV_ORACLE, _drift_tv_finish
from big_data_flight_spark.operators.events import (
    EWMA_ORACLE,
    SESSION_WINDOW_NATIVE_ORACLE,
)
from big_data_flight_spark.operators.text import (
    _INCR_BATCH_MOD,
    _INCR_ORACLE,
    _incremental_verdicts,
    shingle_jaccard,
    shingles,
)
from big_data_flight_spark.registry import DSUM, dsum, gate_query


def _stream_source(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """ONE definition of the file-backed streaming source (r8 review:
    events_stream and documents_stream had verbatim copies — the exact
    silent-desync risk the r6 bigram-struct finding fixed by sharing).
    Streaming sources need an explicit schema; take it from the
    parquet footer through io.footer_schema, the same schema path
    io.table uses, so a regenerated fixture is read afresh."""
    reader = spark.readStream
    reader._jreader = reader._jreader.schema(
        footer_schema(spark, f"{sf_dir}/{name}.parquet")
    )
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-backed streaming source over the events table. The
    fixture's ts precision has changed across driver rounds
    (TIMESTAMP(NANOS) in r1-r2, plain µs TIMESTAMP since r3), so the
    shared dtype guard (io.ts_guard) applies on top of the shared
    source — one definition each for the reader and the guard, so the
    next fixture physical-type change lands everywhere at once
    (r6 review)."""
    return ts_guard(_stream_source(spark, sf_dir, "events"))


def run_to_memory(df: DataFrame, mode: str = "complete") -> DataFrame:
    """Drain a bounded stream into a memory sink; return the result
    as a batch DataFrame. availableNow processes everything then
    stops — deterministic for file sources."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Materialize into executor blocks and DROP the sink's temp view:
    # without this every call leaked a never-dropped uuid-named memory
    # sink holding its full result set in driver memory for the
    # session lifetime (r6 review — 12 call sites, re-run per compare).
    out = df.sparkSession.table(name).localCheckpoint()
    df.sparkSession.catalog.dropTempView(name)
    return out


@gate_query(
    "stream_source_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming",),
)
def stream_source_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream(parquet) → streaming aggregation → memory sink,
    drained with availableNow. Counts per event_type must equal the
    batch result exactly — the strong oracle holds because counting
    is arrival-order-insensitive."""
    agg = events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return run_to_memory(agg, mode="complete")


def tumbling_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of evt_tumbling_window: watermarked event-time
    windows. With availableNow over a bounded source, all windows
    emit (nothing is later than the final watermark)."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("day_start"), "event_type", "n")
    )
    return run_to_memory(agg, mode="complete")


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of evt_dedup: exactly-once by event_id within
    the watermark horizon (state is bounded by the watermark — the
    100 TB requirement for any streaming dedup)."""
    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(deduped, mode="append")


@gate_query(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT event_id, user_id, event_type FROM events
    """,
    tags=("streaming", "event"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup as a driver-gated query: readStream
    → withWatermark(1h) → dropDuplicatesWithinWatermark(event_id) →
    append-mode memory sink. The oracle is DISTINCT over the projected
    rows: identical to the bare projection on today's fixtures
    (event_id is unique — verified count = distinct count) but still
    correct if a regenerated fixture ever plants full-row duplicate
    events (the driver MAY regenerate testdata — CLAUDE.md). The one
    case neither side can pin is duplicate event_ids with DIFFERING
    payloads: dropDuplicatesWithinWatermark keeps an arbitrary winner
    there, which is exactly why the batch gate (evt_dedup) uses the
    deterministic rank form instead. With availableNow over the
    bounded single-file source everything lands in one micro-batch,
    so the starting watermark drops nothing. The 100 TB posture is the point
    of the operator: dedup state is bounded by the 1-hour watermark
    horizon instead of growing with the stream's lifetime (contrast
    plain dropDuplicates, whose state never expires), which is the
    only viable shape for a continuously-running ingest dedup."""
    return dedup_stream(spark, sf_dir)


@gate_query(
    "stream_static_join",
    oracle="""
    SELECT e.event_type, COUNT(*) AS n,
           CAST(SUM(COALESCE(d.lifetime_purchases, 0)) AS BIGINT)
             AS sum_enrich
    FROM events e LEFT JOIN (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS lifetime_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ) d USING (user_id)
    GROUP BY e.event_type
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — GATED (was twin-only through r5 s6): the
    event stream enriched against a static dimension (per-user
    lifetime purchase counts computed batch-side), then aggregated so
    the result is arrival-order-insensitive and the batch oracle is
    strong. Static side is re-resolved per micro-batch — the standard
    pattern for slowly-changing enrichment tables; at scale the
    static side should be broadcastable (as hinted here) or
    pre-bucketed."""
    static_dim = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("lifetime_purchases"))
    )
    enriched = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(static_dim), "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("lifetime_purchases", F.lit(0)))
            .cast("long")
            .alias("sum_enrich"),
        )
    )
    return run_to_memory(enriched, mode="complete")


@gate_query(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id AS c_user,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 DAY
    """,
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join — the canonical Structured
    Streaming two-sided join: clicks joined to same-user purchases that
    happen within 1 day AFTER the click. Both sides carry watermarks
    and the join condition carries the time-range constraint, which is
    what BOUNDS the join state at scale (each side's buffered rows are
    dropped once the other side's watermark passes the range end —
    without the time bound, stream-stream join state grows forever).

    With availableNow over a bounded source all matches emit, so the
    STRONG oracle is the identical batch interval join (the set of
    matches is arrival-order-insensitive); the batch-parity twin is
    also asserted in tests/test_streaming.py. Both sides derive from
    ONE events_stream source (a supported stream self-join) — one
    footer read, one file-source instance."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 1 day")),
        "inner",
    ).select("c_user", "click_id", "purchase_id", "click_ts", "purchase_ts")
    return run_to_memory(joined, mode="append")


def _drain_epochs(
    spark: SparkSession, sf_dir: str, data_dir: str, checkpoint: str
) -> tuple[int, int]:
    """Drain the event stream (availableNow) through a foreachBatch sink
    that commits each micro-batch to ``{data_dir}/epoch={id}`` with
    overwrite — the pattern for sinks without native streaming support:
    a replayed epoch OVERWRITES rather than duplicates, so delivery is
    exactly-once by idempotent epoch commit. Returns (epochs written,
    input rows read) for this run."""
    epochs: set[int] = set()

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{data_dir}/epoch={epoch_id}")
        # a set, not a list: a replayed/retried micro-batch re-invokes
        # write_batch with the SAME epoch id and must not count twice.
        epochs.add(epoch_id)

    q = (
        events_stream(spark, sf_dir)
        .select("event_id", "event_type", "value")
        .writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.awaitTermination()
    return len(epochs), sum(p.numInputRows for p in q.recentProgress)


def foreach_batch_sink(spark: SparkSession, sf_dir: str, out_dir: str) -> int:
    """Drain the event stream into per-epoch parquet dirs under
    ``out_dir`` (``_drain_epochs``); returns the number of epochs."""
    return _drain_epochs(spark, sf_dir, out_dir, f"{out_dir}/_checkpoint")[0]


# Both epoch-sink gates aggregate the source once: a value match proves
# the sink delivered each row exactly once.
_EPOCH_SINK_ORACLE = f"""
    SELECT event_type, COUNT(*) AS n, {DSUM("value", "sum_value")},
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    GROUP BY event_type
    """


def _epoch_totals(spark: SparkSession, data_dir: str) -> DataFrame:
    """Read the union of committed epochs back as a batch table and
    aggregate it the way ``_EPOCH_SINK_ORACLE`` aggregates the source."""
    back = spark.read.option("basePath", data_dir).parquet(f"{data_dir}/epoch=*")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", "sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


def _funnel_fold(pdfs, first_signup, first_purchase):
    """THE one per-event funnel fold shared by both stateful twins
    (applyInPandasWithState and transformWithStateInPandas; r6 review:
    two verbatim copies risked a boundary/conversion fix landing in
    only one). Returns (first_signup_us, first_purchase_us, converted)
    with the strict signup < purchase boundary and exact integer-µs
    conversion from pandas ns."""
    for pdf in pdfs:
        for et, ts in zip(pdf["event_type"], pdf["ts"]):
            usec = int(ts.value // 1000)  # pandas ns -> µs
            if et == "signup" and (first_signup is None or usec < first_signup):
                first_signup = usec
            if et == "purchase" and (
                first_purchase is None or usec < first_purchase
            ):
                first_purchase = usec
    converted = (
        first_signup is not None
        and first_purchase is not None
        and first_signup < first_purchase
    )
    return first_signup, first_purchase, converted


def funnel_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user signup→purchase funnel, state = earliest signup/purchase
    seen so far. The streaming twin of evt_stateful_funnel — the shape
    to reach for when windows/aggregations can't express the state
    machine. State is per-key and watermark/timeout-bounded, which is
    what keeps it viable on an unbounded 100 TB stream."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        first_signup, first_purchase = state.get if state.exists else (None, None)
        first_signup, first_purchase, converted = _funnel_fold(
            pdfs, first_signup, first_purchase
        )
        state.update((first_signup, first_purchase))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "first_signup_us": [first_signup],
                "first_purchase_us": [first_purchase],
                "converted": [converted],
            }
        )

    out = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, first_signup_us long, first_purchase_us long, converted boolean"
            ),
            stateStructType="first_signup long, first_purchase long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(out, mode="update")


def funnel_tws_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 transformWithStateInPandas twin of the funnel: the
    successor API to applyInPandasWithState — typed per-key state
    handles (ValueState/ListState/MapState), timers, and TTL. Same
    semantics as funnel_stateful_stream; this variant exists to cover
    the newest stateful surface. Requires the RocksDB state store
    provider (the only one implementing the new API) AND the
    ``protobuf`` python package: every TWS state operation crosses a
    Python<->JVM state-server socket whose wire format is protobuf —
    concretely, ``pyspark/sql/streaming/proto/StateMessage_pb2.py:23``
    executes ``from google.protobuf import descriptor`` at import, and
    this container has no ``google`` package at all (re-verified round
    5; pip install is out of scope for this env). The processor/state
    API modules themselves import fine — it is precisely the wire
    protocol that is missing, so callers must treat NotImplementedError
    as 'environment lacks the codec', exactly like the multimodal
    decode stubs. The implementation below is complete and runs
    wherever protobuf is installed."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas needs the 'protobuf' package: "
            "pyspark/sql/streaming/proto/StateMessage_pb2.py:23 imports "
            "google.protobuf.descriptor (the TWS state-server wire "
            "protocol) and no 'google' package exists in this "
            "environment - use funnel_stateful_stream "
            "(applyInPandasWithState) instead"
        ) from exc

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    class FunnelProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [
                    StructField("first_signup", LongType()),
                    StructField("first_purchase", LongType()),
                ]
            )
            self.state = handle.getValueState("funnel", schema)

        def handleInputRows(self, key, rows, timerValues):
            if self.state.exists():
                first_signup, first_purchase = self.state.get()
            else:
                first_signup, first_purchase = None, None
            first_signup, first_purchase, converted = _funnel_fold(
                rows, first_signup, first_purchase
            )
            self.state.update((first_signup, first_purchase))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "first_signup_us": [first_signup],
                    "first_purchase_us": [first_purchase],
                    "converted": [converted],
                }
            )

        def close(self) -> None:
            pass

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = (
            events_stream(spark, sf_dir)
            .groupBy("user_id")
            .transformWithStateInPandas(
                FunnelProcessor(),
                outputStructType=(
                    "user_id long, first_signup_us long, first_purchase_us long, "
                    "converted boolean"
                ),
                outputMode="Update",
                timeMode="None",
            )
        )
        return run_to_memory(out, mode="update")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


@gate_query(
    "stream_session_window",
    oracle=SESSION_WINDOW_NATIVE_ORACLE,
    tags=("streaming", "event"),
)
def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization with the native session_window(ts,
    gap): per-user 30-minute-gap sessions, state merged incrementally
    by the streaming aggregation engine and closed by the watermark —
    the production shape for clickstream sessionization (session state
    is bounded by watermark + gap, unlike a batch lag pass which needs
    the whole history). With availableNow over the bounded source and
    complete mode, every session emits, so the STRONG oracle is THE
    SAME SQL object as the batch native gate's
    (events.SESSION_WINDOW_NATIVE_ORACLE, strict gap > timeout —
    empirically the native boundary) — streaming and batch
    session_window must agree exactly, and a boundary fix lands in
    both gates by construction."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, mode="complete")


def count_min_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_count_min's SKETCH construction: the
    4×64 counter table maintained incrementally by the streaming
    aggregation engine (complete mode re-emits the merged counters
    each micro-batch). The sketch's mergeability is exactly why it
    streams: partial counters from every micro-batch/executor add up
    without rescanning history. Estimates (min over rows) stay a
    batch-side probe — see operators/sketches.agg_count_min."""
    from big_data_flight_spark.operators.sketches import cms_counters

    return run_to_memory(cms_counters(events_stream(spark, sf_dir)), mode="complete")


def cdc_latest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of etl_cdc_latest_snapshot: the latest record per
    key maintained incrementally as a stateful max_by aggregation over
    the (ts, event_id) total order — per-key state is ONE struct, so
    state size is O(keys), not O(events). Complete mode re-emits the
    current snapshot each micro-batch; on a real cluster this is the
    continuously-maintained CDC materialization."""
    e = events_stream(spark, sf_dir)
    latest = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("last")
        )
        .select(
            "user_id",
            F.col("last.ts").alias("last_ts"),
            F.col("last.event_type").alias("last_type"),
            F.col("last.value").alias("last_value"),
        )
    )
    return run_to_memory(latest, mode="complete")


@gate_query(
    "stream_windowed_agg",
    oracle="""
    SELECT
      time_bucket(INTERVAL '1 day', ts) AS day_start,
      event_type,
      COUNT(*) AS n
    FROM events
    GROUP BY day_start, event_type
    """,
    tags=("streaming", "event"),
)
def stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowed aggregation — THE canonical
    Structured Streaming op — as a driver-gated query, not just a
    tested twin: readStream → withWatermark(1h) → window(1 day) →
    count → memory sink, drained with availableNow. The strong batch
    oracle holds because with a bounded source every window emits
    (nothing arrives later than the final watermark) and counting is
    arrival-order-insensitive; window starts align to epoch midnight
    under the pinned UTC session tz, matching time_bucket. At scale
    this is the continuously-running form of evt_tumbling_window:
    state per (window, event_type) is bounded by the watermark
    horizon, and the same plan serves micro-batch or continuous
    triggers unchanged."""
    return tumbling_window_stream(spark, sf_dir)


@gate_query(
    "stream_sliding_window",
    oracle=f"""
    SELECT
      time_bucket(INTERVAL '6 hours', ts) - k * INTERVAL '6 hours' AS w_start,
      COUNT(*) AS n,
      {DSUM("value", "sum_value")}
    FROM events CROSS JOIN (SELECT unnest(range(4)) AS k)
    GROUP BY w_start
    """,
    tags=("streaming", "event"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING event-time window (1 day sliding every 6 h)
    — the overlapping-window streaming shape next to the tumbling gate
    (stream_windowed_agg): each event lands in exactly window/slide=4
    open windows, so per-event state fan-out is 4x and state per
    window stays bounded by the 1 h watermark horizon. Same
    strong-batch-oracle argument as the tumbling gate (bounded source;
    counts and decimal sums are arrival-order-insensitive;
    epoch-aligned starts under the pinned UTC tz match the oracle's
    time_bucket arithmetic — the oracle is shared verbatim with batch
    evt_sliding_window's construction). COMPLETE output mode, like the
    tumbling twin: append would withhold every window whose end is
    past the final watermark (max event ts - 1 h) — the 4 still-open
    trailing slides at drain time (measured: 119 vs 123 rows)."""
    out = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("w_start"), "n", "sum_value")
    )
    return run_to_memory(out, mode="complete")


@gate_query(
    "stream_foreach_batch_sink",
    oracle=_EPOCH_SINK_ORACLE,
    tags=("streaming", "sink"),
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch transactional sink as a gated round-trip: drain the
    event stream through per-epoch parquet directories
    (``_drain_epochs``), then read the union of epochs back as a batch
    table and aggregate. The oracle aggregates the source directly — a
    value match proves the sink lost nothing and duplicated nothing
    across epochs. Scratch layout and cleanup follow the
    connectors-module convention (per-PID dir, wiped per call)."""
    import shutil as _shutil

    from big_data_flight_spark.sources.connectors import _TMP

    out = os.path.join(_TMP, "feb_sink")
    _shutil.rmtree(out, ignore_errors=True)
    foreach_batch_sink(spark, sf_dir, out)
    return _epoch_totals(spark, out)


def _ewma_fold(xs, s0=None):
    """The one halving fold: s_i = floor((s_{i-1} + x_i) / 2), seeded
    by s0 (None = empty prefix, first x starts the fold). Python's
    // floors identically to both engines' floor((s + x) / 2.0) on
    these |x| < 2^32 integers."""
    s = s0
    for x in xs:
        s = x if s is None else (s + x) // 2
    return s


# EWMA state tuple layout (matches _EWMA_STATE_SCHEMA below):
#   pre_n      — events already collapsed past the watermark horizon
#   pre_max_ts — max ts among collapsed events (contract guard)
#   pre_last_x — last collapsed x (serves last_value when suffix empty)
#   s_pre      — fold over the collapsed prefix only (re-fold seed)
#   ts_l/id_l/x_l — in-horizon suffix history, kept sorted
#   s          — fold over ALL events (prefix + suffix)
_EWMA_STATE_SCHEMA = (
    "pre_n long, pre_max_ts long, pre_last_x long, s_pre long, "
    "ts_us array<long>, event_id array<long>, x array<long>, s long"
)


def _ewma_empty():
    """Fresh empty state — a FUNCTION, not a shared constant: the
    fast path appends to the state lists in place, so a module-level
    empty tuple would be silently mutated by its first user and
    contaminate every later key in the same worker."""
    return (0, None, None, None, [], [], [], None)


def _ewma_advance(st, new, wm_us):
    """Pure per-batch EWMA state transition with watermark-horizon
    state collapse (VERDICT r6 #4 / the r5 ADVICE thread closed):

    * In-order fast path: new events sorting after the suffix tail
      fold incrementally onto the stored scalar — O(batch), no replay.
    * Out-of-order arrival (only possible INSIDE the horizon — the
      watermark contract makes older arrivals impossible, enforced
      loudly below): merge into the suffix and re-fold the suffix
      from s_pre. Exactness holds because the insertion point is
      always after the collapsed prefix, whose fold is final.
    * Collapse: suffix entries with ts < wm_us can never precede a
      future arrival, so they fold into (pre_n, pre_max_ts,
      pre_last_x, s_pre) and leave the arrays — state size is bounded
      by the horizon's event count, not the stream's length.

    The interior-insertion argument from r5 still stands: a ±1 floor
    difference can persist through any number of halvings, so
    replaying a truncated suffix WITHOUT the exact s_pre seed is
    unsound; the collapse is exact precisely because s_pre is the
    bit-exact fold of a prefix the watermark froze.

    Args: st = state tuple (see layout above; lists may be mutated),
    new = sorted [(ts_us, event_id, x_micro)], wm_us = watermark in
    µs (0 = no watermark → never collapses). Returns (state', output)
    with output = (n_events, last_value_micro, ewma_micro)."""
    pre_n, pre_max_ts, pre_last_x, s_pre, ts_l, id_l, x_l, s = st
    if new:
        if pre_n and new[0][0] <= pre_max_ts:
            raise ValueError(
                f"watermark contract violated: arrival at ts={new[0][0]} "
                f"<= collapsed horizon boundary {pre_max_ts}"
            )
        tail = (ts_l[-1], id_l[-1]) if ts_l else None
        if tail is None or new[0][:2] > tail:
            # In-order fast path: append + incremental fold.
            for t, i, x in new:
                ts_l.append(t)
                id_l.append(i)
                x_l.append(x)
                s = x if s is None else (s + x) // 2
        else:
            # Out-of-order within the horizon: merge and re-fold the
            # SUFFIX from the frozen prefix fold. The stored suffix is
            # invariantly sorted — only the concatenation needs sorting.
            merged = sorted(list(zip(ts_l, id_l, x_l)) + new)
            ts_l = [r[0] for r in merged]
            id_l = [r[1] for r in merged]
            x_l = [r[2] for r in merged]
            s = _ewma_fold(x_l, s_pre)
    # Horizon collapse: everything older than the watermark is frozen.
    cut = 0
    while cut < len(ts_l) and ts_l[cut] < wm_us:
        cut += 1
    if cut:
        s_pre = _ewma_fold(x_l[:cut], s_pre)
        pre_n += cut
        pre_max_ts = ts_l[cut - 1]
        pre_last_x = x_l[cut - 1]
        ts_l, id_l, x_l = ts_l[cut:], id_l[cut:], x_l[cut:]
    n = pre_n + len(ts_l)
    last_x = x_l[-1] if x_l else pre_last_x
    return (pre_n, pre_max_ts, pre_last_x, s_pre, ts_l, id_l, x_l, s), (
        n,
        last_x,
        s,
    )


def _make_ewma_update(diag: bool = False):
    """applyInPandasWithState kernel around _ewma_advance. With a
    watermark on the stream the kernel reads it and the state
    collapses past the horizon; without one (the gate: exact
    unbounded replay is what it proves) the probe raises, wm stays 0
    and nothing collapses. diag=True adds a state_rows column (suffix
    length) so tests can observe boundedness from the output."""
    import math

    import pandas as pd

    def update(key, pdfs, state):
        if state.exists:
            got = state.get
            st = (
                got[0],
                got[1],
                got[2],
                got[3],
                list(got[4]),
                list(got[5]),
                list(got[6]),
                got[7],
            )
        else:
            st = _ewma_empty()
        new = []
        for pdf in pdfs:
            for ts, eid, v in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                new.append(
                    (
                        int(ts.value // 1000),  # pandas ns -> µs
                        int(eid),
                        int(math.floor(v * 1_000_000 + 0.5)),
                    )
                )
        new.sort()
        try:
            wm_us = state.getCurrentWatermarkMs() * 1000
        except Exception:
            wm_us = 0
        st, (n, last_x, s) = _ewma_advance(st, new, wm_us)
        state.update(st)
        row = {
            "user_id": [key[0]],
            "n_events": [n],
            "last_value_micro": [last_x],
            "ewma_micro": [s],
        }
        if diag:
            row["state_rows"] = [len(st[4])]
        yield pd.DataFrame(row)

    return update


@gate_query(
    "stream_ewma",
    oracle=EWMA_ORACLE,
    tags=("streaming",),
)
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming EWMA (applyInPandasWithState) — the
    streaming twin of evt_ewma, gated with the IDENTICAL recursive-
    CTE oracle (imported, zero drift): per-user half-life smoothing
    s_i = floor((s_{i-1} + x_i) / 2) in integer micro-units, fold
    order (ts, event_id).

    Exactness across arbitrary micro-batch splits: see _ewma_advance
    (the pure transition) — sorted in-horizon history + incremental
    fold fast path + exact merge-and-refold on out-of-order arrivals.
    This gate runs WITHOUT a watermark (wm = 0, nothing collapses):
    exact unbounded replay is what it proves, since the fixture
    replay gives no cross-batch late bound. The production path —
    state bounded by the watermark horizon via the frozen-prefix
    collapse — is the SAME kernel with a watermark on the stream,
    exercised with deep per-user histories by
    tests/test_streaming.py::test_ewma_watermark_collapse_*. Each
    batch emits the fold-so-far (update mode); the final answer per
    key is the row with the largest n_events (monotone per batch),
    reduced by a max-of-ordering-struct after the drain."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out = (
        events_stream(spark, sf_dir)
        .select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_ewma_update(),
            outputStructType=(
                "user_id long, n_events long, "
                "last_value_micro long, ewma_micro long"
            ),
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = run_to_memory(out, mode="update")
    return (
        drained.groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_events", "last_value_micro", "ewma_micro")
            ).alias("b")
        )
        .select(
            "user_id",
            F.col("b.n_events").alias("n_events"),
            F.col("b.last_value_micro").alias("last_value_micro"),
            F.col("b.ewma_micro").alias("ewma_micro"),
        )
    )


@gate_query(
    "stream_checkpoint_recovery",
    oracle=_EPOCH_SINK_ORACLE,
    tags=("streaming", "sink"),
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed RESTART idempotence — the operational property
    that makes streaming pipelines production-safe: a drained query
    restarted against the SAME checkpoint must re-emit nothing. The
    gate drains the event stream through a foreachBatch epoch sink
    (idempotent per-epoch commit), awaits termination, then starts a
    SECOND identical query on the same checkpoint — Spark's offset
    log says every input file is already committed, so run 2 writes
    zero new epochs — and only then reads the sink back. The oracle
    aggregates the source once: a value match proves the two runs
    together delivered each row exactly once (a restart bug would
    double every count; a truncated recovery would halve them). The
    restarted query is also asserted batch-empty via its progress
    metrics, so the no-op isn't inferred from the counts alone.
    Scratch layout per the connectors convention (per-PID dir, wiped
    per call — each builder invocation replays the full two-run
    lifecycle deterministically)."""
    import shutil as _shutil

    from big_data_flight_spark.sources.connectors import _TMP

    out = os.path.join(_TMP, "ckpt_recovery")
    _shutil.rmtree(out, ignore_errors=True)
    data, checkpoint = f"{out}/data", f"{out}/_checkpoint"
    _drain_epochs(spark, sf_dir, data, checkpoint)
    _, replayed = _drain_epochs(spark, sf_dir, data, checkpoint)  # must be a no-op
    if replayed != 0:
        raise AssertionError(
            f"checkpoint recovery replayed {replayed} rows — restart is "
            "not idempotent"
        )
    return _epoch_totals(spark, data)


# ---------------------------------------------------------------------------
# stream_session_timeout — event-time state TIMERS (r7)
# ---------------------------------------------------------------------------

_SSTO_GAP_MS = 30 * 60 * 1000    # 30 min inactivity closes a session
_SSTO_DELAY_MS = 10 * 60 * 1000  # watermark delay


def _session_timeout_update(key, pdfs, state):
    """applyInPandasWithState kernel: per-user sessionization where the
    trailing open session is closed by an EVENT-TIME TIMER — the state
    expiry mechanism every other stateful gate leaves unused
    (NoTimeout). Interior sessions close inline the moment the event
    opening the next session arrives; the last session closes when the
    watermark strictly passes last_event_ms + gap (boundary semantics
    measured, see the gate docstring). State per user is O(1): the
    open session's (n, first_us, last_us)."""
    import pandas as pd

    if state.hasTimedOut:
        n, first_us, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "first_us": [first_us],
                "last_us": [last_us],
            }
        )
        return
    new = []
    for pdf in pdfs:
        for ts in pdf["ts"]:
            new.append(int(ts.value // 1000))  # pandas ns -> µs
    new.sort()
    if state.exists:
        n, first_us, last_us = state.get
    else:
        n, first_us, last_us = 0, None, None
    if new and last_us is not None and new[0] < last_us:
        # Single-data-batch contract (the fixture source is one file):
        # cross-batch disorder would corrupt session boundaries, so it
        # must fail loudly, never mis-sessionize. An exact multi-batch
        # form would buffer the in-horizon suffix like stream_ewma.
        raise ValueError(
            f"user {key[0]}: arrival at {new[0]} before open-session "
            f"tail {last_us} — single-batch delivery contract violated"
        )
    closed = []
    for us in new:
        if last_us is not None and us - last_us > _SSTO_GAP_MS * 1000:
            closed.append((n, first_us, last_us))
            n, first_us = 0, None
        if first_us is None:
            first_us = us
        n += 1
        last_us = us
    state.update((n, first_us, last_us))
    # timer in ms; fires on the no-data batch once wm_ms > this value
    state.setTimeoutTimestamp(last_us // 1000 + _SSTO_GAP_MS)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "n_events": [c[0] for c in closed],
                "first_us": [c[1] for c in closed],
                "last_us": [c[2] for c in closed],
            }
        )


@gate_query(
    "stream_session_timeout",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT user_id, epoch_us(ts) AS us FROM events
    ),
    marked AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                       > {_SSTO_GAP_MS * 1000} THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    sess AS (
      SELECT user_id, us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    agg AS (
      SELECT user_id, sid,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MIN(us) AS BIGINT) AS first_us,
             CAST(MAX(us) AS BIGINT) AS last_us,
             MAX(sid) OVER (PARTITION BY user_id) AS max_sid
      FROM sess GROUP BY user_id, sid
    ),
    wm AS (SELECT MAX(us) // 1000 - {_SSTO_DELAY_MS} AS wm_ms FROM e)
    SELECT user_id, n_events, first_us, last_us
    FROM agg, wm
    WHERE sid < max_sid
       OR last_us // 1000 + {_SSTO_GAP_MS} < wm_ms
    """,
    tags=("streaming",),
)
def stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with EVENT-TIME TIMER expiry — the one stateful
    mechanism the streaming family had never exercised (every other
    gate runs NoTimeout): the trailing session of each user is closed
    by ``state.setTimeoutTimestamp`` + ``state.hasTimedOut`` when the
    watermark passes its inactivity deadline on the post-data no-data
    batch, exactly how a production pipeline flushes idle per-key
    state. Interior sessions close inline.

    STRONG oracle via measured timer boundary semantics: a timer
    fires iff floor(last_us/1000) + gap_ms < floor(max_us/1000) -
    delay_ms — STRICT less-than against the µs→ms-FLOORED watermark
    (both probed empirically at ±1 ms in
    tests/test_streaming.py::test_session_timeout_boundary_semantics;
    an equality or a rounded watermark flips specific rows). The
    oracle reproduces: every non-last session per user, plus the last
    one under that exact integer condition. All-integer output.

    Scale: state per user is the O(1) open-session triple — the timer
    IS the state bound (idle keys leave the store); payload rows never
    buffer. Single-data-batch delivery is asserted loudly in the
    kernel; the exact multi-batch form would buffer the in-horizon
    suffix the way stream_ewma does."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", f"{_SSTO_DELAY_MS} milliseconds")
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_timeout_update,
            outputStructType=(
                "user_id long, n_events long, first_us long, last_us long"
            ),
            stateStructType="n long, first_us long, last_us long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return run_to_memory(out, mode="append")


@gate_query(
    "stream_state_restore",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming",),
)
def stream_state_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-aggregation STATE restore across a query restart —
    the second half of production restartability next to
    stream_checkpoint_recovery (which proves the OFFSET log makes a
    restart a no-op): here the input genuinely grows between runs, so
    run 2 must (a) process only the new file, proven from progress
    metrics, and (b) resume the running per-key aggregate from the
    recovered STATE STORE, not from zero. The fixture is split in two
    halves by event_id parity staged as two files; run 1 sees only
    half A, the second file lands, run 2 (same checkpoint) drains the
    remainder in complete mode — its final emission equals the
    whole-table aggregate iff the state store restored A's counts
    under B's processing. A state-recovery bug shows up as only-B
    counts (or doubled-A on an offset bug — the sibling gate's axis),
    and either flips n and sum_id for every key. Scale: this is the
    HDFS/RocksDB state-store recovery path every long-running
    aggregation relies on when executors are preempted."""
    import shutil as _shutil

    from big_data_flight_spark.sources.connectors import _TMP

    root = os.path.join(_TMP, "state_restore")
    _shutil.rmtree(root, ignore_errors=True)
    src_dir = os.path.join(root, "src")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src_dir, "half=a")
    )
    schema = ev.schema

    def drain(run: int) -> tuple[int, DataFrame]:
        agg = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("event_id").cast("long").alias("sum_id"),
            )
        )
        name = f"restore_{os.getpid()}_{run}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(root, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = sum(p.numInputRows for p in q.recentProgress)
        out = spark.table(name).localCheckpoint()
        spark.catalog.dropTempView(name)
        return rows, out

    n_a, _ = drain(1)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src_dir, "half=b")
    )
    n_b, final = drain(2)
    n_half_a = ev.filter(F.col("event_id") % 2 == 0).count()
    if n_a != n_half_a or n_b != ev.count() - n_half_a:
        raise AssertionError(
            f"restart processed wrong row counts: run1={n_a} (want "
            f"{n_half_a}), run2={n_b} (want {ev.count() - n_half_a}) — "
            "offset recovery broken, counts below would mask which half"
        )
    return final


@gate_query(
    "stream_ewma_bounded",
    oracle=EWMA_ORACLE,
    tags=("streaming",),
)
def stream_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-horizon EWMA — the PRODUCTION form of
    stream_ewma, driver-gated end to end (closes the loop on VERDICT
    r6 #4: the collapse no longer lives only in unit tests): the
    fixture is staged as four ts-range files with pinned increasing
    mtimes, replayed one file per micro-batch under a 1-hour
    watermark, so the watermark genuinely advances between batches
    and the SAME kernel (_make_ewma_update) folds history older than
    the horizon into the frozen-prefix scalars while the fold stays
    bit-exact — the oracle is the identical EWMA_ORACLE over all
    events. Output is invariant to WHERE the collapse boundary lands
    (s is the fold over everything; collapse only re-organizes
    state), so the µs→ms watermark arithmetic has zero parity
    surface. A driver-side self-audit asserts the state really
    collapsed (max retained suffix ≪ max per-user history) and that
    ts-range staging dropped nothing. Nothing is late by
    construction: file k+1's (ts, event_id) min follows file k's
    max, so arrivals are never behind the watermark."""
    import glob as _glob
    import shutil as _shutil
    import time as _time

    from pyspark.sql import Window as _W
    from pyspark.sql.streaming.state import GroupStateTimeout

    from big_data_flight_spark.sources.connectors import _TMP

    root = os.path.join(_TMP, "ewma_bounded")
    _shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    k_files = 4
    staged = ev.withColumn(
        "f", F.ntile(k_files).over(_W.orderBy("ts", "event_id"))
    )
    # ONE dynamic-partition write stages all four ts-range files
    # (r13, VERDICT r12 #4 / guide §6): the per-k filter loop re-ran
    # the global ntile window — a full scan + single-partition sort —
    # once PER FILE (4 write jobs, 4 window sorts). partitionBy("f")
    # from the window's single partition emits the identical
    # f=k/<one parquet file> layout (f dropped from the data files,
    # same four row sets) in one job with one window sort. mtimes are
    # pinned increasing per range AFTER the write, as before, so
    # maxFilesPerTrigger=1 still replays oldest-first.
    staged.coalesce(1).write.partitionBy("f").parquet(src)
    t0 = _time.time() - 3600
    for k in range(1, k_files + 1):
        for part in _glob.glob(os.path.join(src, f"f={k}", "*.parquet")):
            os.utime(part, (t0 + 60 * k, t0 + 60 * k))
    out = (
        spark.readStream.schema(ev.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_ewma_update(diag=True),
            outputStructType=(
                "user_id long, n_events long, "
                "last_value_micro long, ewma_micro long, state_rows long"
            ),
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = run_to_memory(out, mode="update")
    final = (
        drained.groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_events", "last_value_micro", "ewma_micro", "state_rows")
            ).alias("b")
        )
        .select(
            "user_id",
            F.col("b.n_events").alias("n_events"),
            F.col("b.last_value_micro").alias("last_value_micro"),
            F.col("b.ewma_micro").alias("ewma_micro"),
            F.col("b.state_rows").alias("state_rows"),
        )
        .localCheckpoint()
    )
    # Self-audit scalars (sanctioned class): the collapse must have
    # actually bounded state, and staging must have dropped nothing.
    audit = final.agg(
        F.max("state_rows"), F.max("n_events"), F.sum("n_events")
    ).collect()[0]
    if audit[2] != ev.count():
        raise AssertionError(
            f"ts-range staging lost events: folded {audit[2]} of {ev.count()}"
        )
    if audit[0] >= audit[1]:
        raise AssertionError(
            f"horizon collapse never ran: max retained suffix {audit[0]} "
            f">= max history {audit[1]}"
        )
    return final.drop("state_rows")


# ---------------------------------------------------------------------------
# stream_incremental_dedup — streaming ingest dedup against a static
# corpus index (r8; the streaming twin of text_dedup_incremental)
# ---------------------------------------------------------------------------


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-backed streaming source over the documents table (no
    dtype guard needed — documents carries no timestamps)."""
    return _stream_source(spark, sf_dir, "documents")


@gate_query(
    "stream_incremental_dedup",
    oracle=_INCR_ORACLE,
    tags=("streaming", "text", "dedup"),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest dedup — the production form of
    text_dedup_incremental: new documents ARRIVE AS A STREAM, each
    micro-batch's shingles join the STATIC corpus inverted index
    (stream-static join, the standing-index pattern), and the
    streaming side aggregates the per-(arrival, corpus-doc) common-
    shingle counts and scores them: shingle_jaccard with the stream as
    its ``probe`` and the static batch shingles as the size source.
    Counting is arrival-order-insensitive, so after the availableNow
    drain the scored pair table equals the batch gate's; the verdicts
    (best match, is_new) run batch-side on the drained rows, and the
    gate shares the batch gate's ORACLE VERBATIM (module constant
    _INCR_ORACLE): a strong cross-engine check of the whole streaming
    path.

    State story at scale: the streaming aggregation keys on
    (arriving doc, matched corpus doc) — bounded by the index
    postings each arrival touches, NOT by corpus size; in production
    the drain is a foreachBatch upsert and arrivals age out of state
    with a watermark on ingest time (the fixture source carries no
    event time, so this bounded drain stands in for one horizon)."""
    is_batch = F.col("doc_id") % _INCR_BATCH_MOD == _INCR_BATCH_MOD - 1

    docs_static = fan_out(table(spark, sf_dir, "documents"), "doc_id")
    batch = docs_static.filter(is_batch)

    def shingled(d: DataFrame, key: str) -> DataFrame:
        return shingles(d, 3).select(F.col("doc_id").alias(key), "shingle")

    arriving = documents_stream(spark, sf_dir).filter(is_batch).select("doc_id", "text")
    scored = shingle_jaccard(
        shingled(batch, "b_id"),
        shingled(docs_static.filter(~is_batch), "c_id"),
        probe=shingled(arriving, "b_id"),
    )
    return _incremental_verdicts(batch, run_to_memory(scored, mode="complete"))


# ---------------------------------------------------------------------------
# stream_drift_tv — streaming twin of dq_drift_tv (r9-s2): incremental
# histogram maintenance with fixed edges, the production drift-monitor
# arrival path.
# ---------------------------------------------------------------------------


@gate_query(
    "stream_drift_tv",
    oracle=_DRIFT_TV_ORACLE,
    tags=("streaming", "dq"),
)
def stream_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dq_drift_tv: a production drift monitor does
    NOT re-scan history — it maintains per-(type, half, bin) counts
    incrementally as events arrive against FIXED histogram edges, and
    evaluates the distance on demand. This gate runs exactly that
    shape: the bin/half edges are derived once as a 5-scalar 1-row
    config read that ALSO carries the conservation row count — one
    extra batch scan total, not two (ADVICE r9; the static-monitor-
    config class now named in CLAUDE.md invariant 4) — the stream folds
    arrivals into a running count state (partial aggregation in the
    state store — the same map-side-combine story as batch, but across
    micro-batches), and the drained counts finish through the
    IDENTICAL exact-integer TV algebra (operators.etl._drift_tv_finish)
    so the driver hash-checks the streaming path against the SAME
    DuckDB oracle as the batch gate. A conservation self-audit asserts
    the state counts total the source row count — a dropped or
    double-counted micro-batch cannot pass."""
    # Monitor config: global time/value bounds as O(1) scalars.
    ev_b = table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("vu"),
        F.unix_micros("ts").alias("tu"),
    )
    # One combined scan serves config AND audit (ADVICE r9: the row
    # count rides the same aggregate instead of a second full pass).
    row = ev_b.agg(
        F.min("tu"), F.max("tu"), F.min("vu"), F.max("vu"), F.count(F.lit(1))
    ).collect()[0]
    tmin, tmax, vmin, vmax = int(row[0]), int(row[1]), int(row[2]), int(row[3])
    src_rows = int(row[4])

    s = events_stream(spark, sf_dir)
    binned = s.selectExpr(
        "event_type",
        f"CASE WHEN (unix_micros(ts) - {tmin}L) * 2 < {tmax - tmin}L "
        "THEN 0 ELSE 1 END AS half",
        f"LEAST(9, ((CAST(floor(value * 1000000 + 0.5) AS BIGINT) - {vmin}L)"
        f" * 10) DIV GREATEST({vmax - vmin + 1}L, 1L)) AS bin",
    )
    counts = binned.groupBy("event_type", "half", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    drained = run_to_memory(counts, mode="complete")

    # Conservation self-audit (sanctioned O(1) scalar): state counts
    # must total the source rows exactly.
    folded = drained.agg(F.sum("n")).collect()[0][0]
    if folded != src_rows:
        raise AssertionError(
            f"streaming histogram lost/duplicated rows: {folded} != {src_rows}"
        )

    cnt = drained.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 0, F.col("n")).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("half") == 1, F.col("n")).otherwise(0))
        .cast("long").alias("n_b"),
    )
    return _drift_tv_finish(cnt)


# ---------------------------------------------------------------------------
# stream_dq_expectations — streaming twin of etl.dq_expectations (r11):
# the data-contract check evaluated on the ARRIVAL path instead of a
# batch re-scan before table promotion.
# ---------------------------------------------------------------------------


@gate_query(
    "stream_dq_expectations",
    oracle="""
    WITH e AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             -- uniqueness counts NULL as ONE key (matching the Spark
             -- side's groupBy(event_id), where the null group is a
             -- single state row): extra occurrences = rows minus
             -- distinct non-null keys minus the null "key" if present.
             CAST(COUNT(*) - COUNT(DISTINCT event_id)
                  - CASE WHEN COUNT(*) > COUNT(event_id) THEN 1 ELSE 0 END
                  AS BIGINT) AS vu,
             CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS vn,
             CAST(SUM(CASE WHEN value < 0.0 OR value > 50.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS vr,
             CAST(SUM(CASE WHEN event_type NOT IN
                        ('click', 'error', 'purchase', 'signup', 'view')
                      THEN 1 ELSE 0 END) AS BIGINT) AS vt,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-01'
                             OR ts >= TIMESTAMP '2024-01-15'
                      THEN 1 ELSE 0 END) AS BIGINT) AS vw
      FROM events
    )
    SELECT * FROM (
      SELECT 'events.event_id.unique' AS expectation,
             n AS n_checked, vu AS n_violations, vu = 0 AS passed FROM e
      UNION ALL SELECT 'events.event_type.in_set', n, vt, vt = 0 FROM e
      UNION ALL SELECT 'events.ts.window_jan01_15', n, vw, vw = 0 FROM e
      UNION ALL SELECT 'events.user_id.not_null', n, vn, vn = 0 FROM e
      UNION ALL SELECT 'events.value.range_0_50', n, vr, vr = 0 FROM e
    )
    ORDER BY expectation
    """,
    tags=("streaming", "dq"),
)
def stream_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of etl.dq_expectations (which see for the batch
    form and the one-scan-per-table scale argument): a production data
    contract is enforced on the ARRIVAL path — per-micro-batch checks
    folded into standing state — not by re-scanning history before
    each promotion. Division of labor: etl.dq_expectations owns the
    multi-TABLE batch contract (uniqueness/range/FK across orders,
    lineitem, customer); this gate owns the single-STREAM contract on
    events, with the uniqueness expectation carried by keyed state.

    Shape: ONE streaming groupBy(event_id) — the same standing
    key-index a streaming dedup maintains (stream_incremental_dedup's
    state story) — whose per-key aggregate carries every per-row rule
    as a conditional-count column (adding a rule adds a column, not a
    state or a pass; the dq_expectations convention). Uniqueness then
    falls out of the drained state for free (sum(cnt) - n_keys; a NULL
    event_id is ONE state key like any other, and the oracle mirrors
    that exactly — SQL COUNT(DISTINCT) ignores NULLs, so it subtracts
    the null "key" explicitly when present; r11 review caught the
    1-off divergence a regenerated fixture with null ids would have
    exposed), and the four row-level rules finish as column sums over
    the drained keys. The drained finish is a 5-expectation stack to the same
    LONG form (expectation, n_checked, n_violations, passed) as the
    batch gate, so downstream alerting keys on the expectation name
    identically for both paths. A conservation self-audit (sanctioned
    O(1) scalar; CLAUDE.md invariant 4) asserts the state totals the
    source row count — a dropped or double-counted micro-batch cannot
    pass. At 100 TB the state store shards by event_id hash across
    executors (state-store width is the live lever stream_source_sink
    documents); the fixed window literals are contract constants, not
    data-derived, so no config scan is needed.

    MEASURED state growth (r12 10x rehearsal, VERDICT r11 #3 — the
    claim above load-tested; numbers in BASELINE.md round-12): peak
    state rows read EXACTLY the distinct-key count at every scale
    (200k @ 2x, 1M @ 10x, 3M @ 30x; conservation audit green at each),
    while the windowed-agg and drift drains held their input-invariant
    150 / 87 rows. Linear keyed state is INHERENT to exact global
    uniqueness — no algorithm checks "never seen before" with less —
    and it scales OUT (hash-sharded per state-store partition: 10^11
    keys over 10^4 partitions at ~60 B/key is ~600 MB/partition,
    disk-backed RocksDB territory, not OOM). When even that is too
    much, the honest relaxation is the WATERMARK-SCOPED contract ("no
    duplicate within the lateness window") whose state expires with
    the watermark — stream_dedup's dropDuplicatesWithinWatermark
    path — at the cost of missing late re-sends of old keys."""
    # Conservation scalar: one count off the batch footprint.
    src_rows = table(spark, sf_dir, "events").count()

    s = events_stream(spark, sf_dir)
    allowed = ("click", "error", "purchase", "signup", "view")
    lo = F.lit("2024-01-01").cast("timestamp")
    hi = F.lit("2024-01-15").cast("timestamp")
    per_key = s.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("vn"),
        F.sum(
            F.when((F.col("value") < 0.0) | (F.col("value") > 50.0), 1).otherwise(0)
        ).alias("vr"),
        F.sum(
            F.when(~F.col("event_type").isin(*allowed), 1).otherwise(0)
        ).alias("vt"),
        F.sum(
            F.when((F.col("ts") < lo) | (F.col("ts") >= hi), 1).otherwise(0)
        ).alias("vw"),
    )
    drained = run_to_memory(per_key, mode="complete")

    folded = drained.agg(F.sum("cnt")).collect()[0][0]
    if folded != src_rows:
        raise AssertionError(
            f"streaming contract state lost/duplicated rows: {folded} != {src_rows}"
        )

    agg = drained.agg(
        F.sum("cnt").cast("long").alias("n"),
        (F.sum("cnt") - F.count(F.lit(1))).cast("long").alias("vu"),
        F.sum("vn").cast("long").alias("vn"),
        F.sum("vr").cast("long").alias("vr"),
        F.sum("vt").cast("long").alias("vt"),
        F.sum("vw").cast("long").alias("vw"),
    )
    long_form = agg.selectExpr(
        "stack(5, "
        "'events.event_id.unique', n, vu, "
        "'events.event_type.in_set', n, vt, "
        "'events.ts.window_jan01_15', n, vw, "
        "'events.user_id.not_null', n, vn, "
        "'events.value.range_0_50', n, vr"
        ") AS (expectation, n_checked, n_violations)"
    )
    return long_form.select(
        "expectation",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
