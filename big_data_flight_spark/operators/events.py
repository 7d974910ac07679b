"""Event-time operators over the ``events`` stream table — SURVEY.md §2.9.

Batch-first (the driver's correctness gate materializes batch
DataFrames); each op has a Structured-Streaming twin in
streaming/twins.py where semantics carry over (watermarks,
dropDuplicatesWithinWatermark, session_window).

Determinism contract used throughout: event order within a user is
``(ts, event_id)`` — ts alone is not unique; sessions start strictly
when ``gap > timeout``. The oracle SQL encodes the identical
definitions.

Scale notes: every op here shuffles at most once, on either the
window bucket or user_id. Per-user windows are naturally bounded
partitions; tumbling/sliding buckets are time-bounded. The sliding
window multiplies rows by (window/slide) BEFORE the shuffle — that
×4 blowup is the accepted cost of the declarative form (same as
Spark's own window() implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_flight_spark.io import table
from big_data_flight_spark.registry import DSUM, dsum, dsum_dec, gate_query

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


@gate_query(
    "evt_tumbling_window",
    oracle=f"""
    SELECT
      time_bucket(INTERVAL '1 day', ts) AS day_start,
      event_type,
      COUNT(*) AS n,
      {DSUM("value", "sum_value")}
    FROM events
    GROUP BY day_start, event_type
    """,
    tags=("event",),
)
def evt_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day tumbling window counts/sums per event_type. Spark's
    window() aligns buckets to the epoch in UTC — identical to
    DuckDB's time_bucket for day/hour intervals."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("day_start"), "event_type", "n", "sum_value")
    )


@gate_query(
    "evt_sliding_window",
    oracle=f"""
    SELECT
      time_bucket(INTERVAL '6 hours', ts) - k * INTERVAL '6 hours' AS w_start,
      COUNT(*) AS n,
      {DSUM("value", "sum_value")}
    FROM events CROSS JOIN (SELECT unnest(range(4)) AS k)
    GROUP BY w_start
    """,
    tags=("event",),
)
def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day window sliding every 6h: each event lands in exactly 4
    windows (window/slide). The oracle reconstructs the same window
    assignment arithmetically."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("w_start"), "n", "sum_value")
    )


# Shared session-id construction (lag → gap flag → running sum).
def _with_session_id(e: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.withColumn("session_id", F.sum(is_new).over(run))


_SESSION_CTE = """
  sess AS (
    SELECT
      user_id, event_id, ts, event_type, value,
      CAST(SUM(CASE WHEN prev_ts IS NULL
                 OR epoch_us(ts) - epoch_us(prev_ts) > 30*60*1000000
               THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM (
      SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
  )
"""


@gate_query(
    "evt_session_window",
    oracle=f"""
    WITH {_SESSION_CTE}
    SELECT user_id, event_id, session_id FROM sess
    """,
    tags=("event", "custom"),
)
def evt_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap timeout) via the classic
    lag → new-session flag → running-sum pattern. A session breaks
    strictly when gap > timeout; ties ordered by event_id. The
    streaming twin uses session_window() (streaming/twins.py)."""
    e = table(spark, sf_dir, "events")
    return _with_session_id(e).select("user_id", "event_id", "session_id")


# Shared by evt_session_window_native (batch) and stream_session_window
# (streaming/twins.py) — ONE definition so the two gates cannot drift
# (the graph-family _step_ctes convention). Boundary semantics verified
# EMPIRICALLY on this Spark build (r5 review): two events exactly
# 1800 s apart MERGE into one session — session_window treats an event
# landing exactly on a prior window's end as overlapping — so a new
# session starts strictly at gap > timeout, the SAME boundary as the
# composed lag/cumsum gate. session_end = last event ts + gap by
# definition of the native operator.
SESSION_WINDOW_NATIVE_ORACLE = """
    WITH sess AS (
      SELECT user_id, ts,
             SUM(CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
      )
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_id
    """


@gate_query(
    "evt_session_window_native",
    oracle=SESSION_WINDOW_NATIVE_ORACLE,
    tags=("event",),
)
def evt_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window(ts, gap) in a
    batch groupBy — the built-in operator the composed lag/cumsum gate
    (evt_session_window) reimplements, gated so the two surfaces are
    both oracle-checked. Boundary semantics: measured on this Spark
    build, an event exactly gap seconds after the previous one MERGES
    (a new session starts strictly at gap > timeout) — the same
    boundary as the lag-based gate, so the two surfaces must agree on
    session membership; the oracle (shared with the streaming twin via
    SESSION_WINDOW_NATIVE_ORACLE) encodes strict > and adds the native
    operator's session_end = last_event_ts + gap. At scale the native
    operator is the better physical shape: one hash exchange on
    user_id and a sort-merge session assignment inside the aggregate —
    no windowed lag pass, no second aggregation over session ids."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@gate_query(
    "evt_sessionize_stats",
    oracle=f"""
    WITH {_SESSION_CTE}
    SELECT
      user_id, session_id,
      COUNT(*) AS n_events,
      MIN(ts) AS session_start,
      epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
      {DSUM("value", "sum_value")}
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("event", "custom"),
)
def evt_sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session stats on top of the sessionization: event count,
    start, duration (integer µs — exact), value sum (exact decimal)."""
    e = table(spark, sf_dir, "events")
    return (
        _with_session_id(e)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
            dsum("value", "sum_value"),
        )
    )


@gate_query(
    "evt_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, ts FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("event",),
)
def evt_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup: first event per (user, type) by (ts,
    event_id). dropDuplicates() keeps an ARBITRARY row — fine for
    exactly-once semantics on a unique key, wrong for an oracle
    comparison — so the gate uses the rank form. The streaming twin
    (dropDuplicatesWithinWatermark on event_id) is in
    streaming/twins.py."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@gate_query(
    "evt_late_data",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
    SELECT
      event_type,
      COUNT(*) AS n_total,
      CAST(SUM(CASE WHEN ts >= max_ts - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN ts <  max_ts - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM events, mx
    GROUP BY event_type
    """,
    tags=("event",),
)
def evt_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch-emulated: events older than
    max(ts) - 7d would be dropped by a 7-day watermark. The 1-row max
    is broadcast — no shuffle of the fact side."""
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("max_ts"))
    cutoff = F.col("max_ts") - F.expr("INTERVAL 7 DAYS")
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias("n_dropped"),
        )
    )


@gate_query(
    "evt_stateful_funnel",
    oracle="""
    SELECT
      user_id,
      MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS first_signup,
      MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
      coalesce(
        MIN(CASE WHEN event_type = 'signup' THEN ts END)
          < MIN(CASE WHEN event_type = 'purchase' THEN ts END),
        FALSE) AS converted
    FROM events
    GROUP BY user_id
    """,
    tags=("event",),
)
def evt_stateful_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup→purchase conversion funnel per user, as a conditional
    aggregation (the batch-declarative form of a stateful operator;
    the streaming form would be transformWithStateInPandas)."""
    e = table(spark, sf_dir, "events")
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    return e.groupBy("user_id").agg(
        first_signup.alias("first_signup"),
        first_purchase.alias("first_purchase"),
        F.coalesce(first_signup < first_purchase, F.lit(False)).alias("converted"),
    )


@gate_query(
    "evt_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY from_type), 9)
             AS p_transition
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
    tags=("event",),
)
def evt_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix: counts and conditional probabilities of
    consecutive event-type pairs per user (the origin→destination
    route-matrix shape from flight analytics; also the Markov-chain
    input for funnel modeling). lead() per user, one groupBy, then a
    small window over the |types|² aggregate for row-normalized
    probabilities."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_from), 9).alias("p_transition"),
    )


@gate_query(
    "evt_gap_fill",
    oracle=f"""
    WITH bounds AS (
      SELECT time_bucket(INTERVAL '1 day', MIN(ts)) AS d0,
             time_bucket(INTERVAL '1 day', MAX(ts)) AS d1
      FROM events
    ),
    spine AS (
      SELECT d0 + k * INTERVAL '1 day' AS day_start
      FROM bounds CROSS JOIN (SELECT unnest(range(10000)) AS k)
      WHERE d0 + k * INTERVAL '1 day' <= d1
    ),
    daily AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
             COUNT(*) AS n, {DSUM("value", "sum_value")}
      FROM events WHERE event_type = 'purchase'
      GROUP BY day_start
    )
    SELECT s.day_start,
           coalesce(d.n, 0) AS n,
           coalesce(d.sum_value, 0.0) AS sum_value,
           d.n IS NULL AS is_gap
    FROM spine s LEFT JOIN daily d USING (day_start)
    """,
    tags=("event",),
)
def evt_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: generate the full daily spine between
    min and max event days (sequence + explode — the distributed
    date-spine pattern), left-join the sparse daily aggregate, zero-
    fill the gaps. The flight-canonical 'days with no purchases still
    appear in the trend chart' op. Spine generation is O(days), and
    the 1-row bounds aggregate broadcasts."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("day_start"), "n", "sum_value")
    )
    bounds = e.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day_start")
    )
    return spine.join(daily, "day_start", "left").select(
        "day_start",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.col("n").isNull().alias("is_gap"),
    )


@gate_query(
    "evt_rate_alert",
    oracle="""
    SELECT * FROM (
      SELECT
        time_bucket(INTERVAL '1 day', ts) AS day_start,
        COUNT(*) AS n,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
        ROUND(AVG(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END), 6) AS err_rate
      FROM events
      GROUP BY day_start
    ) WHERE err_rate > 0.15 AND n >= 5
    """,
    tags=("event",),
)
def evt_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-rate alarm: daily windows whose error rate exceeds the
    threshold (alarm-verification pattern — window agg + filter)."""
    e = table(spark, sf_dir, "events")
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(is_err).alias("n_err"),
            F.round(F.avg(is_err.cast("double")), 6).alias("err_rate"),
        )
        .filter((F.col("err_rate") > 0.15) & (F.col("n") >= 5))
        .select(F.col("w.start").alias("day_start"), "n", "n_err", "err_rate")
    )


@gate_query(
    "evt_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, active_week) / 7 AS BIGINT) AS week_no,
           COUNT(DISTINCT user_id) AS n_users
    FROM firsts JOIN active USING (user_id)
    GROUP BY cohort_week, week_no
    """,
    tags=("event",),
)
def evt_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users bucketed by first-seen week,
    counted distinct in each later week. Both engines truncate weeks to
    Monday 00:00, so the day-diff is an exact multiple of 7. Two
    shuffles on user_id (first-seen + distinct activity) then one on the
    tiny cohort matrix; at 100 TB the user_id shuffle is the cost and
    both aggregates partial-combine before exchange."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        firsts.join(active, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_no"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@gate_query(
    "evt_rfm",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(date_diff('day', CAST(MAX(ts) AS DATE),
                  (SELECT CAST(MAX(ts) AS DATE) FROM events)) AS BIGINT) AS recency_days,
             COUNT(*) AS frequency,
             {DSUM("value", "monetary")}
      FROM events GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(NTILE(5) OVER (ORDER BY recency_days, user_id) AS BIGINT) AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m_score
    FROM per_user
    """,
    tags=("event",),
)
def evt_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) user segmentation: days since
    last activity relative to corpus max, event count, exact-decimal
    value sum, each quintile-scored with user_id tie-breaks so NTILE
    assignment is total-ordered and engine-independent. The global-max
    scalar is a broadcast 1-row frame. NTILE over all users is a
    single-partition window — fine for user-dimension cardinality
    (≪ fact cardinality; segment scoring is a last-mile op)."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.to_date(F.max("ts")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("value", "monetary"),
    )
    corpus_max = e.agg(F.to_date(F.max("ts")).alias("corpus_day"))
    per_user = (
        per_user.join(F.broadcast(corpus_max))
        .withColumn("recency_days", F.datediff("corpus_day", "last_day").cast("long"))
        .drop("last_day", "corpus_day")
    )
    w_r = Window.orderBy("recency_days", "user_id")
    w_f = Window.orderBy(F.col("frequency").desc(), "user_id")
    w_m = Window.orderBy(F.col("monetary").desc(), "user_id")
    return per_user.select(
        "user_id", "recency_days", "frequency", "monetary",
        F.ntile(5).over(w_r).cast("long").alias("r_score"),
        F.ntile(5).over(w_f).cast("long").alias("f_score"),
        F.ntile(5).over(w_m).cast("long").alias("m_score"),
    )


@gate_query(
    "evt_zscore_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day
    ),
    stats AS (
      SELECT event_type,
             COUNT(*) AS n_days,
             CAST(SUM(n) AS DOUBLE) AS s1,
             CAST(SUM(n * n) AS DOUBLE) AS s2
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n,
           ROUND((d.n - s1 / n_days)
                 / sqrt((s2 - s1 * s1 / n_days) / (n_days - 1)), 6) AS z,
           ABS((d.n - s1 / n_days)
               / sqrt((s2 - s1 * s1 / n_days) / (n_days - 1))) > 2.0 AS is_anomaly
    FROM daily d JOIN stats s ON d.event_type = s.event_type
    """,
    tags=("event",),
)
def evt_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly flags: z-score of each day's event count
    against that event_type's 30-day mean/stddev. Both engines compute
    stddev from the SAME explicit power sums (integer counts are exact
    in doubles, so s1/s2 are order-independent) rather than their
    builtin stddev kernels, which differ in formulation. Stats table is
    |event_types| rows → broadcast back; one shuffle on the daily key."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").cast("double").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    mean = F.col("s1") / F.col("n_days")
    std = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_days")) / (F.col("n_days") - 1))
    z = (F.col("n") - mean) / std
    return j.select(
        "event_type", "day", "n",
        F.round(z, 6).alias("z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


@gate_query(
    "evt_cooccurrence_pmi",
    oracle="""
    WITH per_user AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
    marginals AS (
      SELECT event_type, COUNT(*) AS n_t FROM per_user GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_ab
      FROM per_user a JOIN per_user b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, CAST(n_ab AS BIGINT) AS n_ab,
           ROUND(ln((n_ab * 1.0 * nu) / (ma.n_t * 1.0 * mb.n_t)), 6) AS pmi
    FROM pairs
    JOIN marginals ma ON ma.event_type = type_a
    JOIN marginals mb ON mb.event_type = type_b
    CROSS JOIN n_users
    """,
    tags=("event",),
)
def evt_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence with pointwise mutual information:
    which behaviors coincide in the same users more than chance
    (PMI = ln(p(a,b) / p(a)p(b)), all probabilities over the user
    base). The self-join runs on per-user DISTINCT types — at most
    |event_types| rows per user — so the pair explosion is bounded by
    the type vocabulary, never by event volume. Marginals and the
    user count broadcast back onto the tiny pair table."""
    e = table(spark, sf_dir, "events")
    per_user = e.select("user_id", "event_type").distinct()
    nu = per_user.agg(F.countDistinct("user_id").alias("nu"))
    marginals = per_user.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = per_user.select(F.col("user_id"), F.col("event_type").alias("type_a"))
    b = per_user.select(F.col("user_id"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ma = marginals.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("na"))
    mb = marginals.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("nb"))
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .join(F.broadcast(nu))
        .select(
            "type_a", "type_b", "n_ab",
            F.round(
                F.log((F.col("n_ab") * F.col("nu")) / (F.col("na") * F.col("nb"))), 6
            ).alias("pmi"),
        )
    )


@gate_query(
    "evt_rollup_cascade",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {DSUM("value", "sum_value")},
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY day_start, event_type
    """,
    tags=("event",),
)
def evt_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup cascade: the day level is computed
    FROM the hour level (sum of sums, sum of counts, min of mins),
    never from raw events — while the oracle aggregates raw directly.
    A hash match proves the re-aggregation is lossless, which is the
    property that lets a 100 TB pipeline maintain only the finest
    rollup incrementally and derive coarser grains from ~1/3600th of
    the data. Decimal partials keep the cascaded sum bit-identical to
    the direct one."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum_dec("value", "sum_dec"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).select(F.col("w.start").alias("hour_start"), "event_type", "n", "sum_dec",
             "min_value", "max_value")
    daily = hourly.groupBy(
        F.window("hour_start", "1 day").alias("w"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").cast("double").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    return daily.select(
        F.col("w.start").alias("day_start"), "event_type", "n", "sum_value",
        "min_value", "max_value",
    )


@gate_query(
    "evt_gapfill_locf",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             value
      FROM events
    ),
    daily AS MATERIALIZED (
      SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               AS sum_value_raw
      FROM e GROUP BY user_id, day
    ),
    b AS (SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM e),
    days AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM b),
    grid AS (
      SELECT u.user_id, d.day
      FROM (SELECT DISTINCT user_id FROM e) u CROSS JOIN days d
    ),
    j AS (
      SELECT g.user_id, g.day, daily.n_events, daily.sum_value_raw
      FROM grid g LEFT JOIN daily USING (user_id, day)
    )
    SELECT user_id, CAST(day AS BIGINT) AS day,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           COALESCE(sum_value_raw, 0.0) AS sum_value,
           last_value(sum_value_raw IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_sum,
           n_events IS NOT NULL AS has_data
    FROM j
    """,
    tags=("events",),
)
def evt_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + resample to a dense daily grid with
    last-observation-carried-forward (the time_bucket_gapfill / locf
    pattern every monitoring and feature-engineering pipeline needs):
    each user gets one row for EVERY day in the observed span — days
    with no events carry n_events = 0 / sum_value = 0.0, and locf_sum
    carries the last observed daily sum forward (NULL before a user's
    first observation, matching SQL last_value IGNORE NULLS). Scale
    shape: the daily pre-aggregation is partial map-side; the dense
    grid is distinct-users × a BROADCAST calendar (the calendar is
    bounded — 100 TB of events still spans only thousands of days);
    the grid join shuffles on (user_id, day); the LOCF window
    partitions by user with at most |days| rows per partition. No
    arithmetic happens after the per-day decimal sum, so the carried
    value is bit-identical in both engines (LOCF is a pick, not a
    fold). Day is an integer index from the epoch date (no bare DATE
    output — parity rule)."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("datediff(to_date(ts), DATE '2024-01-01')")
        .cast("long")
        .alias("day"),
        "value",
    )
    daily = e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value", "sum_value_raw"),
    )
    bounds = e.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    days = bounds.select(
        F.explode(F.sequence("dmin", "dmax")).alias("day")
    )
    grid = e.select("user_id").distinct().crossJoin(F.broadcast(days))
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("sum_value_raw", F.lit(0.0)).alias("sum_value"),
        F.last("sum_value_raw", ignorenulls=True).over(w).alias("locf_sum"),
        F.col("n_events").isNotNull().alias("has_data"),
    )


# Shared by evt_ewma and its stateful streaming twin (stream_ewma in
# streaming/twins.py) — one definition, zero oracle drift.
EWMA_ORACLE = """
    WITH RECURSIVE seq AS MATERIALIZED (
      SELECT user_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
      FROM events
    ),
    fold AS (
      SELECT user_id, i, x, x AS s
      FROM seq WHERE i = 1
      UNION ALL
      SELECT seq.user_id, seq.i, seq.x,
             CAST(floor((fold.s + seq.x) / 2.0) AS BIGINT) AS s
      FROM fold JOIN seq
        ON seq.user_id = fold.user_id AND seq.i = fold.i + 1
    )
    SELECT user_id,
           CAST(MAX(i) AS BIGINT) AS n_events,
           arg_max(x, i) AS last_value_micro,
           arg_max(s, i) AS ewma_micro
    FROM fold
    GROUP BY user_id
    """


@gate_query(
    "evt_ewma",
    oracle=EWMA_ORACLE,
    tags=("event",),
)
def evt_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (half-life
    smoothing, alpha = 1/2) over the event stream — the classic
    time-series state fold no built-in window function expresses
    (EWMA is recursive: s_i = (x_i + s_{i-1}) / 2, not a frame
    aggregate). Values fold in INTEGER micro-units with explicit
    floor((s + x) / 2.0): (s + x) < 2^32 so the double division is
    exact (power of two) and the floor is bit-exact cross-engine —
    the same integer-arithmetic parity construction as pagerank.
    Event order is the module contract (ts, event_id).

    Spark side: one shuffle on user_id, then sort_array(collect_list)
    + F.aggregate — a per-group ordered fold whose NULL-initialized
    accumulator makes s_1 = x_1 without a sentinel. Oracle: the
    identical fold as a recursive CTE stepping i -> i+1 (seq is
    MATERIALIZED — it is referenced by both recursion arms, the
    CLAUDE.md multi-reference rule).

    Scale: group state is one user's history (fixture max 99 events;
    bounded by retention in production). For unbounded histories the
    halving fold forgets: a contribution is integer-zero after ~40
    halvings, so a bounded suffix reproduces the steady state — the
    streaming twin shape would carry s as applyInPandasWithState
    state with O(1) memory. No window-over-raw-events, no driver
    collect; output is |users| rows regardless of input size."""
    ev = table(spark, sf_dir, "events")
    x = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    folded = (
        ev.select("user_id", "ts", "event_id", x.alias("x"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "x"))
            ).alias("h")
        )
        .select(
            "user_id",
            F.size("h").cast("long").alias("n_events"),
            F.element_at("h", -1)["x"].alias("last_value_micro"),
            F.aggregate(
                "h",
                F.lit(None).cast("long"),
                lambda acc, e: F.when(acc.isNull(), e["x"]).otherwise(
                    F.floor((acc + e["x"]) / F.lit(2.0)).cast("long")
                ),
            ).alias("ewma_micro"),
        )
    )
    return folded


@gate_query(
    "evt_anomaly_mad",
    oracle="""
    WITH d AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
             list_sort(list(value)) AS l, COUNT(*) AS n
      FROM events GROUP BY day_start
    ),
    m AS (
      SELECT *, CASE WHEN n % 2 = 1 THEN l[(n + 1) // 2]
                     ELSE (l[n // 2] + l[n // 2 + 1]) / 2.0 END AS med
      FROM d
    ),
    m2 AS (
      SELECT *, list_sort(list_transform(l, x -> abs(x - med))) AS la
      FROM m
    ),
    m3 AS (
      SELECT *, CASE WHEN n % 2 = 1 THEN la[(n + 1) // 2]
                     ELSE (la[n // 2] + la[n // 2 + 1]) / 2.0 END AS mad
      FROM m2
    )
    SELECT day_start, CAST(n AS BIGINT) AS n, med, mad,
           CAST(len(list_filter(l, x -> abs(x - med) > 3 * mad))
                AS BIGINT) AS n_outliers
    FROM m3
    """,
    tags=("event",),
)
def evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-day outlier profile: median + MAD (median absolute
    deviation) and the |x - med| > 3*MAD outlier count — the
    mean/stddev-free twin of evt_zscore_anomaly (one wild value
    cannot drag a median the way it drags a mean, which is why
    monitoring stacks prefer MAD). Both medians are explicit
    sorted-list middle PICKS (the win_rolling_median construction —
    never engine median(), whose even-count interpolation rounds
    differently); |x - med|, 3 * mad and the > compare are identical
    single IEEE ops on identical doubles, so the gate needs no
    rounding at all.

    Scale: one shuffle on the day bucket; per-group state is one
    day's values (bounded by daily volume; at 100 TB swap the exact
    median for the two-pass percentile or the mergeable histogram
    sketch — agg_histogram_quantile — and keep the same 3*MAD rule).
    """
    e = table(spark, sf_dir, "events")
    d = (
        e.groupBy(F.window("ts", "1 day")["start"].alias("day_start"))
        .agg(
            F.array_sort(F.collect_list("value")).alias("l"),
            F.count(F.lit(1)).alias("n"),
        )
    )

    def _mid(arr, n):
        odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
        even = (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        ) / F.lit(2.0)
        return F.when(n % 2 == 1, odd).otherwise(even)

    m = d.select("day_start", "l", "n", _mid(F.col("l"), F.col("n")).alias("med"))
    m2 = m.select(
        "day_start",
        "l",
        "n",
        "med",
        F.array_sort(
            F.transform("l", lambda x: F.abs(x - F.col("med")))
        ).alias("la"),
    )
    m3 = m2.select(
        "day_start",
        "l",
        "n",
        "med",
        _mid(F.col("la"), F.col("n")).alias("mad"),
    )
    return m3.select(
        "day_start",
        F.col("n").cast("long").alias("n"),
        "med",
        "mad",
        F.size(
            F.filter(
                "l",
                lambda x: F.abs(x - F.col("med")) > F.lit(3.0) * F.col("mad"),
            )
        )
        .cast("long")
        .alias("n_outliers"),
    )


@gate_query(
    "evt_ab_test",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
                            ELSE 0 END) >= 10 THEN 1 ELSE 0 END
               AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_conv
      FROM per_user GROUP BY arm
    ),
    wide AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN n_users END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 0 THEN n_conv END) AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN arm = 1 THEN n_users END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 1 THEN n_conv END) AS BIGINT) AS conv_b
      FROM arms
    )
    SELECT n_a, conv_a, n_b, conv_b,
           conv_a * 1000000 // n_a AS conv_a_micro,
           conv_b * 1000000 // n_b AS conv_b_micro,
           CASE WHEN se > 0 THEN
             floor(((CAST(conv_a AS DOUBLE) / n_a
                     - CAST(conv_b AS DOUBLE) / n_b) / se)
                   * 1000000 + 0.5) / 1000000
           END AS z_d6
    FROM (
      SELECT *,
             sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b)) AS se
      FROM wide
    )
    """,
    tags=("event", "agg"),
)
def evt_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — the two-proportion z-test every
    product-analytics stack runs: users deterministically assigned to
    arms (user_id % 2 — the hash-bucket assignment real experiment
    platforms use, RNG-free so the gate is replayable), conversion =
    at least 10 purchases (>= 10 in BOTH the builder below and the
    oracle's inlined SUM(CASE purchase)>=10; at fixture scale every user makes a
    purchase, so an any-purchase definition would degenerate to 100%
    pooled conversion and a NULL z), pooled-variance z statistic.
    Parity: counts are
    exact integers; conversion rates display as integer micro-units
    (BIGINT // BIGINT); the z statistic is ONE identical IEEE
    expression tree over doubles derived exactly from those integers
    (int/int division is correctly-rounded, so both engines start
    from bit-identical doubles), displayed via the standard
    floor(x*1e6+0.5)/1e6. Single-row output.

    Scale: two cascaded hash aggregates (user, then arm) — the
    per-user level is the same shuffle any sessionization pays; the
    readout is O(arms)."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= 10
        )
        .cast("int")
        .alias("converted")
    ).select((F.col("user_id") % 2).alias("arm"), "converted")
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    wide = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n_users"))).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("n_conv"))).cast("long").alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_users"))).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_conv"))).cast("long").alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        p_pool * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    # Degenerate experiment (0% or 100% pooled conversion) -> the
    # pooled variance is 0 and z is undefined: NULL on both engines
    # (ANSI Spark would otherwise raise DIVIDE_BY_ZERO).
    z = F.when(se > 0, (p_a - p_b) / se)
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr("conv_a * 1000000L DIV n_a").alias("conv_a_micro"),
        F.expr("conv_b * 1000000L DIV n_b").alias("conv_b_micro"),
        (F.floor(z * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias("z_d6"),
    )


# ---------------------------------------------------------------------------
# evt_top_paths — 3-step behavioral path mining
# ---------------------------------------------------------------------------

@gate_query(
    "evt_top_paths",
    oracle="""
    WITH seq AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT t1 || '>' || t2 || '>' || t3 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq
      WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n,
           CAST(n * 1000000 // (SELECT SUM(n) FROM paths) AS BIGINT)
             AS share_micro
    FROM paths
    ORDER BY n DESC, path LIMIT 10
    """,
    tags=("event",),
)
def evt_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavioral paths (the higher-order extension
    of evt_transition_matrix — clickstream path mining / route-triple
    analysis): two lead()s over ONE (user, ts, event_id) window
    partitioning turn each event into the path it starts, counting
    shuffles only the |types|³-bounded path table, and the share
    column is an integer micro-unit fraction of all completed triples
    (BIGINT floor division — zero float surface). Total-ordered
    (n DESC, path) top-10.

    Scale: one user_id shuffle for the windows, one path-keyed
    aggregate with map-side partials, one distributed TakeOrdered —
    no path-explosion: k-step paths cost k-1 lead columns, never a
    self-join."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(
        # All three legs non-null in BOTH engines: concat_ws silently
        # skips NULL elements while the oracle's '||' propagates NULL,
        # so an unguarded NULL event_type would diverge ('b>c' vs NULL
        # path group). lead() NULLs at partition tails are covered by
        # t3 alone, but a NULL VALUE in event_type is not.
        F.col("t1").isNotNull()
        & F.col("t2").isNotNull()
        & F.col("t3").isNotNull()
    )
    paths = seq.select(
        F.concat_ws(">", "t1", "t2", "t3").alias("path")
    ).groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # Global-sum window over the AGGREGATED path table: bounded by
    # |types|^3 rows by construction (win_share_of_total's documented
    # single-partition class), so the share needs no second events
    # scan and no 1-row cross join.
    return (
        paths.select(
            "path",
            "n",
            F.expr("n * 1000000L DIV (SUM(n) OVER ())").alias("share_micro"),
        )
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# evt_attribution — first/last-touch conversion attribution (r6)
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 24 * 3600 * 1_000_000  # last-touch lookback horizon


@gate_query(
    "evt_attribution",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS) OVER w AS lt_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN epoch_us(ts) END IGNORE NULLS) OVER w AS lt_us,
             first_value(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS) OVER w AS ft_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    conv AS MATERIALIZED (SELECT * FROM ordered WHERE event_type = 'purchase'),
    credit AS (
      SELECT 'last' AS model,
             CASE WHEN lt_us IS NOT NULL
                       AND epoch_us(ts) - lt_us <= {_ATTR_WINDOW_US}
                  THEN lt_type END AS channel
      FROM conv
      UNION ALL
      SELECT 'first' AS model, ft_type AS channel FROM conv
    )
    SELECT model, COALESCE(channel, '(none)') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions
    FROM credit GROUP BY model, channel
    """,
    tags=("event",),
)
def evt_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion attribution — the marketing-analytics op behind
    every channel-ROI dashboard: each purchase credits (a) the LAST
    non-purchase touch within a 24 h lookback (last-touch model) and
    (b) the user's FIRST-ever non-purchase touch (first-touch model),
    then conversions aggregate per (model, channel). Both touches are
    IGNORE-NULLS window PICKS over one (user, ts, event_id) ordering
    with a rows-unbounded-to-1-preceding frame (the LOCF rule: picks,
    not folds, so string/integer values cross engines verbatim); the
    last-touch type and timestamp are picked by the SAME null
    condition over the SAME frame, so they always come from the same
    row. The 24 h horizon compares exact integer microseconds
    (unix_micros/epoch_us — never float seconds). Purchases with no
    eligible touch credit '(none)' via the same COALESCE both
    engines.

    Scale: ONE user_id shuffle carries all three window picks, and the
    two models' credits leave the SAME pass as an exploded 2-struct
    array (a plain UNION of per-model selects re-executed the windowed
    subtree — measured: 2 events scans, fused to 1, plan-pinned); the
    final aggregate runs over the |purchases| subset with map-side
    partials. No joins, no second events scan."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase_type = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    non_purchase_us = F.when(
        F.col("event_type") != "purchase", F.unix_micros("ts")
    )
    ordered = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(non_purchase_type, ignorenulls=True).over(w).alias("lt_type"),
        F.last(non_purchase_us, ignorenulls=True).over(w).alias("lt_us"),
        F.first(non_purchase_type, ignorenulls=True).over(w).alias("ft_type"),
    )
    conv = ordered.filter(F.col("event_type") == "purchase")
    credits = F.array(
        F.struct(
            F.lit("last").alias("model"),
            F.when(
                F.col("lt_us").isNotNull()
                & (F.unix_micros("ts") - F.col("lt_us") <= _ATTR_WINDOW_US),
                F.col("lt_type"),
            ).alias("channel"),
        ),
        F.struct(F.lit("first").alias("model"), F.col("ft_type").alias("channel")),
    )
    return (
        conv.select(F.explode(credits).alias("e"))
        .groupBy(
            F.col("e.model").alias("model"),
            F.coalesce(F.col("e.channel"), F.lit("(none)")).alias("channel"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
    )


# ---------------------------------------------------------------------------
# evt_path_regex — regex pattern matching over full behavioral journeys (r7)
# ---------------------------------------------------------------------------

# One initial per event type; the CASE is inlined verbatim into the
# oracle so the alphabet cannot drift between engines.
_PR_CASE_SQL = (
    "CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c' "
    "WHEN 'purchase' THEN 'p' WHEN 'view' THEN 'v' WHEN 'error' THEN 'e' "
    "ELSE 'x' END"
)


@gate_query(
    "evt_path_regex",
    oracle=f"""
    WITH j AS (
      SELECT user_id,
             string_agg({_PR_CASE_SQL}, '' ORDER BY ts, event_id) AS journey,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id, journey, n_events,
           regexp_matches(journey, 's.*p') AS converted_after_signup,
           CAST(len(regexp_extract_all(journey, 'cp')) AS BIGINT)
             AS n_click_to_purchase,
           CAST(len(regexp_extract_all(journey, 'ee+')) AS BIGINT)
             AS n_error_bursts
    FROM j
    """,
    tags=("event",),
)
def evt_path_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style behavioral pattern matching, DataFrame-
    native (r7): each user's whole event history becomes an ordered
    initial string (the agg_collect string-render convention — sorted
    struct collect, so the journey is total-ordered on (ts,
    event_id)), and variable-length questions that evt_top_paths'
    fixed 3-step windows cannot express become REGEXES over it: "did
    a signup eventually convert" (s.*p), immediate click→purchase
    adjacencies, runs of consecutive errors (ee+). The regex subset
    used (literals, ., .*, +) has identical semantics in Java regex
    and RE2/DuckDB, and both engines count non-overlapping left-to-
    right matches — the same portability contract replace() relies on
    in the BPE gate. Scale: one user-keyed shuffle; per-user state is
    one |history|-char string (journeys are session-scale — for
    unbounded histories cap or sessionize first, the tokenize
    collect_set precedent)."""
    e = table(spark, sf_dir, "events")
    chr_col = F.expr(_PR_CASE_SQL)
    j = (
        e.select("user_id", "ts", "event_id", chr_col.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "ch"))
                    ),
                    lambda s: s["ch"],
                ),
                "",
            ).alias("journey"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    return j.select(
        "user_id",
        "journey",
        "n_events",
        F.col("journey").rlike("s.*p").alias("converted_after_signup"),
        F.regexp_count("journey", F.lit("cp")).cast("long").alias(
            "n_click_to_purchase"
        ),
        F.regexp_count("journey", F.lit("ee+")).cast("long").alias(
            "n_error_bursts"
        ),
    )


# ---------------------------------------------------------------------------
# evt_attribution_linear — multi-touch attribution (r8): equal-split
# credit across every lookback touch, exact integer micro-credits
# ---------------------------------------------------------------------------

_ATTR_CREDIT_MICRO = 1_000_000  # one conversion = exactly 1e6 micro-credits


@gate_query(
    "evt_attribution_linear",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT p.pid, t.event_type AS channel, t.ts, t.event_id
      FROM p JOIN events t
        ON t.user_id = p.user_id
       AND t.event_type <> 'purchase'
       AND t.ts <= p.p_ts
       AND epoch_us(p.p_ts) - epoch_us(t.ts) <= {_ATTR_WINDOW_US}
    ),
    ranked AS (
      SELECT pid, channel,
             row_number() OVER (PARTITION BY pid ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY pid) AS n_touch
      FROM touch
    ),
    credited AS (
      SELECT pid, channel,
             {_ATTR_CREDIT_MICRO} // n_touch
             + CASE WHEN rn = n_touch
                    THEN {_ATTR_CREDIT_MICRO} % n_touch ELSE 0 END AS credit
      FROM ranked
      UNION ALL
      SELECT pid, '(none)', {_ATTR_CREDIT_MICRO}
      FROM p WHERE NOT EXISTS (SELECT 1 FROM touch WHERE touch.pid = p.pid)
    )
    SELECT channel,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_touched,
           CAST(SUM(credit) AS BIGINT) AS total_credit_micro
    FROM credited GROUP BY channel
    """,
    tags=("event",),
)
def evt_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the third classic model next
    to evt_attribution's last/first-touch picks: every non-purchase
    touch inside the 24 h lookback shares the conversion's credit
    EQUALLY. Credit arithmetic is exact integers: each conversion is
    worth 1e6 micro-credits, each of its n touches gets 1e6 // n, and
    the remainder (1e6 mod n) goes to the LAST touch by the total
    (ts, event_id) order — so per-purchase credits sum to exactly 1e6
    by construction, credits are BIGINTs end-to-end (no float split),
    and the global invariant sum(total_credit_micro) = 1e6 x
    |purchases| is test-pinned. Touch-less purchases credit '(none)'
    in full, keeping the invariant.

    Shape: purchases x lookback touches is a per-user equi-join with
    a time-range predicate (the join_asof oracle's shape; fan-out
    bounded by touches-per-user-day); at 100 TB the band-bucketed
    rewrite (join_range_banded) drops in on the time axis. One window
    ranks touches per purchase; credit assignment is a projection."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    t = e.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
    )
    touch = p.join(
        t,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (
            F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("t_ts"))
            <= _ATTR_WINDOW_US
        ),
    ).select("pid", "channel", "t_ts", "t_id")
    w = Window.partitionBy("pid").orderBy("t_ts", "t_id")
    ranked = touch.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_touch", F.count(F.lit(1)).over(Window.partitionBy("pid"))
    )
    credited = ranked.select(
        "pid",
        "channel",
        (
            F.floor(F.lit(_ATTR_CREDIT_MICRO) / F.col("n_touch")).cast("long")
            + F.when(
                F.col("rn") == F.col("n_touch"),
                F.lit(_ATTR_CREDIT_MICRO) % F.col("n_touch"),
            ).otherwise(0)
        ).alias("credit"),
    )
    untouched = p.join(touch.select("pid").distinct(), "pid", "left_anti").select(
        "pid",
        F.lit("(none)").alias("channel"),
        F.lit(_ATTR_CREDIT_MICRO).cast("long").alias("credit"),
    )
    return (
        credited.unionByName(untouched)
        .groupBy("channel")
        .agg(
            F.count_distinct("pid").cast("long").alias("n_purchases_touched"),
            F.sum("credit").cast("long").alias("total_credit_micro"),
        )
    )


@gate_query(
    "evt_seasonal_anomaly",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(hour(ts) AS INTEGER) AS hr,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vu
      FROM events
    ),
    profile AS (
      SELECT event_type, hr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(vu) AS HUGEINT) AS sv,
             SUM(CAST(vu AS HUGEINT) * vu) AS svv
      FROM v GROUP BY event_type, hr
    )
    SELECT v.event_type,
           v.hr AS hour,
           MAX(p.n) AS n,
           CAST(MAX(p.sv // p.n) AS BIGINT) AS mean_micro,
           CAST(SUM(CASE WHEN
                 (p.n * CAST(v.vu AS HUGEINT) - p.sv)
               * (p.n * CAST(v.vu AS HUGEINT) - p.sv)
               > 9 * (p.n * p.svv - p.sv * p.sv)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM v JOIN profile p
      ON v.event_type = p.event_type AND v.hr = p.hr
    GROUP BY v.event_type, v.hr
    ORDER BY v.event_type, hour
    """,
    tags=("event", "dq"),
)
def evt_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day) baseline profile + population-3σ anomaly
    counts per (event_type, hour) — the time-series monitoring op that
    says "this metric is unusual FOR THIS HOUR", not unusual globally.
    Sibling division of labor: evt_zscore_anomaly flags daily VOLUME
    against a flat 30-day baseline; this gate flags individual VALUES
    against a periodic profile.

    The parity construction is the point: |v − μ| > 3σ is evaluated
    with NO division, NO sqrt and NO float — cross-multiplied into
      (n·v − Σv)² > 9·(n·Σv² − (Σv)²)
    over integer micro-units, Spark side in DECIMAL(38,0) (Σv² ~1e20
    overflows BIGINT; products peak ~1e26, inside 38 digits), DuckDB
    side in HUGEINT — two exact integer representations, bit-identical
    comparisons. sqrt IS correctly-rounded under IEEE and would be
    safe, but ln/exp-free AND division-free means no rounding-boundary
    row can ever flap the flag count.

    Scale shape: profile = one partial+final hash agg to ≤ types×24
    rows, broadcast back onto the second scan (at 100 TB the profile
    is a dashboard-sized dimension); flag counting rides the join
    projection into one final agg. σ=0 cells (constant value) flag
    nothing — both sides of the inequality are 0 and the comparison
    is strict."""
    e = table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("vu"),
    )
    profile = v.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vu").alias("sv"),
        F.sum(
            F.col("vu").cast("decimal(38,0)") * F.col("vu").cast("decimal(38,0)")
        ).alias("svv"),
    )
    j = v.join(F.broadcast(profile), ["event_type", "hr"])
    dev = (
        F.col("n").cast("decimal(38,0)") * F.col("vu").cast("decimal(38,0)")
        - F.col("sv").cast("decimal(38,0)")
    )
    rhs = F.lit(9).cast("decimal(38,0)") * (
        F.col("n").cast("decimal(38,0)") * F.col("svv")
        - F.col("sv").cast("decimal(38,0)") * F.col("sv").cast("decimal(38,0)")
    )
    return (
        j.groupBy("event_type", F.col("hr").alias("hour"))
        .agg(
            F.max("n").alias("n"),
            F.expr("CAST(MAX(sv DIV n) AS BIGINT)").alias("mean_micro"),
            F.sum(F.when(dev * dev > rhs, 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
        )
        .orderBy("event_type", "hour")
    )
