"""Window-function operators — SURVEY.md §2.5.

Every window here orders by a TOTAL key (measure + id tie-break) so
results are deterministic across engines — rank ties are the classic
oracle-flap source. Window partitions shuffle on partitionBy keys;
at 100 TB the partition key choice IS the scale story (per-user and
per-nation partitions are naturally bounded; a global orderBy window
with no partition is a single-task antipattern — only win_running
uses one, and its docstring says why that's still OK at fixture scale
and what to do at cluster scale)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_flight_spark.io import table
from big_data_flight_spark.registry import dsum, gate_query


@gate_query(
    "win_rank",
    oracle="""
    SELECT n_name, c_custkey, c_acctbal,
           row_number()  OVER w AS rn,
           rank()        OVER w AS rnk,
           dense_rank()  OVER w AS drnk
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey)
    """,
    tags=("window",),
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per nation, richest customer
    first; c_custkey tie-break makes row_number deterministic."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
    )


@gate_query(
    "win_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
             ) AS rn
      FROM part
    ) WHERE rn <= 3
    """,
    tags=("window",),
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 priciest parts per brand (flight-canonical 'top routes per
    airport' shape). Spark pushes the rank filter into the window sort
    (WindowGroupLimit) — no full materialization of ranked rows."""
    p = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        p.select("p_brand", "p_partkey", "p_retailprice", F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@gate_query(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id, event_type,
           epoch_us(ts) - epoch_us(lag(ts)  OVER w) AS gap_us,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "event"),
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (lag) and next event type (lead).
    Gap computed in integer microseconds — exact on both engines."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@gate_query(
    "win_running",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                OVER (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_revenue
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
    """,
    tags=("window",),
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) revenue over time. Unpartitioned window =
    single task: fine on a filtered slice; at 100 TB partition by a
    coarse time bucket and add the previous buckets' grand totals
    (two-pass pattern) instead of a global window."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp")
    )
    w = (
        Window.orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double").alias(
            "running_revenue"
        ),
    )


@gate_query(
    "win_moving",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
             / COUNT(value) OVER w AS moving_avg_7,
           COUNT(*) OVER w AS frame_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "event"),
)
def win_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over the trailing 7-row frame per user (exact
    decimal sum / count so both engines agree bit-for-bit)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    return e.select(
        "user_id",
        "event_id",
        "ts",
        (
            F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double")
            / F.count("value").over(w)
        ).alias("moving_avg_7"),
        F.count(F.lit(1)).over(w).alias("frame_n"),
    )


@gate_query(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, day_no,
           COUNT(*) OVER (ORDER BY day_no RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
             AS n_last_30d
    FROM (
      SELECT o_orderkey, date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS day_no
      FROM orders WHERE o_orderkey < 400
    )
    """,
    tags=("window",),
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric day number: how many of the last 30
    days' orders precede each order (value-based frame, includes ties,
    unlike ROWS)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    t = o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).cast("long").alias("day_no"),
    )
    w = Window.orderBy("day_no").rangeBetween(-30, 0)
    return t.select("o_orderkey", "day_no", F.count(F.lit(1)).over(w).alias("n_last_30d"))


@gate_query(
    "win_ntile_percent",
    oracle="""
    SELECT c_custkey, c_acctbal,
           ntile(4)       OVER w AS quartile,
           ROUND(percent_rank() OVER w, 9) AS pct_rank,
           ROUND(cume_dist()    OVER w, 9) AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window",),
)
def win_ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution functions: quartile bucket, percent_rank, cume_dist
    over account balance (rank arithmetic → deterministic doubles;
    rounded to 9dp defensively).

    Scale note: the unpartitioned ORDER BY window moves EVERY customer
    through one task — fine for this fixture, a killer at 100 TB. The
    scale recipe (same as win_running / agg_equidepth_histogram): pass
    1 computes per-range-bucket counts (range-partitioned sort), pass
    2 broadcasts the cumulative bucket offsets and each partition
    ranks locally, adding its offset — ntile/percent_rank/cume_dist
    are all rank arithmetic, so they follow from the corrected global
    rank. Spark's own sort is range-partitioned; only the window's
    single-frame semantics force the one-task fallback here."""
    c = table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )


@gate_query(
    "win_share_of_total",
    oracle="""
    WITH nat AS (
      SELECT n_name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, revenue,
           ROUND(revenue / SUM(revenue) OVER (), 9)                    AS share,
           ROUND(revenue / MAX(revenue) OVER (), 9)                    AS vs_best,
           CAST(rank() OVER (ORDER BY revenue DESC, n_name) AS BIGINT) AS rev_rank
    FROM nat
    """,
    tags=("window",),
)
def win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total / percent-of-max via an unpartitioned window
    over an ALREADY-AGGREGATED frame (25 rows — the right place for a
    global window: aggregate first, window the small result; never
    window the raw fact table globally)."""
    from big_data_flight_spark.io import table as t

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("o_totalprice", "revenue"))
    )
    w_all = Window.partitionBy()
    return nat.select(
        "n_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w_all), 9).alias("share"),
        F.round(F.col("revenue") / F.max("revenue").over(w_all), 9).alias("vs_best"),
        F.rank()
        .over(Window.orderBy(F.col("revenue").desc(), F.col("n_name")))
        .cast("long")
        .alias("rev_rank"),
    )


@gate_query(
    "win_first_last",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           first_value(s_acctbal) OVER w AS best_bal,
           last_value(s_acctbal)  OVER w AS worst_bal,
           nth_value(s_acctbal, 2) OVER w AS second_bal
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window",),
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value over the FULL partition frame (the default
    frame stops at CURRENT ROW — explicit frame or last_value lies)."""
    s = table(spark, sf_dir, "supplier")
    w = (
        Window.partitionBy("s_nationkey")
        .orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.first("s_acctbal").over(w).alias("best_bal"),
        F.last("s_acctbal").over(w).alias("worst_bal"),
        F.nth_value("s_acctbal", 2).over(w).alias("second_bal"),
    )


@gate_query(
    "win_rolling_median",
    oracle="""
    SELECT user_id, event_id, ts,
           CASE WHEN n % 2 = 1 THEN l[(n + 1) // 2]
                ELSE (l[n // 2] + l[n // 2 + 1]) / 2.0 END
             AS rolling_median_7,
           n AS frame_n
    FROM (
      SELECT user_id, event_id, ts,
             list_sort(list(value) OVER w) AS l,
             COUNT(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    """,
    tags=("window", "event"),
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median over the trailing 7-row frame per user —
    the order-statistic window no built-in frame aggregate computes
    (win_moving is the mean twin). Neither engine's median() is used:
    both sides collect the frame, sort it, and PICK the middle —
    odd n takes element (n+1)/2, even n averages the two middles with
    the literal (a + b) / 2.0 (ONE add + ONE divide on identical
    doubles — bit-exact, unlike engine median() interpolation, whose
    lower + (upper-lower)*fraction form rounds differently). Picks
    and single-op combines are parity-safe on raw doubles (the LOCF
    rule); no decimal quantization, no display rounding needed.

    Scale: one shuffle on user_id; per-row cost is O(k log k) with
    k = 7 bounded by the frame, state never exceeds the frame. The
    10-element cap pattern (collect over a bounded frame) is the same
    contract as win_moving."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    sorted_frame = F.sort_array(F.collect_list("value").over(w))
    n = F.count(F.lit(1)).over(w)
    t = e.select(
        "user_id",
        "event_id",
        "ts",
        sorted_frame.alias("l"),
        n.alias("frame_n"),
    )
    odd = F.element_at("l", ((F.col("frame_n") + 1) / 2).cast("int"))
    even = (
        F.element_at("l", (F.col("frame_n") / 2).cast("int"))
        + F.element_at("l", (F.col("frame_n") / 2 + 1).cast("int"))
    ) / F.lit(2.0)
    return t.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("frame_n") % 2 == 1, odd).otherwise(even).alias(
            "rolling_median_7"
        ),
        "frame_n",
    )
