"""ETL / warehouse-maintenance operators — upsert, SCD2, data quality.

The operations a pipeline runs around the analytical queries: merging a
change batch into a snapshot (MERGE INTO semantics without a table
format — pure DataFrame, so it works on plain parquet), building
type-2 slowly-changing-dimension validity intervals from an event
history, and profiling a table for quality violations before it is
allowed downstream.

Scale notes: merge shuffles both sides once on the key (at 100 TB the
snapshot side should be bucketed by key so only the delta shuffles);
SCD2 windows partition by entity (bounded per-entity history); the DQ
profile is a single scan with map-side partial aggregation — its cost
is one pass regardless of how many rules it checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_flight_spark.io import table
from big_data_flight_spark.registry import DSUM, dsum, dsum_dec, gate_query


@gate_query(
    "etl_merge_upsert",
    oracle=f"""
    WITH delta AS (
      SELECT c_custkey, c_acctbal + 100.0 AS new_acctbal
      FROM customer WHERE c_custkey % 10 = 0
    ),
    merged AS (
      SELECT c.c_custkey, c.c_mktsegment,
             COALESCE(d.new_acctbal, c.c_acctbal) AS c_acctbal,
             d.c_custkey IS NOT NULL AS was_updated
      FROM customer c LEFT JOIN delta d USING (c_custkey)
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (was_updated) AS BIGINT) AS n_updated,
           {DSUM("c_acctbal", "sum_bal")}
    FROM merged
    GROUP BY c_mktsegment
    """,
    tags=("etl",),
)
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (update-on-match) semantics on plain parquet: a
    derived change batch overwrites matched rows via left join +
    coalesce; the audit aggregates the merged snapshot. Insert-on-
    no-match is the same plan with a full outer join. The delta is
    10% of keys — at scale, broadcast it and the snapshot never
    shuffles at all."""
    c = table(spark, sf_dir, "customer")
    delta = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100.0).alias("new_acctbal")
    )
    merged = (
        c.join(F.broadcast(delta), "c_custkey", "left")
        .withColumn("was_updated", F.col("new_acctbal").isNotNull())
        .withColumn("c_acctbal", F.coalesce("new_acctbal", "c_acctbal"))
    )
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("was_updated"), 1).otherwise(0)).cast("long").alias("n_updated"),
        dsum("c_acctbal", "sum_bal"),
    )


@gate_query(
    "etl_scd2_intervals",
    oracle="""
    WITH typed AS (
      SELECT user_id, ts, event_type, event_id,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events
    )
    SELECT user_id, ts AS valid_from, valid_to, event_type,
           valid_to IS NULL AS is_current,
           CAST(date_diff('microseconds', ts, COALESCE(valid_to, ts)) AS BIGINT)
             AS duration_us
    FROM typed
    """,
    tags=("etl",),
)
def etl_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD interval construction: each per-user state change
    becomes a [valid_from, valid_to) row, open-ended on the latest
    (is_current). Event order is the (ts, event_id) total order used
    by every event op. One shuffle on user_id; per-user partitions
    are bounded, so the window never spills at scale."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    typed = e.withColumn("valid_to", F.lead("ts").over(w))
    dur = (
        F.unix_micros(F.coalesce("valid_to", "ts")) - F.unix_micros("ts")
    ).cast("long")
    return typed.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        "valid_to",
        "event_type",
        F.col("valid_to").isNull().alias("is_current"),
        dur.alias("duration_us"),
    )


@gate_query(
    "dq_profile",
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(*) FILTER (o_totalprice IS NULL) AS BIGINT) AS null_price,
      CAST(COUNT(*) FILTER (o_totalprice <= 0) AS BIGINT) AS nonpositive_price,
      CAST(COUNT(*) FILTER (o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
        AS bad_status,
      CAST(COUNT(*) FILTER (o_orderdate < TIMESTAMP '1990-01-01 00:00:00'
                         OR o_orderdate >= TIMESTAMP '2030-01-01 00:00:00')
           AS BIGINT) AS out_of_range_date,
      COUNT(DISTINCT o_orderkey) AS n_distinct_keys,
      CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        AS fk_orphans
    FROM orders
    """,
    tags=("etl", "dq"),
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality profile of the orders table: null rate,
    range violations, domain violations, key cardinality, plus FK
    orphans vs customer (left-anti count). All rule counters ride one
    scan with map-side partials; adding a rule adds a column, not a
    pass. The FK key side auto-broadcasts at gate scale (sized by the
    planner, not forced — at 100 TB: anti-join on bucketed keys)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("fk_orphans"))
    )
    profile = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0))
        .cast("long").alias("null_price"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long").alias("nonpositive_price"),
        F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0))
        .cast("long").alias("bad_status"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2030-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).cast("long").alias("out_of_range_date"),
        F.countDistinct("o_orderkey").alias("n_distinct_keys"),
    )
    return profile.join(F.broadcast(orphans))


@gate_query(
    "etl_cdc_latest_snapshot",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
    FROM (
      SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    )
    WHERE rk = 1
    """,
    tags=("etl",),
)
def etl_cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → snapshot compaction (CDC read path): keep each
    key's newest record under the (ts, event_id) total order. One
    shuffle on the key; Spark plans the rank-1 filter as
    WindowGroupLimit, which keeps only the running winner per key
    inside each partition before and after the exchange instead of
    materializing full per-key sorts — the right plan for compacting
    a 100 TB changelog where upserts per key are few but keys are
    billions."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


@gate_query(
    "etl_incremental_agg",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    ins AS MATERIALIZED (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    del AS MATERIALIZED (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM base WHERE o_orderkey % 7 = 0
    ),
    snap2 AS (
      SELECT o_orderpriority, o_totalprice
      FROM base WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderpriority, o_totalprice FROM ins
    ),
    full_recompute AS (
      SELECT o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {DSUM("o_totalprice", "sum_price")}
      FROM snap2 GROUP BY o_orderpriority
    ),
    audit AS (
      SELECT priority,
             CAST(COALESCE(i.n, 0) AS BIGINT) AS n_inserted,
             CAST(COALESCE(d.n, 0) AS BIGINT) AS n_deleted
      FROM (SELECT DISTINCT o_orderpriority AS priority FROM orders)
      LEFT JOIN (SELECT o_orderpriority AS priority, COUNT(*) AS n
                 FROM ins GROUP BY o_orderpriority) i USING (priority)
      LEFT JOIN (SELECT o_orderpriority AS priority, COUNT(*) AS n
                 FROM del GROUP BY o_orderpriority) d USING (priority)
    )
    SELECT f.priority, f.n_rows, f.sum_price, a.n_inserted, a.n_deleted
    FROM full_recompute f JOIN audit a USING (priority)
    """,
    tags=("etl",),
)
def etl_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (IVM): a stored
    per-priority (COUNT, SUM) aggregate is advanced to the next
    snapshot by applying ONLY the CDC delta as signed partial
    aggregates — inserts contribute (+1, +price), deletes (−1,
    −price), updates are delete+insert — union-all'd with the stored
    aggregate rows and re-summed per group. COUNT and SUM are
    self-maintainable, so the maintenance cost is O(delta + groups)
    and the 100 TB base table is NEVER rescanned (here the stored
    aggregate is simulated by aggregating the base snapshot once; in
    production it IS the stored table). MIN/MAX are deliberately
    absent: they are not self-maintainable under deletes (a deleted
    group minimum forces a rescan of that group — the standard IVM
    boundary). All arithmetic is exact (BIGINT counts,
    DECIMAL(38,6) sums), so the incremental path must match the
    oracle's full recompute of the post-delta snapshot bit-for-bit —
    that equality is the IVM correctness proof. The delta is derived
    from deterministic key predicates (no RNG): inserts = keys % 10
    = 0, deletes = surviving keys % 7 = 0."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    ins = o.filter(F.col("o_orderkey") % 10 == 0)
    dels = base.filter(F.col("o_orderkey") % 7 == 0)

    # exact decimal partial (NOT dsum: the double cast must happen
    # exactly once, after the maintained total is assembled — summing
    # per-part doubles would reintroduce order dependence)
    def _dpart(frame: DataFrame) -> Column:
        return dsum_dec("o_totalprice", "sum_price")

    # the stored MV (one aggregation of the pre-delta snapshot)
    stored = base.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        _dpart(base),
    ).select(
        "priority", "n_rows", "sum_price",
        F.lit(0).cast("long").alias("n_inserted"),
        F.lit(0).cast("long").alias("n_deleted"),
    )
    # signed delta partials — the only data scanned at maintenance time
    ins_part = ins.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        _dpart(ins),
    ).select(
        "priority", "n_rows", "sum_price",
        F.col("n_rows").alias("n_inserted"),
        F.lit(0).cast("long").alias("n_deleted"),
    )
    del_part = dels.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pos"),
        _dpart(dels),
    ).select(
        "priority",
        (-F.col("n_pos")).cast("long").alias("n_rows"),
        (-F.col("sum_price")).alias("sum_price"),
        F.lit(0).cast("long").alias("n_inserted"),
        F.col("n_pos").alias("n_deleted"),
    )
    maintained = (
        stored.unionAll(ins_part).unionAll(del_part)
        .groupBy("priority")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_price").cast("decimal(38,6)").cast("double").alias(
                "sum_price"
            ),
            F.sum("n_inserted").cast("long").alias("n_inserted"),
            F.sum("n_deleted").cast("long").alias("n_deleted"),
        )
    )
    return maintained


@gate_query(
    "etl_snapshot_diff",
    oracle=f"""
    WITH v1 AS MATERIALIZED (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 11 <> 0
    ),
    v2 AS MATERIALIZED (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 0
    ),
    classified AS (
      SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS key,
             CASE
               WHEN v1.o_orderkey IS NULL THEN 'insert'
               WHEN v2.o_orderkey IS NULL THEN 'delete'
               WHEN v1.o_totalprice <> v2.o_totalprice THEN 'update'
               ELSE 'unchanged'
             END AS change_type,
             COALESCE(v2.o_totalprice, v1.o_totalprice) AS effective_price
      FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    )
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(key) AS BIGINT) AS key_checksum,
           {DSUM("effective_price", "sum_price")}
    FROM classified
    GROUP BY change_type
    """,
    tags=("etl",),
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed generation — the INVERSE of merge: diff two
    table snapshots into insert/delete/update/unchanged CDC rows via
    one full outer join on the key (v1 = orders minus the %11 keys,
    v2 = orders minus the %13 keys with %5 prices bumped — all
    deterministic predicates). This is how a pipeline bootstraps CDC
    from systems that only publish full snapshots; at 100 TB both
    sides shuffle once on the key (or neither, if both snapshots are
    bucketed by key — the sink_bucketed_join layout), and the emitted
    delta is exactly what etl_merge_upsert / etl_incremental_agg
    consume downstream. Update detection compares the price column;
    effective_price carries the post-change value (v1's for deletes),
    so the per-class aggregate audits the classification AND the
    column carry-through."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    v1 = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k1"), F.col("o_totalprice").alias("p1")
    )
    v2 = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("k2"),
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 100.0
        ).otherwise(F.col("o_totalprice")).alias("p2"),
    )
    d = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
    classified = d.select(
        F.coalesce("k1", "k2").alias("key"),
        F.when(F.col("k1").isNull(), "insert")
        .when(F.col("k2").isNull(), "delete")
        .when(F.col("p1") != F.col("p2"), "update")
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce("p2", "p1").alias("effective_price"),
    )
    return classified.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("key").cast("long").alias("key_checksum"),
        dsum("effective_price", "sum_price"),
    )


ETL_FP_BUCKETS = 64


@gate_query(
    "etl_table_fingerprint",
    oracle=f"""
    WITH hashed AS (
      SELECT l_orderkey % {ETL_FP_BUCKETS} AS bucket,
             ('0x' || substr(md5(
               l_orderkey || '|' || l_partkey || '|' || l_suppkey || '|' ||
               l_linenumber || '|' ||
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             ), 1, 15))::BIGINT AS row_hash
      FROM lineitem
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(row_hash) AS xor_fingerprint,
           CAST(SUM(row_hash % 1000000007) AS BIGINT) AS mod_checksum
    FROM hashed
    GROUP BY bucket
    """,
    tags=("etl",),
)
def etl_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed table fingerprint — anti-entropy comparison of two
    100 TB replicas WITHOUT moving data: each row hashes its canonical
    integer rendering (md5 prefix parsed to a 60-bit BIGINT — the
    cross-engine hex-parse bridge), buckets fold the hashes with
    order-independent aggregates (XOR + a modular sum: XOR alone
    misses even-multiplicity corruption, the mod-sum alone misses
    compensating pairs; together they are a strong per-bucket
    signature), and two replicas compare {ETL_FP_BUCKETS} signature
    rows instead of row-level data. Diverging buckets then get a
    targeted row-level diff (etl_snapshot_diff) — the standard
    Merkle-style repair funnel. The canonical rendering uses ONLY
    integer-rendered values (prices as exact cents) because
    double→string formatting is engine-specific; integer rendering is
    not (the sim_matryoshka lesson). One scan, partial map-side
    aggregation, output bounded by the bucket count."""
    li = table(spark, sf_dir, "lineitem")
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey"),
        F.col("l_partkey"),
        F.col("l_suppkey"),
        F.col("l_linenumber"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"),
    )
    hashed = li.select(
        (F.col("l_orderkey") % ETL_FP_BUCKETS).alias("bucket"),
        F.conv(F.substring(F.md5(canon), 1, 15), 16, 10)
        .cast("long")
        .alias("row_hash"),
    )
    return hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(row_hash)").alias("xor_fingerprint"),
        F.sum(F.col("row_hash") % 1000000007).cast("long").alias(
            "mod_checksum"
        ),
    )


# ---------------------------------------------------------------------------
# r9 session-2 additions: expectation suite + Z-order layout
# ---------------------------------------------------------------------------

@gate_query(
    "dq_expectations",
    oracle="""
    WITH o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS vu,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS vn
      FROM orders
    ),
    l AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
                           THEN 1 ELSE 0 END) AS BIGINT) AS vd,
             CAST(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS vq
      FROM lineitem
    ),
    fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vf
      FROM lineitem
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN c_acctbal < -1000.0 OR c_acctbal > 10000.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS vb
      FROM customer
    )
    SELECT * FROM (
      SELECT 'orders.o_orderkey.unique' AS expectation,
             n AS n_checked, vu AS n_violations, vu = 0 AS passed FROM o
      UNION ALL
      SELECT 'orders.o_custkey.not_null', n, vn, vn = 0 FROM o
      UNION ALL
      SELECT 'lineitem.l_discount.range_0_0.1', n, vd, vd = 0 FROM l
      UNION ALL
      SELECT 'lineitem.l_quantity.range_1_50', n, vq, vq = 0 FROM l
      UNION ALL
      SELECT 'lineitem.l_orderkey.fk_orders', l.n, fk.vf, fk.vf = 0
      FROM l, fk
      UNION ALL
      SELECT 'customer.c_acctbal.range_-1000_10000', n, vb, vb = 0 FROM c
    )
    ORDER BY expectation
    """,
    tags=("etl", "dq"),
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite validation (the Great-Expectations-style
    contract check a pipeline runs before promoting a table): a FIXED
    list of named expectations — key uniqueness, not-null, two value
    ranges, referential integrity, one per row in LONG form
    (expectation, n_checked, n_violations, passed) so downstream
    alerting keys on the expectation name. Complements dq_profile
    (wide single-table profile): this is the multi-table, long-format
    contract report.

    Scale shape: one scan per table no matter how many expectations —
    every per-table rule rides the same single-pass aggregate as an
    extra conditional column (adding a rule adds a column, not a
    pass), then stack() pivots the 1-row wide aggregate to long form
    (stack of 1-row aggregates is free). The FK check is the only
    extra pass: a left-anti join on the key, whose 1-row count
    broadcast-joins back onto the lineitem aggregate. At 100 TB the
    anti-join runs on bucketed keys — orders is a FACT table, so the
    explicit broadcast below (and the BroadcastHashJoin LeftAnti pin
    in PLANS.md) holds only at gate scale and MUST flip to a bucketed
    shuffle join alongside it (ADVICE r9); everything else is
    map-side partials."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")

    o_rows = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("vu"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long").alias("vn"),
    ).selectExpr(
        "stack(2, "
        "'orders.o_orderkey.unique', n, vu, "
        "'orders.o_custkey.not_null', n, vn"
        ") AS (expectation, n_checked, n_violations)"
    )

    li_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.1), 1)
            .otherwise(0)
        ).cast("long").alias("vd"),
        F.sum(
            F.when((F.col("l_quantity") < 1.0) | (F.col("l_quantity") > 50.0), 1)
            .otherwise(0)
        ).cast("long").alias("vq"),
    )
    fk_orphans = (
        li.select("l_orderkey")
        .join(
            F.broadcast(o.select("o_orderkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("vf"))
    )
    li_rows = li_agg.join(F.broadcast(fk_orphans)).selectExpr(
        "stack(3, "
        "'lineitem.l_discount.range_0_0.1', n, vd, "
        "'lineitem.l_quantity.range_1_50', n, vq, "
        "'lineitem.l_orderkey.fk_orders', n, vf"
        ") AS (expectation, n_checked, n_violations)"
    )

    c_rows = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("c_acctbal") < -1000.0) | (F.col("c_acctbal") > 10000.0), 1)
            .otherwise(0)
        ).cast("long").alias("vb"),
    ).selectExpr(
        "stack(1, 'customer.c_acctbal.range_-1000_10000', n, vb)"
        " AS (expectation, n_checked, n_violations)"
    )

    return (
        o_rows.unionAll(li_rows)
        .unionAll(c_rows)
        .withColumn("passed", F.col("n_violations") == 0)
        .orderBy("expectation")
    )


# Z-order construction constants, shared by the Spark builder and the
# generated DuckDB oracle (the "same Python constants" discipline —
# loop and oracle cannot drift).
_Z_BITS = 8          # each dimension quantized to 2^8 cells
_Z_BUCKET_SHIFT = 10 # 16-bit z-value >> 10 -> 64 layout buckets
_Z_EPOCH = "1990-01-01 00:00:00"


def _z_interleave_sql(sx: str, sy: str, spark_side: bool) -> str:
    """Bit-interleave two quantized coordinates into a Morton code.
    Spark spells bit shifts as shiftright()/& (no >> operator);
    DuckDB uses native >> — both multiplied by identical power-of-two
    constants generated from the same loop."""
    terms = []
    for i in range(_Z_BITS):
        if spark_side:
            bx = f"(shiftright({sx}, {i}) & 1)"
            by = f"(shiftright({sy}, {i}) & 1)"
        else:
            bx = f"(({sx} >> {i}) & 1)"
            by = f"(({sy} >> {i}) & 1)"
        terms.append(f"{bx} * {1 << (2 * i)}")
        terms.append(f"{by} * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_Z_ORACLE = f"""
    WITH pts AS (
      SELECT o_custkey AS x,
             CAST(datediff('day', TIMESTAMP '{_Z_EPOCH}', o_orderdate)
                  AS BIGINT) AS y
      FROM orders
    ),
    b AS (
      SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax
      FROM pts
    ),
    scaled AS (
      SELECT
        ((x - xmin) * {(1 << _Z_BITS) - 1}) // GREATEST(xmax - xmin, 1) AS sx,
        ((y - ymin) * {(1 << _Z_BITS) - 1}) // GREATEST(ymax - ymin, 1) AS sy
      FROM pts, b
    ),
    coded AS (
      SELECT sx, sy,
             ({_z_interleave_sql('sx', 'sy', spark_side=False)}) AS z
      FROM scaled
    )
    SELECT
      z // {1 << _Z_BUCKET_SHIFT} AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      MIN(sx) AS x_lo, MAX(sx) AS x_hi,
      MIN(sy) AS y_lo, MAX(sy) AS y_hi,
      MAX(sx) - MIN(sx) AS x_span,
      MAX(sy) - MIN(sy) AS y_span
    FROM coded
    GROUP BY 1
    ORDER BY bucket
"""


@gate_query("etl_zorder_layout", oracle=_Z_ORACLE, tags=("etl",))
def etl_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout ASSIGNMENT + clustering-quality
    report — the planning/audit half of OPTIMIZE ZORDER. Third member
    of the z-order family with a division of labor:
    sorts_sets.sort_zorder verifies the Morton code and its total
    order, connectors.sink_zorder_layout WRITES a z-clustered events
    table and proves physical file skipping from parquet footer
    stats, and this gate
    computes the bucket assignment itself on a second table/dimension
    pair (customer key x order date on orders) and emits the
    per-bucket min/max/span report an OPTIMIZE command would print —
    the quality audit that says every bucket covers a NARROW range of
    BOTH dimensions at once (a date-sorted layout gets the same
    x_span as the whole table), checked as an exact <= 31-cell bound
    by the locality test. All arithmetic is integer (quantize via
    integer multiply + DIV, interleave via shift/mask times
    power-of-two constants shared with the generated oracle), so both
    engines are bit-identical.

    Scale shape: the bounds row is a 1-row global aggregate broadcast
    back onto the scan (at 100 TB: read min/max from table metadata
    instead); coding is pure map-side expression work; the report is
    one 64-group aggregate. The write path this report audits is
    sink_zorder_layout's `repartitionByRange(z).sortWithinPartitions`
    — the two gates together are plan + proof."""
    o = table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_custkey").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit(_Z_EPOCH).cast("timestamp"))
        .cast("long")
        .alias("y"),
    )
    bounds = pts.agg(
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    )
    hi = (1 << _Z_BITS) - 1
    scaled = pts.join(F.broadcast(bounds)).selectExpr(
        f"((x - xmin) * {hi}) DIV GREATEST(xmax - xmin, 1L) AS sx",
        f"((y - ymin) * {hi}) DIV GREATEST(ymax - ymin, 1L) AS sy",
    )
    coded = scaled.selectExpr(
        "sx",
        "sy",
        f"({_z_interleave_sql('sx', 'sy', spark_side=True)}) AS z",
    )
    return (
        coded.groupBy(
            F.expr(f"z DIV {1 << _Z_BUCKET_SHIFT}").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("sx").alias("x_lo"),
            F.max("sx").alias("x_hi"),
            F.min("sy").alias("y_lo"),
            F.max("sy").alias("y_hi"),
            (F.max("sx") - F.min("sx")).alias("x_span"),
            (F.max("sy") - F.min("sy")).alias("y_span"),
        )
        .orderBy("bucket")
    )


# Shared by dq_drift_tv and its streaming twin (streaming/twins.py
# stream_drift_tv): same final algebra, same oracle — the twin's
# incremental histogram counts must land on the identical report.
_DRIFT_TV_ORACLE = """
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vu,
             epoch_us(ts) AS tu
      FROM events
    ),
    b AS (
      SELECT MIN(tu) AS tmin, MAX(tu) AS tmax,
             MIN(vu) AS vmin, MAX(vu) AS vmax
      FROM e
    ),
    binned AS (
      SELECT event_type,
             CASE WHEN (tu - tmin) * 2 < (tmax - tmin) THEN 0 ELSE 1 END
               AS half,
             LEAST(9, ((vu - vmin) * 10) // GREATEST(vmax - vmin + 1, 1))
               AS bin
      FROM e, b
    ),
    cnt AS (
      SELECT event_type, bin,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM binned GROUP BY event_type, bin
    ),
    tot AS (
      SELECT event_type, n_a, n_b,
             SUM(n_a) OVER (PARTITION BY event_type) AS na_tot,
             SUM(n_b) OVER (PARTITION BY event_type) AS nb_tot
      FROM cnt
    )
    SELECT event_type,
           CAST(MAX(na_tot) AS BIGINT) AS n_first,
           CAST(MAX(nb_tot) AS BIGINT) AS n_second,
           CAST(CASE WHEN MAX(na_tot) = 0 OR MAX(nb_tot) = 0 THEN 1000000
                ELSE SUM(ABS(CAST(n_a AS HUGEINT) * nb_tot
                             - CAST(n_b AS HUGEINT) * na_tot)) * 1000000
                     // (2 * CAST(MAX(na_tot) AS HUGEINT) * MAX(nb_tot)) END
                AS BIGINT) AS tv_micro
    FROM tot
    GROUP BY event_type
    ORDER BY event_type
    """


def _drift_tv_finish(cnt: DataFrame) -> DataFrame:
    """Finish the TV report from per-(event_type, bin) half-counts
    (columns: event_type, bin, n_a, n_b) — the exact-integer algebra
    shared by the batch gate and the streaming twin."""
    w = Window.partitionBy("event_type")
    tot = cnt.select(
        "event_type",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).alias("na_tot"),
        F.sum("n_b").over(w).alias("nb_tot"),
    )
    return (
        tot.groupBy("event_type")
        .agg(
            F.max("na_tot").alias("n_first"),
            F.max("nb_tot").alias("n_second"),
            # CASE guards the ANSI DIVIDE_BY_ZERO if a regenerated
            # fixture ever leaves a type entirely inside one half —
            # an empty comparison window reads as MAXIMAL drift
            # (1e6), the correct monitoring semantic, in both engines
            # (CASE is lazy under ANSI, so the DIV never evaluates).
            # Cross-multiplied terms in DECIMAL(38,0) (HUGEINT on the
            # DuckDB side) — BIGINT would overflow if a regenerated
            # fixture grew per-type counts ~100x; ANSI would error
            # loudly, but exact headroom is free (ADVICE r9; the
            # evt_seasonal_anomaly convention).
            F.expr(
                "CAST(CASE WHEN MAX(na_tot) = 0 OR MAX(nb_tot) = 0 "
                "THEN 1000000 "
                "ELSE SUM(ABS(CAST(n_a AS DECIMAL(38,0)) * nb_tot "
                "            - CAST(n_b AS DECIMAL(38,0)) * na_tot)) "
                "     * 1000000 "
                "DIV (2 * CAST(MAX(na_tot) AS DECIMAL(38,0)) "
                "       * MAX(nb_tot)) END AS BIGINT)"
            ).alias("tv_micro"),
        )
        .orderBy("event_type")
    )


@gate_query("dq_drift_tv", oracle=_DRIFT_TV_ORACLE, tags=("etl", "dq"))
def dq_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor — the production DQ check that
    compares a metric's distribution between two time windows (here:
    first vs second half of the event range) per event_type, as
    total-variation distance over a 10-bin equal-width histogram,
    reported in integer micro-units. TV = ½·Σ|p_first(bin) −
    p_second(bin)| is chosen over the PSI/KL family DELIBERATELY: PSI
    needs ln(), and libm log results are not bit-identical between the
    JVM and DuckDB — TV is pure rational arithmetic, so with counts
    cross-multiplied over a common denominator (|n_a·N_b − n_b·N_a|,
    then one integer floor-division into micro-units) the whole
    pipeline is exact integer math end to end. Same alarm shape as
    PSI: 0 = identical distributions, 1e6 = disjoint.

    Scale shape: one events scan → 10-bin conditional counts (partial
    map-side agg on (type, bin)), a per-type window over ≤10 rows, a
    ≤#types-row result. Time/value bounds are a 1-row broadcast (at
    100 TB: from table metadata). The cross-multiplied integers are
    bounded by N_a·N_b·1e6, so they ride in DECIMAL(38,0) / HUGEINT
    (ADVICE r9) — exact headroom to ~1e38, far past any fixture
    regrowth or a 100 TB window.
    `half` is integer midpoint math on epoch-µs, bin quantization is
    integer multiply + DIV — no float ever crosses an engine
    boundary except value→micro-units, the floor(x·1e6+0.5) rule."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("vu"),
        F.unix_micros(F.col("ts")).alias("tu"),
    )
    b = e.agg(
        F.min("tu").alias("tmin"),
        F.max("tu").alias("tmax"),
        F.min("vu").alias("vmin"),
        F.max("vu").alias("vmax"),
    )
    binned = e.join(F.broadcast(b)).selectExpr(
        "event_type",
        "CASE WHEN (tu - tmin) * 2 < (tmax - tmin) THEN 0 ELSE 1 END AS half",
        "LEAST(9, ((vu - vmin) * 10) DIV GREATEST(vmax - vmin + 1, 1L)) AS bin",
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    return _drift_tv_finish(cnt)
