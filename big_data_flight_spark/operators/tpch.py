"""TPC-H-style analytical query pack — the reference-class workload.

Classic decision-support queries adapted to the fixture subset of the
TPC-H schema (no partsupp / l_shipmode / l_commitdate / l_receiptdate
columns exist — predicates on missing columns are substituted with
shape-preserving equivalents, noted per query). Q1 lives in
aggregates.flagship; Q3 in relational.sql_entry.

These are the multi-join + aggregate patterns the star schema exists
for; each one's plan is the scale template: broadcast dims, single
fact shuffle, partial aggregation before exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_flight_spark.io import table
from big_data_flight_spark.registry import DSUM, davg, dsum, exact_sum_sql, gate_query


@gate_query(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    tags=("tpch",),
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking (EXISTS → left-semi join). Adapted:
    `l_commitdate < l_receiptdate` → `l_shipdate > o_orderdate`
    (columns absent from fixtures)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    late = o.join(
        li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi"
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@gate_query(
    "tpch_q5",
    oracle=f"""
    SELECT n_name, {DSUM("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("tpch",),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local-supplier volume: revenue from orders where customer and
    supplier share a nation, per nation, one year. Adapted: region
    filter dropped (only 5 regions and few suppliers — keeping all
    regions keeps the result non-trivial).

    Broadcast posture (r12, after the relational 10x rehearsal):
    nation/region keep explicit hints — they are BOUNDED dims (25/5
    rows at any corpus size). customer/supplier carry NO hint: they
    are SF-SCALING tables (TPC-H: 150k x SF customers — billions of
    rows at 100 TB), so a forced broadcast is a scale-killer the
    planner can't undo; unhinted, the <10 MB static estimate still
    broadcasts them at fixture scale (plan-pin-identical) while a
    real cluster shuffles them. Verified both ways on the 60x
    rehearsal corpus: hinted = forced 19 MB broadcast; unhinted =
    the planner flips customer to a shuffle join on its own."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))).groupBy("n_name").agg(
        dsum("rev", "revenue")
    )


@gate_query(
    "tpch_q6",
    oracle=f"""
    SELECT {DSUM("l_extendedprice * l_discount", "revenue")}, COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
    tags=("tpch",),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecasting-revenue change: pure filter + global aggregate —
    the pushdown showcase (every predicate reaches the parquet
    row-group filter; zero shuffle beyond the 1-row final agg)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.04, 0.06)
        & (F.col("l_quantity") < 24)
    ).withColumn("rev", F.col("l_extendedprice") * F.col("l_discount")).agg(
        dsum("rev", "revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@gate_query(
    "tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {DSUM("l_extendedprice * (1 - l_discount)", "revenue")},
           MAX(c_acctbal) AS acctbal
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch",),
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: top-20 customers by lost revenue in
    a quarter (deterministic tie-break on c_custkey for the LIMIT)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum("rev", "revenue"),
            F.max("c_acctbal").alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@gate_query(
    "tpch_q14",
    oracle="""
    SELECT
      floor(
        (100.0 * CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                   AS DECIMAL(38,6))) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE))
        * 1000000 + 0.5) / 1000000 AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-09-01 00:00:00'
    """,
    tags=("tpch",),
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion effect: promo revenue share over a window
    (conditional aggregate ratio; part is broadcast)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-09-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    j = li.join(p, li.l_partkey == p.p_partkey).withColumns({"rev": rev, "promo": promo})
    ratio = F.expr(
        f"100.0D * CAST({exact_sum_sql('promo')} AS DOUBLE)"
        f" / CAST({exact_sum_sql('rev')} AS DOUBLE)"
    )
    # floor-form display rounding (registry rule: ROUND(.,6) on an
    # unconstrained double is engine-divergent at half boundaries —
    # the q2/ADVICE-r3 lesson; r6 review finding).
    return j.agg(
        (F.floor(ratio * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000)).alias(
            "promo_revenue_pct"
        )
    )


@gate_query(
    "tpch_q17",
    oracle="""
    SELECT
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.5 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
    tags=("tpch",),
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: correlated scalar aggregate
    subquery (below half the part's average quantity). Expressed via
    spark.sql so Catalyst's RewriteCorrelatedScalarSubquery does the
    decorrelation (→ aggregate + join, no per-row subquery execution —
    the only scalable plan). Adapted: container predicate dropped
    (no p_container column); avg(l_quantity) is integral-valued ÷
    exact count → deterministic double on both engines."""
    from big_data_flight_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (
            SELECT 0.5 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
          )
        """
    )


@gate_query(
    "filter_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_items
    FROM orders
    WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) * 1.8 FROM orders)
    """,
    tags=("relational", "sql"),
)
def filter_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subqueries, both flavors: uncorrelated (global average
    threshold — computed once, broadcast as a literal) and correlated
    in the SELECT list (per-order item count — decorrelated by
    Catalyst into a left join on a pre-aggregated counts table)."""
    from big_data_flight_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               (SELECT COUNT(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_items
        FROM orders
        WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) * 1.8 FROM orders)
        """
    )


@gate_query(
    "tpch_q18",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 150
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           {DSUM("l_quantity", "total_qty")}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("tpch",),
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: orders whose total quantity exceeds
    a threshold (HAVING subquery → semi-join), top-100 by price with
    orderkey tie-break.

    Two scale rewrites vs the textbook plan, both result-identical:

    1. The HAVING aggregate sums quantities as LONG, not
       DECIMAL(38,6): l_quantity is integral in this schema (whole
       units — invariant recorded in FIXTURES.md and asserted by
       tests/test_fixtures.py::test_l_quantity_is_integral, so a
       fixture regeneration with fractional quantities fails loudly
       instead of silently truncating), so the long sum is exact, and
       it only feeds a >150 threshold — measured 1.8× faster over the
       ~0.3M-group hash agg. (For a fractional-quantity schema,
       fall back to the decimal path.)
    2. The top-100 ORDER BY o_totalprice is taken on the inner-joined
       ORDERS table BEFORE any customer join: every output group
       key (c_custkey..o_totalprice) is functionally dependent on
       o_orderkey and every `big` order has lineitems by
       construction, so row k of the pushed-down top-100 is row k of
       the final result. This additionally assumes orders→customer FK
       integrity (an orphan o_custkey among the top-100 would drop a
       row here while the oracle, which joins customer first, picks a
       different 100th) — asserted by
       tests/test_fixtures.py::test_orders_customer_fk_integrity so a
       fixture regeneration that breaks the FK fails loudly.
    3. (r4) NO lineitem re-join at all: the output total_qty IS the
       per-order sum the HAVING aggregate already computed, so `big`
       carries it forward and the second fact scan disappears. The
       textbook plan reads the fact table twice; this reads it once —
       at 100 TB that halves the dominant cost outright. The long sum
       cast to double is exact (integral quantities, sums ≪ 2^53) and
       equals the oracle's DECIMAL(38,6)-summed double bit-for-bit.
    """
    li = table(spark, sf_dir, "lineitem")
    # NO fan_out on the HAVING aggregate: l_orderkey is high-cardinality
    # (~every row its own group), so the partial agg can't combine —
    # fanning out just adds a full-input round-robin exchange (measured
    # 0.49 s → 0.93 s at sf0.1). fan_out only pays when the partial agg
    # REDUCES (few groups, heavy per-row arithmetic), as in the flagship.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .filter(F.col("q") > 150)
    )
    # F.broadcast(big) is a FIXTURE-SCALE hint only: `big` is
    # fact-cardinality (~20% of orders pass the >150 threshold —
    # measured 29k of 147k at sf0.1), so at 100 TB this join runs as a
    # shuffle/semi-join on the order key instead; the single-fact-scan
    # rewrite above is the part of this plan that survives any scale.
    o = table(spark, sf_dir, "orders").join(
        F.broadcast(big), F.col("o_orderkey") == big.l_orderkey
    )
    top = o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(100)
    c = table(spark, sf_dir, "customer")
    return (
        top.join(c, top.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("q").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@gate_query(
    "tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, yr,
           {DSUM("volume", "revenue")}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS yr,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, yr
    """,
    tags=("tpch",),
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping between a nation pair, by year. The
    disjunctive nation-pair predicate lands after two broadcast dim
    joins; lineitem is the only shuffled input. Dates adapted to the
    fixture range (1995-1997)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return joined.withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))).groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("yr")
    ).agg(dsum("rev", "revenue"))


@gate_query(
    "tpch_q8",
    oracle="""
    SELECT yr,
           CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END
                         AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS yr,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND p_type = 'STANDARD'
    ) all_nations
    GROUP BY yr
    """,
    tags=("tpch",),
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: fraction of EUROPE-customer STANDARD-part
    revenue supplied by NATION_5, per year. Both sums are exact decimals
    cast to double before the single IEEE divide — the ratio is
    bit-identical across engines."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat5 = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        joined.withColumns({"vol": vol, "nat5": nat5})
        .groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            F.expr(
                f"CAST({exact_sum_sql('nat5')} AS DOUBLE) / CAST({exact_sum_sql('vol')} AS DOUBLE)"
                " AS mkt_share"
            )
        )
    )


@gate_query(
    "tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
    tags=("tpch",),
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping-priority split (CASE-sum pivot counting). Adapted:
    l_shipmode/l_commitdate/l_receiptdate are absent from the fixtures,
    so the group key is l_returnflag and the late-delivery predicate is
    a ship-year filter; the shape (join + conditional counts) is Q12's."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@gate_query(
    "tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    tags=("tpch",),
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution: LEFT OUTER join with a
    filter inside the ON clause (kept customers with zero qualifying
    orders must still appear with c_count=0), then a count-of-counts.
    Adapted: the o_comment NOT LIKE filter becomes an orderpriority
    exclusion (column absent). Two shuffles: custkey, then c_count."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@gate_query(
    "tpch_q15",
    oracle=f"""
    WITH revenue0 AS MATERIALIZED (
      SELECT l_suppkey AS supplier_no,
             {DSUM("l_extendedprice * (1 - l_discount)", "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
    tags=("tpch",),
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: revenue per supplier over one quarter, keep the
    max. The scalar MAX is computed from the same aggregated frame and
    broadcast back — exact decimal sums make the equality comparison
    safe across engines (identical doubles on both sides)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))).groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum("rev", "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@gate_query(
    "tpch_q19",
    oracle=f"""
    SELECT {DSUM("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11  AND l_returnflag = 'N')
       OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'N')
       OR (p_brand = 'Brand#16' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30 AND l_returnflag = 'N')
    """,
    tags=("tpch",),
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue under a three-branch disjunctive predicate
    spanning both join sides. The shared conjunct (l_returnflag = 'N')
    is factored out by Catalyst and pushed to the lineitem scan; the
    part-side brand/size disjunction prunes the broadcast build side.
    Adapted: l_shipinstruct/l_shipmode conjuncts (absent) → returnflag."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    joined = li.join(p, li.l_partkey == p.p_partkey)
    branch = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
            & (F.col("l_returnflag") == "N")
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
            & (F.col("l_returnflag") == "N")
        )
        | (
            (F.col("p_brand") == "Brand#16")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
            & (F.col("l_returnflag") == "N")
        )
    )
    return joined.filter(branch).withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))).agg(
        dsum("rev", "revenue")
    )


_Q21_ORACLE = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """


@gate_query("tpch_q21_threescan", oracle=_Q21_ORACLE, tags=("tpch",))
def tpch_q21_threescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers-who-kept-orders-waiting, TEXTBOOK form: the sole
    blamable supplier per failed multi-supplier order as dual
    correlated subqueries over a self-joined fact — EXISTS →
    left-semi, NOT EXISTS → left-anti, both on the orderkey equi-key
    with a suppkey disequality residual. Kept as the documented
    representative of the semi/anti pattern; the benched tpch_q21
    gate runs the measured-better single-scan strategy (r5-s2
    promotion — see its docstring), and both share one oracle so the
    equivalence is re-proved every round. Adapted: receipt/commit-date
    lateness (columns absent) → the l_returnflag = 'R' marker plays
    'late'; o_orderstatus = 'F' kept."""
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l1_orderkey"), F.col("l_suppkey").alias("l1_suppkey")
    )
    l2 = li.select(F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey"))
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey")
    )
    blamed = (
        l1.join(o, F.col("l1_orderkey") == F.col("o_orderkey"))
        .join(
            l2,
            (F.col("l2_orderkey") == F.col("l1_orderkey"))
            & (F.col("l2_suppkey") != F.col("l1_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3_orderkey") == F.col("l1_orderkey"))
            & (F.col("l3_suppkey") != F.col("l1_suppkey")),
            "left_anti",
        )
        .join(s, F.col("l1_suppkey") == F.col("s_suppkey"))
    )
    return (
        blamed.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )


@gate_query(
    "tpch_q22",
    oracle=f"""
    WITH eligible AS (
      SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS cntry, c_acctbal
      FROM customer
      WHERE c_nationkey IN (1, 5, 9, 13, 17, 21, 24)
        AND c_acctbal > (
          -- DAVG('c_acctbal', ...) inlined (threshold position, no alias)
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(c_acctbal)
          FROM customer
          WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 5, 9, 13, 17, 21, 24)
        )
    )
    SELECT cntry, CAST(COUNT(*) AS BIGINT) AS numcust,
           {DSUM("c_acctbal", "totacctbal")}
    FROM eligible
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    GROUP BY cntry
    """,
    tags=("tpch",),
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global-sales-opportunity: rich-but-INACTIVE customers per
    country. Uncorrelated decimal-exact AVG threshold (broadcast 1-row
    frame, not a collect), NOT EXISTS → left-anti against orders.
    Adapted: phone-prefix country codes (column absent) → nationkey.

    Re-parameterized r8 (VERDICT r7 #1 — vacuity): the fixtures give
    EVERY customer at least one order at sf0.01 (measured), so the
    original unqualified NOT EXISTS returned 0 rows at both SFs and
    the green driver row proved only that two empty sets match.
    'Inactive' is now 'no order placed on/after 2000-01-01' (orders
    span 1995..2001-08) — same anti-join + uncorrelated-threshold
    shape, 29/375 pre-threshold candidates at sf0.01/sf0.1.
    Non-vacuity pinned by tests/test_r8_ops.py and the registry-wide
    guard."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 5, 9, 13, 17, 21, 24)
    )
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal", "thr")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    eligible = (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("thr"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return eligible.groupBy(F.col("c_nationkey").cast("long").alias("cntry")).agg(
        F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal", "totacctbal")
    )


@gate_query(
    "tpch_q2",
    oracle="""
    WITH cost AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
             floor(unit_cost * 1e6 + 0.5) / 1e6 AS cost,
             row_number() OVER (
               PARTITION BY p_partkey ORDER BY unit_cost, sk
             ) AS rn
      FROM cost
      JOIN part ON pk = p_partkey AND p_type = 'STANDARD'
      JOIN supplier ON sk = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    )
    SELECT p_partkey, p_name, s_name, s_acctbal, n_name, cost
    FROM ranked WHERE rn = 1
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("tpch",),
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier: for each STANDARD-type part sourced
    from EUROPE, the cheapest supplier. Adapted (no partsupp fixture):
    ps_supplycost → MIN(l_extendedprice / l_quantity) over that
    (part, supplier)'s lineitems — same correlated-min shape, derived
    from the fact table. The correlated MIN subquery is a window
    row_number over the RAW double cost with a suppkey tie-break: MIN
    and IEEE division are bit-identical across engines, whereas
    ROUND(double, 6) is not (Spark HALF_UP via BigDecimal vs DuckDB
    float-multiply — a 1e-6 half-boundary could flip the rn=1 pick;
    ADVICE r3). Only the DISPLAYED cost is rounded, with the mode-free
    floor(x*1e6+0.5)/1e6 form in both engines (unit_cost >= 0).
    Scale shape: the cost table is one fact groupBy; part /
    supplier / nation / region are broadcast dims; the per-part rank
    is a WindowGroupLimit-able window."""
    li = table(spark, sf_dir, "lineitem")
    cost = (
        li.groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    joined = (
        cost.join(p, F.col("pk") == F.col("p_partkey"))
        .join(s, F.col("sk") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .withColumn("cost", F.floor(F.col("unit_cost") * 1e6 + 0.5) / 1e6)
    )
    w = Window.partitionBy("p_partkey").orderBy(F.col("unit_cost"), F.col("sk"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name", "cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@gate_query(
    "tpch_q9",
    oracle=f"""
    SELECT n_name, yr, {DSUM("amount", "sum_profit")}
    FROM (
      SELECT n_name, year(o_orderdate) AS yr,
             l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%red%'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN orders   ON l_orderkey = o_orderkey
    ) profit
    GROUP BY n_name, yr
    """,
    tags=("tpch",),
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit by supplier nation and year. Adapted (no
    partsupp): ps_supplycost → p_retailprice as the unit-cost proxy, so
    amount = revenue − retail_cost × qty; the '%green%' name filter →
    '%red%' (fixture vocabulary). Plan shape: part/supplier/nation
    broadcast, one orders equi-join on the fact, DECIMAL(38,6) exact
    sum (registry rule 1), year cast to long (Spark year() is int,
    DuckDB's is bigint)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("n_name", F.year("o_orderdate").cast("long").alias("yr"), amount.alias("amount"))
        .groupBy("n_name", "yr")
        .agg(dsum("amount", "sum_profit"))
    )


@gate_query(
    "tpch_q11",
    oracle="""
    WITH val AS MATERIALIZED (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
      GROUP BY l_partkey
    ),
    tot AS (SELECT list_sum(list(value ORDER BY pk)) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n FROM val)
    SELECT pk AS p_partkey, ROUND(value, 6) AS value
    FROM val CROSS JOIN tot
    WHERE value * n > 2.5 * total
    """,
    tags=("tpch",),
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock: parts whose traded value through NATION_7
    suppliers exceeds a fraction of the nation's total — HAVING against
    an uncorrelated global scalar. Adapted (no partsupp):
    ps_supplycost*ps_availqty → sum of l_extendedprice.

    Parity subtlety: the global total is a sum of per-part DOUBLES, so
    its value depends on addition order. Both engines therefore fold
    the per-part values in EXPLICIT pk order — Spark via
    aggregate(array_sort-by-pk) over collected (pk, value) structs,
    DuckDB via list_sum(list(value ORDER BY pk)), its guaranteed
    in-order list fold — making the 0.002×total threshold
    bit-identical. (A plain SUM over an ORDER BY subquery is NOT
    enough: multi-threaded DuckDB partial-aggregates it in
    nondeterministic order — measured 5 distinct totals in 5 runs at
    threads=8.) The scalar rides a broadcast 1-row frame (no driver
    collect)."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(dsum("l_extendedprice", "value"))
    )
    tot = val.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pk", "value"))),
            F.lit(0.0),
            lambda acc, x: acc + x["value"],
        ).alias("total"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("value") * F.col("n") > 2.5 * F.col("total"))
        .select(F.col("pk").alias("p_partkey"), F.round("value", 6).alias("value"))
    )


@gate_query(
    "tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#15'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("tpch",),
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier relationship: how many distinct suppliers
    serve each surviving part descriptor. Adapted (no partsupp): the
    part-supplier relation is DISTINCT (l_partkey, l_suppkey) from the
    fact table; the 'customer complaints' comment filter (column
    absent) → a deterministic s_suppkey % 7 exclusion, expressed as the
    same NOT IN anti-join shape. No ORDER BY: the oracle hash is
    order-insensitive (registry rule 3 applies only to LIMIT outputs)."""
    li = table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#15")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    bad_supp = table(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 7 == 0
    ).select("s_suppkey")
    return (
        ps.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@gate_query(
    "tpch_q20",
    oracle="""
    WITH small_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    ),
    shipped AS (
      SELECT l_suppkey,
             CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                            AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
                           THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_period,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_total
      FROM lineitem JOIN small_parts ON l_partkey = p_partkey
      GROUP BY l_suppkey
    )
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM shipped WHERE qty_period * 5 > qty_total * 2
    )
    ORDER BY s_name
    """,
    tags=("tpch",),
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential excess inventory: NATION_3 suppliers who shipped
    more than 40% of their all-time volume of 'small%' parts during
    1996-1998. Adapted (no partsupp): ps_availqty > 0.5×shipped → the
    period share of lifetime shipped quantity, same
    nested-aggregate-semi-join shape. Quantity sums are exact BIGINT
    (l_quantity integral — FIXTURES.md invariant) and the threshold is
    integer-only (qty_period×5 > qty_total×2), so no float boundary
    exists. IN → left-semi.

    Re-parameterized r8 (VERDICT r7 #1 — vacuity): the original
    one-year window + >1/2 threshold returned 0 rows at BOTH sf0.01
    and sf0.1 (max observed share 0.16/0.24 — a single year of a
    6.6-year uniform date range can't reach 50%), so its green driver
    row only proved two empty sets match. Measured fixture shares:
    the 1996-1998 window spans shares 0.37-0.44 (sf0.01) / 0.27-0.54
    (sf0.1); the >2/5 cut yields 2 rows at sf0.01 and 25 at sf0.1.
    Non-vacuity is pinned by tests/test_r8_ops.py and the
    registry-wide guard."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li = table(spark, sf_dir, "lineitem")
    in_period = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")
    )
    shipped = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(in_period, F.col("l_quantity").cast("bigint")).otherwise(0)).alias("qty_period"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty_total"),
        )
        .filter(F.col("qty_period") * 5 > F.col("qty_total") * 2)
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        # F.broadcast(shipped) is a FIXTURE-SCALE hint only (like q18's
        # `big`): shipped is supplier-cardinality (grows with SF), and
        # its non-CBO size estimate inherits the lineitem join's blown-
        # up product, so unhinted it would sort-merge even at 600 KB.
        # At 100 TB this semi-join runs as a shuffle on s_suppkey.
        .join(F.broadcast(shipped), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@gate_query("tpch_q21", oracle=_Q21_ORACLE, tags=("tpch",))
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 via the single-scan strategy — PROMOTED to the canonical /
    benched gate in r5-s2 (VERDICT r4 sanctioned "promote onescan's
    strategy"; interleaved quiet-window A/B this session: 0.84 s vs
    1.04 s full-session min at sf0.1, consistent with every prior
    measurement). The textbook form lives on as tpch_q21_threescan;
    it reads lineitem THREE times (base + EXISTS semi + NOT-EXISTS
    anti) — at 100 TB that is three full fact scans. This form folds
    all three predicates into one windowed pass over one scan:

      per l_orderkey: n_supp   = |distinct suppkey|       (l2: ≥2)
                      n_r_supp = |distinct suppkey over R| (l3: ==1)
      (numwait weight = R-row count — the EXISTS form counts every
       blamed R-row, not one per order)

    An order is blamed iff n_supp ≥ 2 AND n_r_supp == 1; and when
    n_r_supp == 1 every R-row of the order names the SAME supplier —
    so the blamed rows are simply the R-rows themselves. That lets the
    whole thing run as one window pass (r4 rewrite): shuffle the fact
    ONCE by orderkey, compute the two per-order distinct-supplier set
    sizes with collect_set windows (bounded: ≤ suppliers-per-order
    elements), keep qualifying R-rows, then semi-join filtered orders
    (reusing the orderkey partitioning) and broadcast the supplier
    dim. Equivalence to the EXISTS/NOT-EXISTS form is exact, not
    approximate: both count R-rows of F-orders whose R-suppliers form
    a singleton strictly contained in the order's supplier set.

    Measured (sf0.1, local[32], 7-run medians, r4): 0.465 s vs
    0.567 s for the 3-scan textbook form vs 0.693 s for a two-level
    (orderkey, suppkey) pre-aggregate vs 1.7 s for the r3
    countDistinct-groupBy form (its two countDistincts expanded the
    orderkey shuffle 3×). The window form wins at BOTH scales: one
    fact scan (vs three) and one fact shuffle with no expand — at
    100 TB of cold object-store parquet the two saved scans dominate
    everything else. Identical results verified against the textbook
    form row-for-row."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    marked = (
        li.select("l_orderkey", "l_suppkey", (F.col("l_returnflag") == "R").alias("isr"))
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_r_supp",
            F.size(F.collect_set(F.when(F.col("isr"), F.col("l_suppkey"))).over(w)),
        )
    )
    blamed = marked.filter(F.col("isr") & (F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = table(spark, sf_dir, "supplier")
    return (
        blamed.join(o, blamed.l_orderkey == o.o_orderkey, "left_semi")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )
