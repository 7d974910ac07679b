"""Aggregation operators — SURVEY.md §2.4.

All group-bys are plain ``df.groupBy().agg()``: Spark plans these as
HashAggregateExec partial→final pairs (map-side combine before the
shuffle), which is exactly the 100 TB-scale shape — the shuffle moves
one row per (partition, group), not per input row. AQE coalesces the
post-shuffle side.

Oracle parity: every double SUM/AVG is the exact DECIMAL(38,6) sum
(registry docstring, rule 1); integer sums are cast to BIGINT in the
oracle; moments (stddev/var/corr) are recomputed from exact decimal
sums instead of streaming-merge formulas so both engines produce
bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_flight_spark.io import scan_bytes, table
from big_data_flight_spark.registry import DAVG, DSUM, davg, dsum, gate_query

# ---------------------------------------------------------------------------
# agg_groupby — the flagship (TPC-H Q1 pricing summary; SURVEY.md §7.2)
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {DSUM("l_quantity", "sum_qty")},
  {DSUM("l_extendedprice", "sum_base_price")},
  {DSUM("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
  {DSUM("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
  {DAVG("l_quantity", "avg_qty")},
  {DAVG("l_extendedprice", "avg_price")},
  {DAVG("l_discount", "avg_disc")},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary report: filter → hash groupBy → 8 aggregates.

    The canonical grouped-aggregation the fixture fact table is built
    for (FIXTURES.md: lineitem carries exactly the Q1 column set).
    Plan shape: parquet scan with PushedFilters on l_shipdate →
    partial HashAggregate → single shuffle on the 2 group keys →
    final HashAggregate. The exact sums are registry's long-limb kernel,
    so the partial aggregate is cheap per row and runs on the scan's own
    splits: no ``fan_out``. With the DECIMAL(38,6) cast-and-add per row
    the single-row-group fixture scan paid for a widening exchange; with
    long limbs that 8.5 MB exchange costs more than the extra cores save
    (sf0.1, local[4], warm noop-sink median of 12: 274 ms widened
    against 187 ms narrow, bit-identical rows).
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .withColumns({"disc_price": disc_price, "charge": charge})
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum("disc_price", "sum_disc_price"),
            dsum("charge", "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # no ORDER BY: the oracle hash is order-insensitive and the
        # cosmetic 6-row sort costs a range-partitioning sampling job +
        # an extra exchange per run (sort coverage: sort_order/limit_topk)
    )


gate_query("agg_groupby", oracle=_Q1_ORACLE, tags=("agg", "flagship"))(flagship)


# ---------------------------------------------------------------------------
# agg_global — whole-table aggregates (no grouping: single-row result)
# ---------------------------------------------------------------------------

@gate_query(
    "agg_global",
    oracle=f"""
    SELECT
      COUNT(*) AS n_rows,
      {DSUM("o_totalprice", "sum_total")},
      {DAVG("o_totalprice", "avg_total")},
      MIN(o_totalprice) AS min_total,
      MAX(o_totalprice) AS max_total,
      MIN(o_orderdate) AS first_order,
      MAX(o_orderdate) AS last_order
    FROM orders
    """,
    tags=("agg",),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (grand-total) aggregate. Spark: partial agg per partition
    → single-row final agg; no groupBy shuffle, just a 1-row exchange."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice", "sum_total"),
        davg("o_totalprice", "avg_total"),
        F.min("o_totalprice").alias("min_total"),
        F.max("o_totalprice").alias("max_total"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


# ---------------------------------------------------------------------------
# agg_distinct — COUNT(DISTINCT), SUM(DISTINCT)
# ---------------------------------------------------------------------------

@gate_query(
    "agg_distinct",
    oracle="""
    SELECT
      event_type,
      COUNT(DISTINCT user_id) AS n_users,
      CAST(SUM(DISTINCT user_id) AS BIGINT) AS sum_distinct_users,
      COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates. Spark expands these into a two-phase plan
    (expand + two aggregates) automatically; at scale prefer
    approx_count_distinct when exactness isn't required."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.sum_distinct(F.col("user_id")).alias("sum_distinct_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# agg_approx_distinct — HyperLogLog (strong via deterministic audit cols)
# ---------------------------------------------------------------------------

@gate_query(
    "agg_approx_distinct",
    oracle="""
    SELECT
      event_type,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      TRUE AS approx_within_tol
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL count-distinct with a STRONG oracle: the HLL++ estimate
    itself is sketch-implementation-specific (DuckDB can't reproduce
    Spark's registers), so the output exposes only deterministic
    columns — the exact distinct count plus an in-row boolean audit
    that the estimate landed within tolerance (rsd=0.02 → |err| well
    under 5%; HLL++ registers depend only on the value hashes, so the
    boolean is stable across partitionings). A wrong/drifting sketch
    flips the boolean and fails the value-hash. At 100 TB this is THE
    distinct-count operator — exact distinct shuffles every key, HLL
    merges 1 KB registers map-side."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(0.05)
            ).alias("approx_within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# Exact order statistics: one radix-selection kernel
# ---------------------------------------------------------------------------

# Prices in integer cents fit a 24-bit domain (max l_extendedprice ≈
# 104,998 → 10,499,800 cents < 2^24 = 16,777,216), so the 12 high bits
# of the cents value leave ≤ 4096 values per bucket. agg_median_bisect
# AUDITS the bound in-row (n_over_domain must be 0) so a fixture
# regeneration that widens the domain fails loudly.
_MEDB_BITS = 24


def _fold(key: str, cnt: str, start: str, key_type: str) -> str:
    """Running-sum fold over the sorted (key, count) array ``h``: stop at
    the first entry where the cumulative count reaches ``k``. The result
    holds that entry's ``key`` and, in ``cum``, the count of everything
    before it. An EXPRESSION over a bounded array, not a Sort operator."""
    return f"""aggregate(h,
        named_struct('cum', {start}, 'done', false, 'key', CAST(NULL AS {key_type})),
        (acc, e) -> CASE
          WHEN acc.done THEN acc
          WHEN acc.cum + e.{cnt} >= k THEN named_struct(
            'cum', acc.cum, 'done', true, 'key', e.{key})
          ELSE named_struct(
            'cum', acc.cum + e.{cnt}, 'done', false, 'key', acc.key)
        END)"""


def _radix_select(counts: DataFrame, keys: list[str], ranks: DataFrame) -> DataFrame:
    """Exact k-th smallest value per (group, rank) by two-level radix-2^12
    selection — classic external quickselect from the DBMS literature.

    ``counts`` holds ``keys`` + ``v`` (a distinct value), ``cnt`` (its
    multiplicity) and ``b`` (its high bucket, monotone in ``v`` with
    ≤ 4096 values per bucket); the caller localCheckpoints it, since both
    passes read it. ``ranks`` holds ``keys`` + ``idx`` (the caller's rank
    id) and ``k`` (1-based rank). Returns ``keys`` + ``idx``, ``k``,
    ``val`` (the k-th smallest ``v``) and ``r`` = count(values < val).

    Pass 1 folds each group's sorted bucket histogram (≤ 4096 entries at
    any data size) to the bucket holding rank k and r0 = the count in
    earlier buckets. Pass 2 re-aggregates only the selected buckets and
    folds their values from r0. Both buffers are domain-bounded, never
    data-sized; there is no Sort operator and no collect(). With no keys
    the ranks ride a 1-row broadcast cross join."""
    hist = (
        counts.groupBy(*keys, "b")
        .agg(F.sum("cnt").cast("long").alias("c"))
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct("b", "c"))).alias("h"))
    )
    ranks = F.broadcast(ranks)
    b_type = counts.schema["b"].dataType.simpleString()
    v_type = counts.schema["v"].dataType.simpleString()
    sel = (
        (hist.join(ranks, keys) if keys else hist.crossJoin(ranks))
        .select(*keys, "idx", "k", F.expr(_fold("b", "c", "0L", b_type)).alias("s"))
        .select(*keys, "idx", "k", F.col("s.key").alias("b"), F.col("s.cum").alias("r0"))
    )
    return (
        counts.join(F.broadcast(sel), [*keys, "b"])
        .groupBy(*keys, "idx", "k", "r0")
        .agg(F.sort_array(F.collect_list(F.struct("v", "cnt"))).alias("h"))
        .select(*keys, "idx", "k", F.expr(_fold("v", "cnt", "r0", v_type)).alias("s"))
        .select(*keys, "idx", "k", F.col("s.key").alias("val"), F.col("s.cum").alias("r"))
    )


# ---------------------------------------------------------------------------
# agg_percentile — exact percentiles (delay-percentile-style metric)
# ---------------------------------------------------------------------------

_PCTL_PS = (0.5, 0.9, 0.99)

# lineitem scan size (bytes) from which agg_percentile takes its bounded form.
_PCTL_BOUNDED_BYTES = 1 << 30


@gate_query(
    "agg_percentile",
    oracle="""
    SELECT
      l_returnflag,
      quantile_cont(l_extendedprice, 0.5) AS p50_price,
      quantile_cont(l_extendedprice, 0.9) AS p90_price,
      quantile_cont(l_extendedprice, 0.99) AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (matches quantile_cont).

    Two result-identical physical forms, picked by the size Spark reports
    for the lineitem scan against ``_PCTL_BOUNDED_BYTES`` (1 GiB):

    - sorted (below it): ONE sort_array(collect_list) per group — a
      primitive ``double[]`` sort — + rank interpolation — measured
      2.5× faster than the builtin
      percentile(col, array(...)) at bench SF. Its per-group buffer is
      DATA-sized (every group row lands in one executor array), which is
      exactly what does NOT survive 100 TB (§5).
    - bounded (at or above it): ``_radix_select`` picks, per group, the
      two order statistics bracketing each pos=(n-1)*p rank from
      domain-bounded histograms (≤4096-row buffers at ANY data size).

    Why both: at sf0.1 on local[4] (7 alternating pairs) the bounded form
    was bit-identical but slower — build + first run 1.84 s vs 0.71 s
    (median), almost all of it its eager localCheckpoint (build alone
    1.22 s vs 0.18 s); prepared passes 0.63 s vs 0.58 s. Dropping the
    sorted form would cost a cold run about 1.1 s.

    The size is the optimized scan's plan statistic (no job launched), so
    a partitioned directory or a remote path is sized by its files.

    Both forms evaluate the same FP formula (``_pctl_interp``) on the
    same bracketing raw-double order statistics, so they are
    bit-identical to each other, to the builtin, and to DuckDB's
    quantile_cont (pinned in tests/test_aggregates.py). The bounded
    form's bucket key floor(v*100+0.5) is only a MONOTONE proxy
    (2-decimal currency domain, the _MEDB_BITS audit basis of
    agg_median_bisect); selection and interpolation read the raw
    doubles, never the cents."""
    li = table(spark, sf_dir, "lineitem")
    if scan_bytes(li) >= _PCTL_BOUNDED_BYTES:
        return _pctl_bounded(li)
    return _pctl_sorted(li)


def _pctl_interp(n, p: float, lo, hi):
    """quantile_cont's interpolation between the order statistics ``lo``
    and ``hi`` bracketing pos=(n-1)*p — the one FP expression both
    agg_percentile forms evaluate."""
    pos = (n - 1).cast("double") * F.lit(p)
    lower = F.floor(pos)
    return F.when(pos == lower, lo).otherwise(
        lo * (F.ceil(pos) - pos) + hi * (pos - lower)
    )


def _pctl_sorted(li: DataFrame) -> DataFrame:
    """agg_percentile's fixture-scale form: one sorted array per group.

    ``sort_array`` of the non-null double array runs
    ``java.util.Arrays.sort(double[])``, not a comparator over boxed
    values (sf0.1, local[4], warm noop-sink median of 12: 156 ms against
    262 ms for ``array_sort``).
    ``Arrays.sort`` orders -0.0 before 0.0 where ``array_sort`` keeps
    them in collection order, so ``+ 0.0`` folds -0.0 into 0.0 first,
    as the bounded form's grouping by value does; NaN sorts last in
    both."""
    v = (F.col("l_extendedprice") + F.lit(0.0)).alias("l_extendedprice")
    pcts = (
        li.select("l_returnflag", v)
        .groupBy("l_returnflag")
        .agg(F.sort_array(F.collect_list("l_extendedprice")).alias("a"))
    )

    def interp(p: float):
        n = F.size("a")
        lo_i = F.floor((n - 1).cast("double") * F.lit(p)).cast("int")  # 0-based
        lo = F.get("a", lo_i)
        return _pctl_interp(n, p, lo, F.coalesce(F.get("a", lo_i + 1), lo))

    return pcts.select(
        "l_returnflag",
        *[interp(p).alias(f"p{round(p * 100)}_price") for p in _PCTL_PS],
    )


def _pctl_bounded(li: DataFrame) -> DataFrame:
    """agg_percentile's 100 TB form: ONE shuffle builds the per-(group,
    value) count table (≤ |groups| × 2^24 distinct cents rows at any data
    size), localCheckpoint-ed once as ``_radix_select``'s input. Per group
    it selects the 1-based ranks k_lo = floor(pos)+1 and
    k_hi = least(k_lo+1, n) (capped only when pos == floor(pos), where
    the interpolation never reads hi), then interpolates the selected raw
    doubles. NaN takes the top bucket, so it sorts last as in the sorted
    form and DuckDB."""
    v = F.col("l_extendedprice")
    cents = F.when(F.isnan(v), F.lit(2**63 - 1)).otherwise(F.floor(v * 100 + F.lit(0.5)))
    counts = (
        li.where(F.col("l_extendedprice").isNotNull())
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("v"),
            "cnt",
            F.shiftright(cents, _MEDB_BITS // 2).alias("b"),
        )
        .localCheckpoint()  # the input of both selection passes
    )
    nk = counts.groupBy("l_returnflag").agg(F.sum("cnt").cast("long").alias("n"))
    n = F.col("n")
    ranks = []
    for i, p in enumerate(_PCTL_PS):
        k_lo = F.floor((n - 1).cast("double") * F.lit(p)) + 1
        ranks += [
            F.struct(F.lit(2 * i).alias("idx"), k_lo.alias("k")),
            F.struct(F.lit(2 * i + 1).alias("idx"), F.least(k_lo + 1, n).alias("k")),
        ]
    vals = _radix_select(
        counts,
        ["l_returnflag"],
        nk.select("l_returnflag", F.explode(F.array(*ranks)).alias("t")).select(
            "l_returnflag", "t.idx", "t.k"
        ),
    )
    wide = vals.groupBy("l_returnflag").agg(
        *[
            F.max(F.when(F.col("idx") == i, F.col("val"))).alias(f"v{i}")
            for i in range(2 * len(_PCTL_PS))
        ]
    )

    def interp(i: int, p: float):
        lo = F.col(f"v{2 * i}")
        return _pctl_interp(n, p, lo, F.coalesce(F.col(f"v{2 * i + 1}"), lo))

    return wide.join(F.broadcast(nk), "l_returnflag").select(
        "l_returnflag",
        *[interp(i, p).alias(f"p{round(p * 100)}_price") for i, p in enumerate(_PCTL_PS)],
    )


@gate_query(
    "agg_bool",
    oracle="""
    SELECT
      user_id,
      bool_and(value >= 0)                    AS all_nonneg,
      bool_or(event_type = 'purchase')        AS ever_purchased,
      CAST(count_if(event_type = 'click') AS BIGINT) AS n_clicks,
      CAST(MAX(event_id) AS BIGINT)           AS last_event_id
    FROM events
    GROUP BY user_id
    """,
    tags=("agg",),
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-aggregate family: every/some (bool_and/bool_or),
    count_if — the predicate-summary shape ('did this user ever X')."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("event_type") == "purchase").alias("ever_purchased"),
        F.count_if(F.col("event_type") == "click").alias("n_clicks"),
        F.max("event_id").alias("last_event_id"),
    )


@gate_query(
    "agg_approx_percentile",
    oracle="""
    SELECT
      l_returnflag,
      quantile_cont(l_extendedprice, 0.5) AS p50_exact,
      TRUE AS approx_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (percentile_approx — mergeable, the
    100 TB path where exact percentile's per-group buffering dies).
    STRONG oracle via the deterministic-audit pattern: the sketch value
    is engine-specific, so the output exposes only the exact percentile
    (quantile_cont-compatible) and a boolean that the sketch landed
    within 1% relative error (accuracy=10000 → rank error 1e-4, far
    inside the bound, so the boolean is stable even if the sketch
    flaps in low digits across partition merges)."""
    li = table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
        F.percentile("l_extendedprice", 0.5).alias("p50_exact"),
    )
    return out.select(
        "l_returnflag",
        "p50_exact",
        (
            F.abs(F.col("p50_approx") - F.col("p50_exact")) / F.col("p50_exact")
            <= F.lit(0.01)
        ).alias("approx_within_tol"),
    )


# ---------------------------------------------------------------------------
# agg_stats — stddev/variance/corr/covar via exact decimal moments
# ---------------------------------------------------------------------------

def _moments_oracle() -> str:
    # Recompute moments from exact sums so DuckDB's streaming kernels
    # (order-dependent in the last ulps) can't diverge from Spark's.
    return """
    WITH m AS (
      SELECT
        l_returnflag,
        COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT
      l_returnflag,
      n,
      ROUND((sxx - sx * sx / n) / (n - 1), 6) AS var_qty,
      ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_qty,
      ROUND((sxy - sx * sy / n) / (n - 1), 6) AS covar_qty_price,
      ROUND((sxy - sx * sy / n) / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
        AS corr_qty_price
    FROM m
    """


@gate_query("agg_stats", oracle=_moments_oracle(), tags=("agg",))
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev / covariance / correlation, computed
    from exact decimal power sums (identical formula on the oracle
    side). Spark's built-in stddev_samp/corr give the same values to
    ~1e-12 but not bit-identically across engines — hence this form
    for the gate; the built-ins are exercised in tests/."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    m = li.withColumns({"qq": q * q, "pp": p * p, "qp": q * p}).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity", "sx"),
        dsum("qq", "sxx"),
        dsum("l_extendedprice", "sy"),
        dsum("pp", "syy"),
        dsum("qp", "sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    var_q = (sxx - sx * sx / n) / (n - 1)
    var_p = (syy - sy * sy / n) / (n - 1)
    cov = (sxy - sx * sy / n) / (n - 1)
    return m.select(
        "l_returnflag",
        "n",
        F.round(var_q, 6).alias("var_qty"),
        F.round(F.sqrt(var_q), 6).alias("stddev_qty"),
        F.round(cov, 6).alias("covar_qty_price"),
        F.round((sxy - sx * sy / n) / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6).alias(
            "corr_qty_price"
        ),
    )


# ---------------------------------------------------------------------------
# agg_grouping_sets / agg_rollup / agg_cube — multi-level subtotals
# ---------------------------------------------------------------------------

_GSETS_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {DSUM("l_quantity", "sum_qty")},
  COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@gate_query("agg_grouping_sets", oracle=_GSETS_ORACLE, tags=("agg",))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS subtotals. Spark plans one Expand + one aggregate —
    a single shuffle for all grouping levels (scales better than
    unioning per-level group-bys)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT
          l_returnflag,
          l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@gate_query(
    "agg_rollup",
    oracle=f"""
    SELECT r_name, n_name, {DSUM("c_acctbal", "sum_bal")}, COUNT(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "join"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical region→nation subtotals over a dimension join."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        dsum("c_acctbal", "sum_bal"), F.count(F.lit(1)).alias("n_cust")
    )


@gate_query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {DSUM("l_extendedprice", "sum_price")}, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-combination subtotals (2^k grouping sets via one Expand)."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice", "sum_price"), F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# agg_collect — group members as (sorted) array
# ---------------------------------------------------------------------------

@gate_query(
    "agg_collect",
    oracle="""
    SELECT
      l_orderkey,
      array_to_string(list_sort(array_agg(l_linenumber)), ',') AS linenumbers,
      COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey < 100
    GROUP BY l_orderkey
    """,
    tags=("agg",),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list with an explicit sort (collection order is
    partition-nondeterministic otherwise) rendered to a string so the
    cross-engine hash sees a scalar, not an engine-specific array."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") < 100)
        .groupBy("l_orderkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("l_linenumber")), ",").alias("linenumbers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# agg_conditional — rate-style metrics (flight-canonical "cancellation rate")
# ---------------------------------------------------------------------------

@gate_query(
    "agg_conditional",
    oracle="""
    SELECT
      user_id,
      COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
      ROUND(AVG(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END), 6) AS error_rate,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
    FROM events
    GROUP BY user_id
    """,
    tags=("agg",),
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation — the rate pattern (error rate per user;
    same shape as a flight cancellation-rate per carrier)."""
    e = table(spark, sf_dir, "events")
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    is_buy = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(is_err).alias("n_errors"),
        F.round(F.avg(is_err.cast("double")), 6).alias("error_rate"),
        F.sum(is_buy).alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# agg_pivot — event_type -> columns
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


@gate_query(
    "agg_pivot",
    oracle="""
    SELECT
      user_id,
      CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
      CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
      CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase
    FROM events
    GROUP BY user_id
    """,
    tags=("agg",),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with EXPLICIT value list (never let Spark scan for pivot
    values at scale — that's an extra job over the full input); missing
    combinations filled with 0 to match the manual-CASE oracle."""
    e = table(spark, sf_dir, "events")
    out = e.groupBy("user_id").pivot("event_type", _EVENT_TYPES).agg(F.count(F.lit(1)))
    return out.na.fill(0, _EVENT_TYPES)


@gate_query(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           {DSUM("value", "sum_value")},
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY bucket
    """,
    tags=("aggregate",),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width_bucket shape): floor-divide into
    50-unit buckets, count/sum/min/max per bucket. floor-then-cast is
    exact in both engines (DuckDB bare CAST would round). A map-side
    partial aggregate reduces each partition to ≤10 bucket rows before
    the exchange — constant shuffle volume at any scale."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.floor(F.col("value") / 50.0).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", "sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


@gate_query(
    "agg_mode",
    oracle="""
    SELECT user_id, event_type AS modal_type, n
    FROM (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY COUNT(*) DESC, event_type) AS rk
      FROM events
      GROUP BY user_id, event_type
    )
    WHERE rk = 1
    """,
    tags=("aggregate",),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent event_type per user) with a total-
    order tie-break: highest count, then lexicographically smallest
    type. Implemented as max_by over an ordering struct — one shuffle
    on (user_id, event_type) for the counts plus one on user_id, both
    with map-side partials; no window over the raw events."""
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    # Order struct: larger n wins; among ties the SMALLER string must
    # win, so invert the ordering with a negated count and take min.
    best = counts.groupBy("user_id").agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("event_type"), F.col("n"))).alias("b")
    )
    return best.select(
        "user_id", F.col("b.event_type").alias("modal_type"), F.col("b.n").alias("n")
    )


@gate_query(
    "agg_equidepth_histogram",
    oracle=f"""
    WITH ranked AS (
      SELECT value,
             NTILE(10) OVER (ORDER BY value, event_id) AS bucket
      FROM events
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo,
           MAX(value) AS hi,
           {DSUM("value", "sum_value")}
    FROM ranked
    GROUP BY bucket
    """,
    tags=("aggregate",),
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram: 10 NTILE buckets over a
    (value, event_id) total order, with per-bucket bounds — the
    statistics shape optimizers and drift monitors want when the
    distribution is skewed and equi-width buckets collapse. The global
    sort is the honest cost of exact equi-depth; the scale path is
    percentile_approx boundaries (see agg_approx_percentile) with this
    exact form as its audit at sampled scale."""
    e = table(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    ranked = e.select("value", F.ntile(10).over(w).alias("bucket"))
    return ranked.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        dsum("value", "sum_value"),
    )


# ---------------------------------------------------------------------------
# agg_median_bisect — exact order statistic WITHOUT sorting or collecting
# ---------------------------------------------------------------------------


@gate_query(
    "agg_median_bisect",
    oracle=f"""
    WITH c AS MATERIALIZED (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      FROM lineitem
    ),
    nk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST((COUNT(*) + 1) // 2 AS BIGINT) AS k
      FROM c
    ),
    ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM c),
    med AS (SELECT v AS m FROM ranked, nk WHERE rn = nk.k)
    SELECT nk.n, nk.k,
           med.m AS median_cents,
           med.m / 100.0 AS median_price,
           CAST((SELECT COUNT(*) FROM c WHERE v < med.m) AS BIGINT) AS n_below,
           CAST((SELECT COUNT(*) FROM c WHERE v = med.m) AS BIGINT) AS n_at,
           CAST((SELECT COUNT(*) FROM c WHERE v >= {1 << _MEDB_BITS}) AS BIGINT)
             AS n_over_domain
    FROM nk, med
    """,
    tags=("agg", "iterative"),
)
def agg_median_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median (k-th smallest, k = (n+1) DIV 2) by two-level MSB
    radix selection over the integer-cents value domain — the
    order-statistic pattern that survives 100 TB where both
    sorted-collect (agg_percentile's DATA-sized per-group buffer) and a
    global sort do not: ONE shuffle builds the value→count table, then
    ``_radix_select``'s two fixed, data-independent histogram passes
    pick the 12-high-bit bucket holding the k-th value and the exact
    value inside it. Each pass's histogram is DOMAIN-bounded (≤ 4096
    rows at ANY data size — the in-row n_over_domain audit guards the
    bound). Rule: radix-16 measured worse — per-round codegen grows with
    expression width.

    All-integer: shiftright on BIGINT cents is exact in both engines,
    so the oracle (a direct row_number() selection of the same k-th
    element) must agree bit-for-bit; the single median_price division
    is one identical IEEE BIGINT/double op. Invariant carried: the
    selected value IS the k-th smallest and r IS count(v < it),
    exposed as n_below and re-derived independently by the oracle."""
    li = table(spark, sf_dir, "lineitem")
    v = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    counts = (
        li.select(v.alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select("v", "cnt", F.shiftright("v", _MEDB_BITS // 2).alias("b"))
        .localCheckpoint()  # the input of both selection passes
    )
    ranks = counts.agg(F.sum("cnt").cast("long").alias("n")).select(
        F.lit(0).alias("idx"), F.expr("(n + 1L) DIV 2").alias("k")
    )
    sel = _radix_select(counts, [], ranks)
    return (
        counts.crossJoin(F.broadcast(sel))
        .groupBy()
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.first("k").alias("k"),
            F.first("val").alias("median_cents"),
            (F.first("val") / F.lit(100.0)).alias("median_price"),
            F.first("r").alias("n_below"),
            F.sum(F.when(F.col("v") == F.col("val"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_at"),
            F.sum(
                F.when(F.col("v") >= F.lit(1 << _MEDB_BITS).cast("long"), F.col("cnt")).otherwise(0)
            )
            .cast("long")
            .alias("n_over_domain"),
        )
    )


# ---------------------------------------------------------------------------
# agg_hll_sketch — Datasketches HLL with a MERGEABILITY audit (r8)
# ---------------------------------------------------------------------------


@gate_query(
    "agg_hll_sketch",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS est_within_5pct,
           TRUE AS merged_within_5pct
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's production HLL surface (Apache DataSketches:
    hll_sketch_agg / hll_union_agg / hll_sketch_estimate) with the
    property that makes sketches matter at 100 TB: MERGEABILITY.
    Per event_type, three estimates of distinct users are computed —
    (1) exact countDistinct, (2) a single global HLL sketch, and
    (3) the UNION of 8 per-shard sketches (user_id % 8 plays the
    partition/day boundary a real rollup merges across) — and the
    gate asserts both sketch estimates land within 5% of exact.

    Check level = the deterministic-audit pattern (agg_approx_distinct
    precedent): the sketch BYTES are engine-internal and the HIP
    estimator is merge-order-sensitive in its low-order digits, so the
    driver-hashed columns are the exact count (DuckDB recomputes) plus
    the two tolerance booleans — 5% is ~3x the lgK=12 RSE (1.6%), far
    above any ordering jitter, and the in-row audit means a sketch
    regression flips a hashed boolean rather than hiding in an
    unchecked estimate. The union estimating within tolerance is the
    load-bearing claim: it's what lets per-partition sketches roll up
    without re-scanning raw data."""
    e = table(spark, sf_dir, "events").select("event_type", "user_id")
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    global_sk = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n_est")
    )
    sharded = (
        e.withColumn("shard", F.col("user_id") % 8)
        .groupBy("event_type", "shard")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_merged"))
    )
    j = exact.join(global_sk, "event_type").join(sharded, "event_type")
    within = lambda est: (  # noqa: E731 — local predicate, two uses
        F.abs(est - F.col("n_exact")) * 20 <= F.col("n_exact")
    )
    return j.select(
        "event_type",
        "n_exact",
        within(F.col("n_est")).alias("est_within_5pct"),
        within(F.col("n_merged")).alias("merged_within_5pct"),
    )


@gate_query(
    "agg_hll_sliding",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d FROM events
    ),
    ud AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
      FROM events
    )
    SELECT CAST(days.d AS VARCHAR) AS day,
           CAST((SELECT COUNT(DISTINCT u.user_id) FROM ud u
                 WHERE u.d BETWEEN days.d - INTERVAL 6 DAY AND days.d)
                AS BIGINT) AS n_exact_7d,
           TRUE AS est_within_5pct
    FROM days
    """,
    tags=("agg", "approx", "sketch", "event"),
)
def agg_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-ROLLUP pattern over time — why mergeable sketches
    exist: per-day HLL sketches of distinct users are built ONCE from
    raw events, then every day's trailing-7-day distinct-user count
    comes from UNIONING seven daily sketches — no raw re-scan per
    window, which is the only affordable shape when each day is
    terabytes and dashboards ask for arbitrary trailing ranges.
    Exactness audit per day: the sketch-union estimate must land
    within 5% of the exact trailing-window countDistinct (computed
    from per-day distinct pairs — also one scan). Hash-checked
    columns: day, the exact count (DuckDB recomputes), and the audit
    boolean (agg_hll_sketch's deterministic-audit check level).

    Scale: raw events are scanned twice total (sketches + exact
    audit; production drops the audit side); the day x trailing-day
    expansion joins the |days|-row sketch table to itself — bounded
    by the calendar, broadcastable forever."""
    e = table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
    )
    daily_sk = e.groupBy("d").agg(F.hll_sketch_agg("user_id").alias("sk"))
    days = daily_sk.select(F.col("d").alias("day"))
    trailing = days.join(
        F.broadcast(daily_sk),
        (F.col("d") >= F.date_sub(F.col("day"), 6)) & (F.col("d") <= F.col("day")),
    )
    est = trailing.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est_7d")
    )
    exact_pairs = e.distinct()
    exact = (
        days.join(
            exact_pairs,
            (F.col("d") >= F.date_sub(F.col("day"), 6))
            & (F.col("d") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("n_exact_7d"))
    )
    return exact.join(est, "day").select(
        F.col("day").cast("string").alias("day"),
        "n_exact_7d",
        (
            F.abs(F.col("n_est_7d") - F.col("n_exact_7d")) * 20
            <= F.col("n_exact_7d")
        ).alias("est_within_5pct"),
    )


@gate_query(
    "agg_listagg",
    oracle="""
    SELECT r_name,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           string_agg(n_name, '|' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
    tags=("agg", "sql"),
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.0's ANSI LISTAGG — ordered string aggregation via
    `listagg(expr, sep) WITHIN GROUP (ORDER BY ...)`, the standard-SQL
    surface ported from warehouses (DuckDB spells the identical
    semantic `string_agg(expr, sep ORDER BY ...)`). Distinct from
    agg_collect (array collect + manual render): LISTAGG's ordering is
    part of the aggregate itself, so the engine can sort partial
    states instead of materializing arrays. The ORDER BY key is the
    aggregated string itself — a total order within each group, so
    the rendered string is deterministic across engines and partition
    layouts. Broadcast dim join; 5-group aggregate."""
    from big_data_flight_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r_name,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
        """
    )


@gate_query(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(*) AS BIGINT) AS n_est,
           TRUE AS est_matches_exact
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "sketch"),
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1's approx_top_k frequent-items sketch, on the
    agg_approx_distinct pattern (sketch value + exact self-audit in
    one gate): the sketch's (item, count) pairs explode to rows and
    broadcast-join the exact per-type counts; the oracle asserts
    n_est == n_exact — legitimate, not optimistic, because at this
    key cardinality (5 event types, far under the sketch's tracked-
    item capacity) the space-saving summary holds every key exactly,
    and it does so DETERMINISTICALLY, so a future fixture whose
    cardinality overflows the sketch turns this gate loudly red
    instead of silently approximate. At 100 TB the sketch is the
    point: mergeable fixed-size partial state per partition (the
    same rollup story as the HLL/KMV family) where an exact top-k
    needs a full groupBy shuffle."""
    e = table(spark, sf_dir, "events")
    sketch = e.agg(F.expr("approx_top_k(event_type, 10)").alias("t")).select(
        F.explode("t").alias("x")
    ).select(
        F.col("x.item").alias("event_type"),
        F.col("x.count").cast("long").alias("n_est"),
    )
    exact = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        exact.join(F.broadcast(sketch), "event_type", "left")
        .select(
            "event_type",
            "n_exact",
            F.coalesce("n_est", F.lit(0)).alias("n_est"),
            (F.col("n_exact") == F.coalesce("n_est", F.lit(0)))
            .alias("est_matches_exact"),
        )
        .orderBy("event_type")
    )
