"""Plan checks: ``plans.snapshot.check`` run live on every gate, its
unit pins (an intentional-violation plan for each rule it enforces),
direct pins of four core plan shapes (pushdown, pruning, broadcast,
top-k), and plan shapes no registered gate shows."""

from __future__ import annotations

from big_data_flight_spark.plans.snapshot import SNAPSHOT, check, gate_plan, plan_text
from tests.conftest import SF_SMOKE


def test_every_gate_plan_passes_check(spark):
    """Builds every registered gate at SF_SMOKE in the shared session
    (aliases are skipped: they share their target's builder object) and
    runs ``check`` on its formatted plan: SNAPSHOT properties for the
    gates that have them, and for every gate no clone needle, no
    CartesianProduct, no filter above an unpushed scan, no build error."""
    from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules

    _load_all_operator_modules()
    names = [n for n, q in sorted(_REGISTRY.items()) if "alias" not in q.tags]
    assert set(SNAPSHOT) <= set(names), set(SNAPSHOT) - set(names)
    bad = {}
    for name in names:
        _, fails = gate_plan(spark, name, SF_SMOKE)
        if fails:
            bad[name] = fails
    assert not bad, bad


_CLEAN_PLAN = """== Physical Plan ==
* HashAggregate (4)
+- Exchange (3)
   +- * Filter (2)
      +- Scan parquet  (1)


(1) Scan parquet
Output [2]: [a#1L, b#2]
PushedFilters: [IsNotNull(a)]
ReadSchema: struct<a:bigint,b:double>

(2) Filter
Input [2]: [a#1L, b#2]
"""

_NOPUSHDOWN_PLAN = """== Physical Plan ==
* Project (4)
+- * Filter (3)
   +- * ColumnarToRow (2)
      +- Scan parquet  (1)


(1) Scan parquet
Output [3]: [a#1L, b#2, c#3]
PushedFilters: []
ReadSchema: struct<a:bigint,b:double,c:string>

(2) ColumnarToRow
Input [3]: [a#1L, b#2, c#3]

(3) Filter
Input [3]: [a#1L, b#2, c#3]
Condition : (isnotnull(a#1L) AND (a#1L > 5))
"""

# A plain generator argument, as text_tokenize_counts plans it.
_EXPLODE_PLAN = """== Physical Plan ==
* Generate (2)
+- Scan parquet  (1)


(1) Scan parquet
Output [1]: [text#1]
PushedFilters: []
ReadSchema: struct<text:string>

(2) Generate
Arguments: explode(split(lower(text#1),  , -1)), [doc#0L], false, [tok#5]
"""


def test_check_passes_clean_plan():
    assert check("no_such_gate", _CLEAN_PLAN) == []


def test_check_passes_bare_explode_of_split():
    assert check("no_such_gate", _EXPLODE_PLAN) == []


def test_check_flags_filter_above_unpushed_scan():
    """Intentional violation: a Filter over a multi-column scan with
    empty PushedFilters, through a ColumnarToRow and directly."""
    nopush = "NOPUSHDOWN: filter above a scan with empty PushedFilters"
    assert check("g", _NOPUSHDOWN_PLAN) == [nopush]
    direct = _NOPUSHDOWN_PLAN.replace("   +- * ColumnarToRow (2)\n      +- Scan", "   +- Scan")
    assert check("g", direct) == [nopush]
    pushed = _NOPUSHDOWN_PLAN.replace("PushedFilters: []", "PushedFilters: [IsNotNull(a)]")
    assert check("g", pushed) == []


def test_check_flags_cartesian_product():
    plan = _CLEAN_PLAN.replace("Exchange (3)", "CartesianProduct (3)")
    assert check("g", plan) == ["CartesianProduct"]


def test_check_flags_clone_needles():
    """Intentional violation: per-element access into a re-inlined
    tokenization, the r10 InferFiltersFromGenerate clone."""
    for needle, arg in (
        ("element_at(split(", "element_at(split(lower(text#1),  , -1), 1)"),
        ("element_at(filter(split", "element_at(filter(split(lower(text#1),  , -1), x -> true), 1)"),
    ):
        plan = _EXPLODE_PLAN.replace("explode(split(lower(text#1),  , -1))", arg)
        assert check("g", plan) == [f"clone `{needle}`"]


def test_check_reads_snapshot_properties():
    assert check("join_broadcast", "BroadcastHashJoin") == []
    assert check("join_broadcast", "SortMergeJoin") == [
        "`BroadcastHashJoin`",
        "`!SortMergeJoin`",
    ]


def test_stable_text_hides_the_checkout_path():
    """A scratch table's location reads the same from any checkout and
    any process: the checkout path becomes ``<repo>`` and the
    per-process directory is renumbered."""
    from big_data_flight_spark.plans.snapshot import REPO, stable_text

    line = "Location: InMemoryFileIndex [file:{}/.tmp/s{}/sorted_events]"
    want = "Location: InMemoryFileIndex [file:<repo>/.tmp/s1/sorted_events]"
    assert stable_text(line.format(REPO, 4242)) == stable_text(line.format(REPO, 77)) == want


def _gate_plan_text(spark, name: str) -> str:
    from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules

    _load_all_operator_modules()
    return plan_text(_REGISTRY[name].builder(spark, SF_SMOKE))


def test_filter_pushdown_reaches_scan(spark):
    plan = _gate_plan_text(spark, "filter_pred")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThanOrEqual" in plan


def test_projection_prunes_read_schema(spark):
    plan = _gate_plan_text(spark, "scan_parquet")
    # nation has 3 read columns here; no other columns may be read
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "n_nationkey" in read and "n_comment" not in read


def test_dimension_join_broadcasts(spark):
    plan = _gate_plan_text(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    plan = _gate_plan_text(spark, "limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """With broadcast disabled (the 100 TB fact-fact regime), Spark
    injects a runtime bloom filter built from the selective side into
    the probe-side scan — rows that cannot join are dropped before the
    shuffle. Thresholds are tuned down because the fixture is small;
    on a real cluster the defaults (10 MB creation side) take over."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_totalprice") > 500000
        )
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_layout_tightens_file_bounds(spark, tmp_path):
    """Data-skipping evidence: range-partitioning by the Morton code
    yields per-file min/max rectangles (size × price_bucket) several
    times tighter than partitioning by primary key — which is exactly
    what lets file-stat pruning skip scans filtered on EITHER
    dimension."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from big_data_flight_spark.operators.sorts_sets import _Z_SPARK

    p = spark.read.parquet(f"{SF_SMOKE}/part.parquet").select(
        "p_partkey",
        "p_size",
        F.floor(F.col("p_retailprice") / 100.0).cast("int").alias("price_bucket"),
    )
    coded = p.withColumn("zorder", F.expr(_Z_SPARK).cast("long"))

    def mean_bound_area(path: str) -> float:
        areas = []
        for f in glob.glob(path + "/*.parquet"):
            t = pq.read_table(f, columns=["p_size", "price_bucket"])
            s = t.column("p_size").to_pylist()
            b = t.column("price_bucket").to_pylist()
            if s:
                areas.append((max(s) - min(s) + 1) * (max(b) - min(b) + 1))
        return sum(areas) / len(areas)

    z_dir, base_dir = str(tmp_path / "z"), str(tmp_path / "base")
    coded.repartitionByRange(8, "zorder").sortWithinPartitions("zorder").write.parquet(z_dir)
    coded.repartitionByRange(8, "p_partkey").write.parquet(base_dir)
    assert mean_bound_area(z_dir) < 0.5 * mean_bound_area(base_dir)


def test_pagerank_iteration_broadcasts_scores(spark):
    """One un-checkpointed PageRank round must broadcast the small
    score table against the edge list (never shuffle edges on src) —
    the gated plan can't show this because each round's
    localCheckpoint cuts lineage (the snapshot asserts ExistingRDD
    instead), so the per-iteration shape is pinned here."""
    from pyspark.sql import functions as F

    from big_data_flight_spark.operators.graph import _degrees, _trading_edges

    edges = _trading_edges(spark, SF_SMOKE)
    deg = _degrees(edges)
    sd = deg.select("node", F.lit(1_000_000).cast("long").alias("score"), "d")
    contrib = (
        edges.join(F.broadcast(sd), edges.src == sd.node)
        .groupBy("dst")
        .agg(F.sum(F.floor(F.col("score") / F.col("d"))).alias("contrib"))
    )
    plan = plan_text(contrib)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_scores_conserve_mass(spark):
    """Sanity invariant of the integer formulation: every node's score
    stays positive and total mass stays within the floor-loss bound of
    N * SCALE (each of the 3 rounds can only lose to floor(), never
    create mass)."""
    from big_data_flight_spark.operators.graph import _SCALE, graph_pagerank

    rows = graph_pagerank(spark, SF_SMOKE).collect()
    n = len(rows)
    total = sum(r.score for r in rows)
    assert n > 0 and all(r.score > 0 for r in rows)
    assert total <= n * _SCALE
    # floor-loss across 3 rounds is tiny relative to total mass
    assert total > 0.95 * n * _SCALE

def test_pagerank_converged_terminates_early(spark):
    """The convergence-gated variant must actually exercise its gate:
    on the fixture the geometric 0.85 contraction crosses the integer
    eps tolerance BEFORE the round cap, and every row carries the same
    audited rounds_executed (the oracle independently recomputes both
    the stop round and that round's scores)."""
    from big_data_flight_spark.operators.graph import (
        _CONV_EPS,
        _MAX_ROUNDS,
        graph_pagerank_converged,
    )

    rows = graph_pagerank_converged(spark, SF_SMOKE).collect()
    assert rows
    executed = {r.rounds_executed for r in rows}
    assert len(executed) == 1
    k = executed.pop()
    assert 1 <= k < _MAX_ROUNDS, f"expected early stop, ran {k}/{_MAX_ROUNDS}"
    assert _CONV_EPS > 0
