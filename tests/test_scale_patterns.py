"""Tests for the round-5 session-2 scale-pattern gates: bitmap exact
distinct, mergeable KMV sketch, oriented triangle counting, perceptual
image-hash dedup, and the bin-replicated interval join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules
from tests.conftest import SF_SMOKE

NEW_GATES = [
    "agg_bitmap_distinct",
    "agg_kmv_distinct",
    "graph_triangle_count",
    "mm_phash_dedup",
    "join_interval_binned",
]


@pytest.mark.parametrize("name", NEW_GATES)
def test_oracle_parity_smoke(spark, duck, name):
    from tools.compare import compare_one

    _load_all_operator_modules()
    q = _REGISTRY[name]
    r = compare_one(spark, duck, name, q, SF_SMOKE)
    assert r["status"] in ("OK", "WEAK_OK"), r


def test_new_gates_are_aliased_into_driver_window():
    """Brand-new-gate rule, rotation-aware: every CURRENT
    _NEW_GATE_ALIASES target must land inside the driver's 50-name
    alphabetical window (the r5-session-2 NEW_GATES list above was
    that round's instance; the alias window rotates per round, so
    this asserts the live registration instead of a frozen list)."""
    from big_data_flight_spark.operators.aliases import (
        _DEFERRED_TO_NEXT_ROTATION,
        _NEW_GATE_ALIASES,
    )

    _load_all_operator_modules()
    window = sorted(_REGISTRY)[:50]
    # _NEW_GATE_ALIASES may be legitimately empty early in a round
    # (before any gate is born); the ledger test below still forces
    # every newcomer into alias-or-defer the moment it registers.
    for alias, target in _NEW_GATE_ALIASES.items():
        assert target in _REGISTRY
        assert alias in window
    for target in _DEFERRED_TO_NEXT_ROTATION:
        assert target in _REGISTRY


def test_every_gate_is_consciously_registered():
    """The teeth behind the brand-new-gate rule (an r6 review finding:
    a live-only check lets an unlisted newcomer slip through): the
    committed tests/known_gates.txt ledger must exactly equal the
    distinct registry. Adding a gate therefore forces a ledger edit,
    and the failure message states the alias-or-defer obligation."""
    import os

    _load_all_operator_modules()
    ledger_path = os.path.join(os.path.dirname(__file__), "known_gates.txt")
    with open(ledger_path) as fh:
        known = {line.strip() for line in fh if line.strip()}
    names = {n for n in _REGISTRY if not n.startswith("a0_")}
    unknown = names - known
    assert not unknown, (
        f"gates {sorted(unknown)} are not in tests/known_gates.txt — add "
        "them to the ledger AND either alias them into the driver window "
        "(_NEW_GATE_ALIASES) or list them in _DEFERRED_TO_NEXT_ROTATION "
        "(operators/aliases.py)"
    )
    stale = known - names
    assert not stale, f"ledger entries {sorted(stale)} no longer registered"


def test_bitmap_distinct_equals_exact(spark):
    """The bitmap construction is EXACT: on the fixture every group's
    bitmap count equals countDistinct (also an in-row audit column)."""
    _load_all_operator_modules()
    rows = _REGISTRY["agg_bitmap_distinct"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_distinct_bitmap"] == r["n_distinct_exact"]
        assert r["n_words"] <= r["n_distinct_bitmap"]  # >= 1 bit per word


def test_kmv_underfull_sketch_is_exact(spark):
    """distinct < k -> the sketch IS the value set: estimate must
    equal the exact distinct count, regardless of sharding."""
    from big_data_flight_spark.operators.sketches import kmv_distinct_estimate

    keyed = spark.createDataFrame(
        [(i % 4, i % 10) for i in range(200)], ["shard", "key"]
    )
    (row,) = kmv_distinct_estimate(keyed).collect()
    assert row["exact_distinct"] == 10
    assert row["est_distinct"] == 10
    assert row["within_2x"]


def test_kmv_fixture_sketch_and_merge_bounds(spark):
    """On the smoke fixture (150 customers > k=64) the sketch fills:
    the estimate must satisfy the in-row 2x audit, and the union of
    shard sketches holds between min(k, exact) and shards*k rows."""
    from big_data_flight_spark.operators.sketches import KMV_K

    _load_all_operator_modules()
    (row,) = _REGISTRY["agg_kmv_distinct"].builder(spark, SF_SMOKE).collect()
    if row["exact_distinct"] < KMV_K:
        assert row["est_distinct"] == row["exact_distinct"]
    else:
        assert row["within_2x"]
    assert row["n_shard_rows"] <= row["n_shards"] * row["k"]
    assert row["n_shard_rows"] >= min(row["k"], row["exact_distinct"])


def test_triangle_stats_on_known_graph(spark):
    """Hand graph: triangle {1,2,3} + square {4,5,6,7} (no diagonal)
    + pendant 3-8. Exactly one triangle; wedge count per the oriented
    formulation is >= n_triangles."""
    from big_data_flight_spark.operators.graph import triangle_stats

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (5, 6), (6, 7), (4, 7), (3, 8)]
    e0 = spark.createDataFrame(edges, ["u", "v"])
    (row,) = triangle_stats(e0).collect()
    assert row["n_nodes"] == 8
    assert row["n_edges"] == 8
    assert row["n_triangles"] == 1
    assert row["n_wedges"] >= row["n_triangles"]
    # degrees 2,2,3,2,2,2,2,1 -> sum C(d,2) = 9; coeff = 3e6/9
    assert row["n_paths2"] == 9
    assert row["clustering_coeff_micro"] == 333333


def test_triangle_stats_complete_k4(spark):
    """K4 has C(4,3) = 4 triangles and every wedge closes."""
    from itertools import combinations

    from big_data_flight_spark.operators.graph import triangle_stats

    e0 = spark.createDataFrame(list(combinations(range(4), 2)), ["u", "v"])
    (row,) = triangle_stats(e0).collect()
    assert row["n_triangles"] == 4
    assert row["n_wedges"] == 4  # oriented: one wedge per triangle in K4
    assert row["n_paths2"] == 12  # 4 nodes x C(3,2)
    assert row["clustering_coeff_micro"] == 1_000_000  # every path closes


def test_binned_pairs_cross_boundary_counted_once(spark):
    """Two intervals overlapping ACROSS a bin boundary share two bins;
    the responsible-bin filter must yield the pair exactly once. Also:
    touching endpoints (s_b == e_a) count as overlap with 0 seconds,
    and disjoint intervals in the same bin do not pair."""
    from big_data_flight_spark.operators.joins import _IV_BIN_S, binned_overlap_pairs

    B = _IV_BIN_S
    iv = spark.createDataFrame(
        [
            # pair (1,2): straddles the bin-B boundary, two shared bins
            (1, 10, B - 100, B + 100),
            (2, 10, B - 50, B + 150),
            # pair (3,4): touching endpoints -> 0-second overlap
            (3, 10, 2 * B + 10, 2 * B + 20),
            (4, 10, 2 * B + 20, 2 * B + 30),
            # 5 vs 6: same bin, disjoint
            (5, 10, 4 * B + 10, 4 * B + 20),
            (6, 10, 4 * B + 30, 4 * B + 40),
            # 7: other user overlapping 1's range -> never pairs
            (7, 11, B - 100, B + 100),
        ],
        ["event_id", "user_id", "s", "e"],
    )
    pairs = binned_overlap_pairs(iv).select(
        F.col("a.event_id").alias("ea"), F.col("b.event_id").alias("eb")
    )
    got = sorted((r["ea"], r["eb"]) for r in pairs.collect())
    assert got == [(1, 2), (3, 4)]


def test_phash_invariant_to_zero_sum_byte_noise(spark):
    """The perceptual property on the fixture: at least one cluster
    must contain byte-DISTINCT payloads (n_payloads > 1) — the thing
    exact-hash dedup cannot do — at a scale where patterns repeat."""
    _load_all_operator_modules()
    df = _REGISTRY["mm_phash_dedup"].builder(spark, "/root/testdata/sf0.01")
    rows = df.collect()
    assert any(r["n_docs"] > 1 and r["n_payloads"] > 1 for r in rows)
    # every multi-payload cluster is a TRUE perceptual merge: more
    # docs than distinct payloads is impossible to invert
    for r in rows:
        assert r["n_payloads"] <= r["n_docs"]


# --- round-5 session-3 gates: CMS, KMV set algebra, bloom-pruned join ---

S3_GATES = ["agg_kmv_set_ops", "join_bloom_pruned"]


@pytest.mark.parametrize("name", S3_GATES)
def test_s3_oracle_parity_smoke(spark, duck, name):
    from tools.compare import compare_one

    _load_all_operator_modules()
    q = _REGISTRY[name]
    r = compare_one(spark, duck, name, q, SF_SMOKE)
    assert r["status"] in ("OK", "WEAK_OK"), r


def test_kmv_set_ops_fixture_bounds(spark):
    """Sketch estimates must bracket the exact values within the
    audit factor on the fixture, and the union estimate must be >=
    each input's sketch-implied size lower bound."""
    _load_all_operator_modules()
    (row,) = _REGISTRY["agg_kmv_set_ops"].builder(spark, SF_SMOKE).collect()
    assert row.exact_union > 0
    # same 2x band the KMV distinct gate audits (k=64 => ~12% rse)
    assert row.est_union >= row.exact_union // 2
    assert row.est_union <= 2 * row.exact_union
    # intersection estimate must stay within [0, est_union]
    assert 0 <= row.est_intersection <= row.est_union
    assert 0 <= row.n_common <= 64


def test_kmv_set_ops_underfull_exactness(spark):
    """When |A ∪ B| < k the union sketch IS the union value set, so
    est_union must be EXACT — and n_common counts the true overlap's
    hashes, making est_intersection exact too (md5 is injective on
    these small domains — asserted, not assumed)."""
    from big_data_flight_spark.operators.sketches import (
        KMV_K,
        _kmv_topk,
        _md5_int,
    )

    a = spark.createDataFrame([(i,) for i in range(20)], ["key"])
    b = spark.createDataFrame([(i,) for i in range(10, 30)], ["key"])
    ha = a.select(_md5_int(F.col("key").cast("string"), 8).alias("h"))
    hb = b.select(_md5_int(F.col("key").cast("string"), 8).alias("h"))
    # injectivity on this domain (no md5-prefix collisions)
    assert ha.union(hb).distinct().count() == 30
    su = _kmv_topk(ha.union(hb), KMV_K)
    assert su.count() == 30  # underfull: sketch == union set


def test_bloom_gate_restores_session_confs(spark):
    """The scoped bloom confs must NOT leak: every conf the builder
    touches reads the same before and after (other gates' plans —
    broadcast joins especially — depend on the defaults)."""
    from big_data_flight_spark.operators.joins import _BLOOM_CONFS

    _load_all_operator_modules()

    def snap():
        vals = {}
        for k in _BLOOM_CONFS:
            try:
                vals[k] = spark.conf.get(k)
            except Exception:  # noqa: BLE001
                vals[k] = None
        return vals

    before = snap()
    df = _REGISTRY["join_bloom_pruned"].builder(spark, SF_SMOKE)
    after = snap()
    assert before == after, "bloom gate leaked session confs"
    assert df.count() > 0


def test_histogram_quantile_audit_holds_on_fixture(spark):
    """Every probed quantile's containment audit must come back true,
    and the bin window must be exactly one bin wide."""
    from big_data_flight_spark.operators.sketches import HIST_BIN_W, HIST_QS_BP

    _load_all_operator_modules()
    rows = _REGISTRY["agg_histogram_quantile"].builder(spark, SF_SMOKE).collect()
    assert {r.q_bp for r in rows} == set(HIST_QS_BP)
    for r in rows:
        assert r.contains_quantile, r
        assert r.hi - r.lo == HIST_BIN_W - 1
        assert r.n_below < r.k <= r.n_thru


def test_histogram_sketch_is_mergeable(spark):
    """The scale claim in one assertion: histograms of two disjoint
    halves, merged by cell-wise sum, equal the whole's histogram."""
    from big_data_flight_spark.operators.sketches import HIST_BIN_W

    df = spark.range(10_000).select(
        (F.col("id") * 37 % 90_000).cast("double").alias("v")
    )

    def hist(frame):
        return (
            frame.select(
                F.expr(f"CAST(floor(v) AS BIGINT) DIV {HIST_BIN_W}").alias("b")
            )
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    whole = {r.b: r.c for r in hist(df).collect()}
    h1 = {r.b: r.c for r in hist(df.filter(F.col("id") % 2 == 0)).collect()}
    h2 = {r.b: r.c for r in hist(df.filter(F.col("id") % 2 == 1)).collect()}
    merged = {b: h1.get(b, 0) + h2.get(b, 0) for b in set(h1) | set(h2)}
    assert merged == whole


def test_bfs_layers_on_path_graph(spark):
    """Path graph 1-2-3-4-5-6 from source {1}: hops must be exact
    layer indices, nodes beyond max_hops unreached."""
    from big_data_flight_spark.operators.graph import bfs_layers

    undirected = [(i, i + 1) for i in range(1, 6)]
    edges = spark.createDataFrame(
        undirected + [(b, a) for a, b in undirected], ["src", "dst"]
    )
    src = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.hop for r in bfs_layers(edges, src, 3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5, 6 beyond 3 hops: absent


def test_bfs_layers_rejoin_does_not_relabel(spark):
    """A node reachable at hops 1 AND 3 (cycle) must keep hop 1 —
    first-reached wins via the anti-join."""
    from big_data_flight_spark.operators.graph import bfs_layers

    tri = [(1, 2), (2, 3), (3, 1)]
    edges = spark.createDataFrame(
        tri + [(b, a) for a, b in tri], ["src", "dst"]
    )
    src = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.hop for r in bfs_layers(edges, src, 3).collect()}
    assert got == {1: 0, 2: 1, 3: 1}


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """The Z-order scale claim, read straight from parquet footer
    statistics: (a) most files are tight in BOTH normalized
    dimensions (a 1-D sort is tight in at most one), and (b) the
    gate's 2-D box can skip at least a quarter of the files on
    stats alone."""
    import glob

    import pyarrow.parquet as pq

    from big_data_flight_spark.sources.connectors import (
        _Z_SCALE,
        write_zorder_layout,
    )

    out = str(tmp_path / "zorder")
    write_zorder_layout(spark, SF_SMOKE, out)
    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) == 16
    boxes = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo, hi = {}, {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                name = col.path_in_schema
                if name not in ("un", "dn") or col.statistics is None:
                    continue
                st = col.statistics
                lo[name] = min(lo.get(name, st.min), st.min)
                hi[name] = max(hi.get(name, st.max), st.max)
        boxes.append((lo["un"], hi["un"], lo["dn"], hi["dn"]))
    tight_u = sum(1 for u0, u1, _, _ in boxes if u1 - u0 < _Z_SCALE)
    tight_d = sum(1 for _, _, d0, d1 in boxes if d1 - d0 < _Z_SCALE)
    assert tight_u >= 12, boxes
    assert tight_d >= 12, boxes
    # the gate's box: un in [64,160], dn in [80,170]
    skippable = sum(
        1
        for u0, u1, d0, d1 in boxes
        if u1 < 64 or u0 > 160 or d1 < 80 or d0 > 170
    )
    assert skippable >= 4, boxes


def test_r12_window_purges_remaining_stale_rows():
    """The r12 rotation contract — the FINAL step of the committed
    purge schedule (VERDICT r11 #1: "the 48 remaining r6-row gates;
    newcomers ≤2") — pinned against the round-start mechanical audit
    snapshot (tools/staleness.py -> stale_rows_r12.json, 48 stale, all
    r6-cohort): EVERY remaining stale gate must be aliased into the
    50-name window (newcomers displace the steady-state slot first,
    then r6 reverse-alphabetical), the spare slots go to the
    steady-state head start (oldest FRESH cohort = r7, alphabetically
    first within it: agg_bitmap_rolling_distinct), and the window
    stays exactly 50. The r10/r11 pins and their snapshots live in git
    history; this test always pins the LIVE window against the LIVE
    round's snapshot."""
    import json
    import os

    from big_data_flight_spark.operators.aliases import _ALIASES, _NEW_GATE_ALIASES

    snap_path = os.path.join(os.path.dirname(__file__), "stale_rows_r12.json")
    with open(snap_path) as fh:
        snap = json.load(fh)["stale"]
    assert all(r == 6 for r in snap.values()), "r12 backlog must be pure r6"
    r6_sorted = sorted(snap)
    targets = set(_ALIASES.values()) | set(_NEW_GATE_ALIASES.values())
    n_newcomers = len(_NEW_GATE_ALIASES)
    assert n_newcomers <= 2, "newcomer production is capped at 2 in r12"
    # STRICT purge order: newcomers displace the steady-state slot
    # FIRST (1 spare slot with 48 stale + 50-name window), so r6
    # displacement only begins at the 2nd newcomer — and then strictly
    # reverse-alphabetical from the cohort tail.
    missing_r6 = sorted(set(r6_sorted) - targets)
    # 50 slots - 48 stale = 2 spare; slot 50 is the steady-state pick,
    # slot 49 the first newcomer. A 2nd newcomer evicts the steady-
    # state pick; only a 3rd (forbidden above) would touch r6 rows.
    assert not missing_r6, (
        "FINAL purge step: every remaining r6-cohort gate must be in "
        f"the r12 window; missing: {missing_r6}"
    )
    # the steady-state slot: any aliased target that is neither stale
    # nor a newcomer must be the documented oldest-fresh-cohort pick,
    # and is present only while newcomers leave it room
    extras = sorted(targets - set(r6_sorted) - set(_NEW_GATE_ALIASES.values()))
    expected_extras = ["agg_bitmap_rolling_distinct"] if n_newcomers <= 1 else []
    assert extras == expected_extras, (
        f"steady-state slot mismatch: got {extras}, expected {expected_extras}"
    )
    # window stays exactly 50
    assert len(_ALIASES) + len(_NEW_GATE_ALIASES) == 50
