"""Round-9 gate tests: the interleaved multimodal packer, the IVF-PQ
persistence round-trip and the sliced-proxy artifact (the md5-slot
sliced dedup twins' own tests are in tests/test_text_similarity.py).
Oracle parity for every new gate is separately proven by
tools/compare.py (all three SFs, run this round); these tests pin the
cross-gate INVARIANTS the oracles can't see."""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE


def test_interleaved_pack_conserves_items_and_tokens(spark):
    """Conservation + layout coherence: every eligible doc lands in
    exactly one bin; per bin, image+text = total and the layout string
    parses back to exactly n_items entries whose I/T sums equal the
    bin's token columns; image costs match the _ppm_raster closed form
    is the ORACLE's job — here we pin the packer's accounting."""
    import pyspark.sql.functions as F

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.multimodal import (
        _MM_PACK_BUDGET,
        mm_interleaved_pack,
    )

    rows = mm_interleaved_pack(spark, SF_SMOKE).collect()
    assert rows
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    n_docs = (
        table(spark, SF_SMOKE, "documents")
        .select(F.size(toks).alias("n"))
        .filter(F.col("n") > 0)
        .count()
    )
    assert sum(r["n_items"] for r in rows) == n_docs
    pat = re.compile(r"^I(\d+)\+T(\d+)$")
    max_item = 0
    for r in rows:
        assert r["image_tokens"] + r["text_tokens"] == r["total_tokens"]
        parts = r["layout"].split("|")
        assert len(parts) == r["n_items"]
        isum = tsum = 0
        for p in parts:
            m = pat.match(p)
            assert m, p
            isum += int(m.group(1))
            tsum += int(m.group(2))
            max_item = max(max_item, int(m.group(1)) + int(m.group(2)))
        assert isum == r["image_tokens"] and tsum == r["text_tokens"]
        assert r["first_doc"] <= r["last_doc"]
    # running-sum placement can overfill a bin by at most one item
    assert all(
        r["total_tokens"] < _MM_PACK_BUDGET + max_item for r in rows
    )


def test_ivfpq_persist_is_bit_identical_to_in_plan(spark):
    """The whole point of the gate: probing the parquet-reloaded index
    returns the exact row set of the in-plan stack (integer ADC makes
    'exact' well-defined)."""
    from big_data_flight_spark.operators.similarity import (
        sim_ivf_pq,
        sim_ivf_pq_persist,
    )

    in_plan = sorted(tuple(r) for r in sim_ivf_pq(spark, SF_SMOKE).collect())
    reloaded = sorted(
        tuple(r) for r in sim_ivf_pq_persist(spark, SF_SMOKE).collect()
    )
    assert in_plan == reloaded and len(in_plan) > 0


def test_sliced_proxy_twins_are_green_in_committed_artifact():
    """The sf0.1 artifact's sliced_proxy map must name a twin with a
    green status for every proxied quadratic-oracle gate — the guard
    that a proxied gate can't silently read as covered off a twin that
    failed or went missing (compare.py records twin_status beside each
    entry for exactly this check)."""
    import json
    import os

    from tests.conftest import REPO

    path = os.path.join(REPO, "COMPARE_LOCAL_sf0.1.json")
    with open(path) as fh:
        art = json.load(fh)
    proxy = art.get("sliced_proxy")
    # Hard FAIL, not skip, on a pre-r9 artifact (r9 self-review: a
    # guard that skips in exactly the stale-artifact state it exists
    # to catch is vacuous). The artifact is re-stamped every round as
    # the last act; a missing key means that didn't happen.
    assert proxy is not None, (
        "COMPARE_LOCAL_sf0.1.json predates the sliced-proxy compare.py "
        "(r9) or was stamped without it — regenerate via "
        "`SF_DIR=/root/testdata/sf0.1 python tools/compare.py`"
    )
    from tools.compare import SLICED_PROXY_SF01

    # every mapped original (and any alias of it) that appears in the
    # artifact must be proxied, and every twin must be green
    assert set(SLICED_PROXY_SF01) <= {
        n.removeprefix("a0_") for n in proxy
    } | set(proxy)
    for name, rec in proxy.items():
        assert rec["twin_status"] == "OK", (name, rec)
        assert art["statuses"].get(rec["twin"]) == "OK", (name, rec)
    # r10 (VERDICT r9 #4): the bare skip list is EMPTY — the one
    # twin-less slow-oracle gate (text_minhash_mllib) now carries
    # rows+audit evidence at sf0.1 instead of a skip, recorded green.
    assert art.get("skipped", {}) == {}, art.get("skipped")
    audit = art.get("rows_audit")
    assert audit, "sf0.1 artifact missing rows_audit (pre-r10 stamp?)"
    assert any(
        n.removeprefix("a0_") == "text_minhash_mllib"
        and rec["status"] == "ROWS_AUDIT_OK"
        and rec["rows"] > 0
        for n, rec in audit.items()
    ), audit


# ---------------------------------------------------------------------------
# Session-2 newborns: recursive CTE, SQL UDF, expectation suite, Z-order
# ---------------------------------------------------------------------------


def test_recursive_cte_chain_arithmetic(spark):
    """The recursion is integer-chain arithmetic with a closed form:
    every customer key k lands at root = k // 10^depth with root < 10
    and (depth == 0 or k >= 10^depth); the per-(root, depth) node
    counts must therefore total the customer count, and every key's
    destination is recomputable in plain Python."""
    from collections import Counter

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.relational import sql_recursive_cte

    rows = sql_recursive_cte(spark, SF_SMOKE).collect()
    keys = [r["c_custkey"] for r in table(spark, SF_SMOKE, "customer")
            .select("c_custkey").collect()]
    expected = Counter()
    for k in keys:
        cur, depth = k, 0
        while cur >= 10:
            cur //= 10
            depth += 1
        expected[(cur, depth)] += 1
    got = {(r["root"], r["depth"]): r["n_nodes"] for r in rows}
    assert got == dict(expected)
    assert sum(r["n_nodes"] for r in rows) == len(keys)


def test_sql_udf_matches_plain_dataframe_form(spark):
    """The SQL-UDF composition (TVF filter + scalar net-price inside
    the aggregate) must equal the same computation written as plain
    DataFrame ops — the UDF surface adds reuse, never semantics."""
    import pyspark.sql.functions as F

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.relational import sql_udf
    from big_data_flight_spark.registry import dsum

    got = {r["l_linestatus"]: (r["n_lines"], r["sum_net"])
           for r in sql_udf(spark, SF_SMOKE).collect()}
    li = table(spark, SF_SMOKE, "lineitem").filter(F.col("l_returnflag") == "R")
    net = (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    )
    want = {
        r["l_linestatus"]: (r["n_lines"], r["sum_net"])
        for r in li.withColumn("net", net)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("net", "sum_net"),
        )
        .collect()
    }
    assert got == want  # bit-identical: same double expr, same decimal sum


def test_dq_expectations_shape_and_consistency(spark):
    """Six fixed expectations; n_checked equals the subject table's
    row count; passed is exactly (n_violations == 0); the fixture is
    referentially intact so the FK and uniqueness rules hold."""
    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.etl import dq_expectations

    rows = {r["expectation"]: r for r in dq_expectations(spark, SF_SMOKE).collect()}
    assert len(rows) == 6
    n_orders = table(spark, SF_SMOKE, "orders").count()
    n_lineitem = table(spark, SF_SMOKE, "lineitem").count()
    n_customer = table(spark, SF_SMOKE, "customer").count()
    for name, r in rows.items():
        assert r["passed"] == (r["n_violations"] == 0), name
        assert 0 <= r["n_violations"] <= r["n_checked"], name
    assert rows["orders.o_orderkey.unique"]["n_checked"] == n_orders
    assert rows["lineitem.l_orderkey.fk_orders"]["n_checked"] == n_lineitem
    assert rows["customer.c_acctbal.range_-1000_10000"]["n_checked"] == n_customer
    # the generator derives lineitem from orders: FK and PK must hold
    assert rows["lineitem.l_orderkey.fk_orders"]["n_violations"] == 0
    assert rows["orders.o_orderkey.unique"]["n_violations"] == 0


def test_zorder_buckets_are_locality_bounded(spark):
    """THE z-order property: bucketing by the Morton code's high 6
    bits fixes the top 3 bits of BOTH 8-bit dimensions, so within any
    bucket each dimension spans at most 2^5 - 1 = 31 cells — narrow in
    x AND y simultaneously (a single-column sort bounds only one).
    Also conservation: bucket row counts total the orders count."""
    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.etl import etl_zorder_layout

    rows = etl_zorder_layout(spark, SF_SMOKE).collect()
    assert sum(r["n_rows"] for r in rows) == table(spark, SF_SMOKE, "orders").count()
    for r in rows:
        assert 0 <= r["x_lo"] <= r["x_hi"] <= 255, r
        assert 0 <= r["y_lo"] <= r["y_hi"] <= 255, r
        assert r["x_span"] <= 31 and r["y_span"] <= 31, r
        assert 0 <= r["bucket"] < 64, r


def test_listagg_equals_sorted_collect_render(spark):
    """LISTAGG WITHIN GROUP must equal the manual render of the
    sorted collect_list — the two surfaces are one semantic."""
    import pyspark.sql.functions as F

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.aggregates import agg_listagg

    got = {r["r_name"]: (r["n_nations"], r["nations"])
           for r in agg_listagg(spark, SF_SMOKE).collect()}
    n = table(spark, SF_SMOKE, "nation")
    r = table(spark, SF_SMOKE, "region")
    manual = {
        row["r_name"]: (row["n"], row["s"])
        for row in n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias("s"),
        )
        .collect()
    }
    assert got == manual and len(got) > 0


def test_drift_tv_bounds_and_conservation(spark):
    """tv_micro is a probability distance in micro-units: 0 <= tv <=
    1e6; per-type half counts must total the type's event count; and
    a self-drift (same half vs itself) is identically zero."""
    import pyspark.sql.functions as F

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.etl import dq_drift_tv

    rows = dq_drift_tv(spark, SF_SMOKE).collect()
    assert rows, "no event types?"
    totals = {
        r["event_type"]: r["n"]
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in rows:
        assert 0 <= r["tv_micro"] <= 1_000_000, r
        assert r["n_first"] + r["n_second"] == totals[r["event_type"]], r
        assert r["n_first"] > 0 and r["n_second"] > 0, r


def test_drift_tv_matches_exact_fraction_arithmetic(spark):
    """Recompute TV with exact rational arithmetic (fractions.Fraction
    over raw bin counts) and assert the gate's integer micro-units are
    the exact floor — proving no float ever influenced the result."""
    from fractions import Fraction

    import pyspark.sql.functions as F

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.etl import dq_drift_tv

    e = table(spark, SF_SMOKE, "events").select(
        "event_type",
        F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("vu"),
        F.unix_micros("ts").alias("tu"),
    )
    rows = e.collect()  # smoke SF only: ~6k events
    tmin = min(r["tu"] for r in rows); tmax = max(r["tu"] for r in rows)
    vmin = min(r["vu"] for r in rows); vmax = max(r["vu"] for r in rows)
    from collections import Counter
    cnt = Counter()
    for r in rows:
        half = 0 if (r["tu"] - tmin) * 2 < (tmax - tmin) else 1
        b = min(9, ((r["vu"] - vmin) * 10) // max(vmax - vmin + 1, 1))
        cnt[(r["event_type"], half, b)] += 1
    types = {t for t, _, _ in cnt}
    expected = {}
    for t in types:
        na_tot = sum(v for (tt, h, _), v in cnt.items() if tt == t and h == 0)
        nb_tot = sum(v for (tt, h, _), v in cnt.items() if tt == t and h == 1)
        tv = Fraction(0)
        for b in range(10):
            pa = Fraction(cnt.get((t, 0, b), 0), na_tot)
            pb = Fraction(cnt.get((t, 1, b), 0), nb_tot)
            tv += abs(pa - pb)
        expected[t] = (na_tot, nb_tot, (tv / 2 * 1_000_000).__floor__())
    got = {
        r["event_type"]: (r["n_first"], r["n_second"], r["tv_micro"])
        for r in dq_drift_tv(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_seasonal_anomaly_matches_exact_python_ints(spark):
    """Recompute the cross-multiplied 3-sigma inequality with Python
    arbitrary-precision ints on the smoke fixture and assert identical
    per-cell anomaly counts — the no-float claim, checked end to end.
    Also asserts the gate actually FLAGS something (a profile under
    which zero rows ever deviate would be a semantically vacuous
    anomaly detector even with 120 output rows)."""
    import pyspark.sql.functions as F

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.events import evt_seasonal_anomaly

    raw = (
        table(spark, SF_SMOKE, "events")
        .select(
            "event_type",
            F.hour("ts").cast("int").alias("hr"),
            F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("vu"),
        )
        .collect()
    )
    from collections import defaultdict
    cells = defaultdict(list)
    for r in raw:
        cells[(r["event_type"], r["hr"])].append(r["vu"])
    expected = {}
    for key, vs in cells.items():
        n, sv = len(vs), sum(vs)
        svv = sum(v * v for v in vs)
        flags = sum(1 for v in vs if (n * v - sv) ** 2 > 9 * (n * svv - sv * sv))
        # TRUNCATING division, not Python floor: both engines truncate
        # toward zero (Spark DIV, DuckDB //), and a regenerated fixture
        # could make a cell sum negative (review r9-s2).
        mean_micro = abs(sv) // n if sv >= 0 else -(abs(sv) // n)
        expected[key] = (n, mean_micro, flags)
    got = {
        (r["event_type"], r["hour"]): (r["n"], r["mean_micro"], r["n_anomalies"])
        for r in evt_seasonal_anomaly(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert sum(f for _, _, f in got.values()) > 0


def test_stream_drift_twin_equals_batch_gate(spark):
    """The streaming histogram path must land on the batch gate's
    exact report, row for row (both run the shared exact-integer
    finish; the twin's counts come from micro-batch state folds)."""
    from big_data_flight_spark.operators.etl import dq_drift_tv
    from big_data_flight_spark.streaming.twins import stream_drift_tv

    batch = sorted(tuple(r) for r in dq_drift_tv(spark, SF_SMOKE).collect())
    stream = sorted(tuple(r) for r in stream_drift_tv(spark, SF_SMOKE).collect())
    assert batch == stream and len(batch) > 0


def test_approx_top_k_audit_holds_and_covers_all_types(spark):
    """Every event_type row must carry est == exact (the sketch is
    exact below its tracked-item capacity) and the gate must cover
    the full type set — a sketch that silently dropped a key would
    fail the coverage check, not just the flag."""
    import pyspark.sql.functions as F

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.aggregates import agg_approx_top_k

    rows = agg_approx_top_k(spark, SF_SMOKE).collect()
    types = {
        r["event_type"]
        for r in table(spark, SF_SMOKE, "events").select("event_type").distinct().collect()
    }
    assert {r["event_type"] for r in rows} == types
    for r in rows:
        assert r["est_matches_exact"] and r["n_est"] == r["n_exact"] > 0, r


def test_collation_merges_both_case_variants(spark):
    """Each collated group must have merged exactly the two case
    spellings the parity flip created (n_case_variants == 2 proves
    the collation-aware grouping did real work), and group sizes
    must total the customer count."""
    from big_data_flight_spark.functions.scalar import fn_collation
    from big_data_flight_spark.io import table

    rows = fn_collation(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["segment_lc"] == r["segment_lc"].lower()
        assert r["n_case_variants"] == 2, r
    assert sum(r["n_rows"] for r in rows) == table(spark, SF_SMOKE, "customer").count()
