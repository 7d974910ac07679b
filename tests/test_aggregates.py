"""Unit tests for §2.4 aggregation operators on tiny inline frames,
synthetic parquet fixtures checked against independent Python
references, and oracle parity at smoke scale."""

from __future__ import annotations

import math
import os
import random
import shutil
import struct
import types

import pandas as pd
import pytest

import big_data_flight_spark.operators.aggregates as agg
from big_data_flight_spark.io import table
from big_data_flight_spark.plans.snapshot import plan_text
from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules
from tests.conftest import SF_SMOKE, write_parquet


def test_flagship_shape(spark):
    df = agg.flagship(spark, SF_SMOKE)
    rows = df.collect()
    assert 0 < len(rows) <= 6  # |returnflag| x |linestatus| combos
    r = rows[0]
    assert r["count_order"] > 0
    assert abs(r["avg_qty"] * r["count_order"] - r["sum_qty"]) < 1e-3


def test_dsum_is_exact(spark):
    from big_data_flight_spark.registry import dsum

    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], ["x"])
    (out,) = df.agg(dsum("x", "s")).collect()
    assert out["s"] == pytest.approx(0.6, abs=1e-12)


# ---------------------------------------------------------------------------
# registry.exact_sum_sql: the long-limb kernel against the decimal cast it
# replaces, to the bit
# ---------------------------------------------------------------------------

def _cast_sum_vs_kernel(spark, rows, schema="g int, x double"):
    """Per group: the cast form's decimal sum, double sum and average
    beside ``dsum_dec``, ``dsum`` and ``davg``."""
    from pyspark.sql import functions as F

    from big_data_flight_spark.registry import davg, dsum, dsum_dec

    ref = F.sum(F.col("x").cast("decimal(38,6)"))
    out = (
        spark.createDataFrame(rows, schema)
        .groupBy("g")
        .agg(
            ref.alias("ref"),
            dsum_dec("x", "dec"),
            ref.cast("double").alias("ref_d"),
            dsum("x", "d"),
            (ref.cast("double") / F.count("x")).alias("ref_avg"),
            davg("x", "avg"),
        )
        .collect()
    )
    return {r["g"]: r for r in out}


def _same(r) -> None:
    assert r["dec"] == r["ref"] and str(r["dec"]) == str(r["ref"]), r
    for a, b in (("d", "ref_d"), ("avg", "ref_avg")):
        assert (r[a] is None) == (r[b] is None), r
        if r[a] is not None:
            assert _bits([r[a]]) == _bits([r[b]]), (a, r)


def test_exact_sum_kernel_matches_decimal_cast_bits(spark):
    """Half-ties of both signs (the cast rounds HALF_UP the decimal that
    Double.toString reads), values one ulp either side of x·10^6 = 2^52,
    of 2^50 (where the tie margin reaches 0.5), of 1e9 and of 9.2e12,
    NaN/±Inf/NULL rows (cast to NULL, skipped) and an all-NULL group;
    each row is also its own group, so every per-row u is pinned."""
    ties = [5e-7, -5e-7, -2.5e-6, 2.5e-6, 0.0000025, 1.2345675, -1.2345675,
            12.3456785, -98765.4321235, 0.0000015, 4503.5999995]
    edges = []
    for b in (2.0**52 / 1e6, 2.0**50 / 1e6, 1e9, 9.2e12):
        for v in (math.nextafter(b, 0.0), b, math.nextafter(b, math.inf)):
            edges += [v, -v]
    rng = random.Random(5)
    spread = [rng.uniform(-1, 1) * 10.0 ** rng.randint(-9, 12) for _ in range(400)]
    special = [float("nan"), float("inf"), -float("inf"), None, 1.5, -0.0]
    groups = {0: ties, 1: edges, 2: spread, 3: special, 4: [None, None]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    rows += [(100 + i, v) for i, (_, v) in enumerate(rows)]
    got = _cast_sum_vs_kernel(spark, rows)
    assert set(got) == {g for g, _ in rows}
    for r in got.values():
        _same(r)
    assert got[3]["dec"] == pytest.approx(1.5) and got[4]["dec"] is None


def test_exact_sum_kernel_past_2_53_micro_units_rounds_once(spark):
    """A sum of n = 502025577539271952 micro-units: n/10^6 computed as
    double(n) / 1e6 rounds twice and misses the correctly rounded double
    by one ulp. The kernel's CAST of its DECIMAL(38,6) must give the
    correctly rounded value, as the cast form does."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from big_data_flight_spark.registry import dsum

    n = 502025577539271952
    exact = float(Fraction(n, 10**6))
    assert n > 2**53 and float(n) / 1e6 != exact  # the case bites
    df = spark.range(502025).select(F.lit(1000000.0).alias("x")).union(
        spark.createDataFrame([(577539.271952,)], "x double")
    )
    (row,) = df.agg(
        dsum("x", "s"), F.sum(F.col("x").cast("decimal(38,6)")).cast("double").alias("ref")
    ).collect()
    assert _bits([row["s"]]) == _bits([row["ref"]]) == _bits([exact])


def test_exact_sum_kernel_empty_input_and_overflow(spark):
    """An empty input sums to NULL; |x| past the long range of
    micro-units (about 9.2e12) raises, never a silent wrong sum."""
    from big_data_flight_spark.registry import dsum

    empty = spark.createDataFrame([], "x double")
    (row,) = empty.agg(dsum("x", "s")).collect()
    assert row["s"] is None
    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        spark.createDataFrame([(1.0,), (9.3e12,)], "x double").agg(dsum("x", "s")).collect()


def _oracle_parity(spark, duck, name):
    from tools.compare import compare_one

    _load_all_operator_modules()
    q = _REGISTRY[name]
    r = compare_one(spark, duck, name, q, SF_SMOKE)
    assert r["status"] in ("OK", "WEAK_OK"), r


@pytest.mark.parametrize("name", ["agg_groupby", "agg_stats", "agg_percentile"])
def test_agg_oracle_parity_smoke(spark, duck, name):
    _oracle_parity(spark, duck, name)


# ---------------------------------------------------------------------------
# agg_percentile: two result-identical forms, picked by the lineitem scan size
# ---------------------------------------------------------------------------


def _pctl_rows(spark, form: str, sf_dir: str = SF_SMOKE) -> dict:
    rows = getattr(agg, form)(table(spark, sf_dir, "lineitem")).collect()
    return {
        r["l_returnflag"]: (r["p50_price"], r["p90_price"], r["p99_price"])
        for r in rows
    }


def _bits(xs) -> list[bytes]:
    return [struct.pack(">d", x) for x in xs]


@pytest.mark.parametrize("form", ["_pctl_sorted", "_pctl_bounded"])
def test_pctl_form_oracle_parity_smoke(spark, duck, form):
    """Each form, forced by a direct call, matches DuckDB's quantile_cont."""
    from tools.compare import compare_one

    _load_all_operator_modules()
    q = types.SimpleNamespace(
        builder=lambda sp, d: getattr(agg, form)(table(sp, d, "lineitem")),
        oracle=_REGISTRY["agg_percentile"].oracle,
        expected_empty=None,
    )
    r = compare_one(spark, duck, "agg_percentile", q, SF_SMOKE)
    assert r["status"] == "OK", r


def test_pctl_bounded_bit_identical_to_sorted(spark):
    """The two agg_percentile forms must agree to the BIT (the oracle
    compare hashes the values; 'close' is not equal). Compared via IEEE bit
    patterns, not float ==, so a -0.0/0.0 or NaN slip would fail."""
    a = _pctl_rows(spark, "_pctl_sorted")
    b = _pctl_rows(spark, "_pctl_bounded")
    assert set(a) == set(b)
    for g in a:
        assert _bits(a[g]) == _bits(b[g]), (g, a[g], b[g])


def test_pctl_sorted_signed_zeros_and_nan(spark):
    """The sorted form's primitive sort orders -0.0 before 0.0 where
    ``array_sort`` kept collection order; it folds -0.0 into 0.0 first,
    so a percentile that lands on a zero reads 0.0, as the bounded
    form's grouping by value gives. NaN sorts last in both forms, as in
    the Python reference and DuckDB (the bounded form gives NaN the top
    bucket)."""
    groups = {
        "Z": [-0.0, -0.0, -0.0, 0.0, 7.0],
        "N": [200.0, float("nan"), 100.0, 300.0],
    }
    li = spark.createDataFrame(
        [(g, v) for g, vs in groups.items() for v in vs],
        "l_returnflag string, l_extendedprice double",
    )

    def rows(form):
        return {
            r["l_returnflag"]: (r["p50_price"], r["p90_price"], r["p99_price"])
            for r in getattr(agg, form)(li).collect()
        }

    got, bounded = rows("_pctl_sorted"), rows("_pctl_bounded")
    zeros = [v + 0.0 for v in groups["Z"]]
    want = tuple(_quantile_cont(zeros, p) for p in (0.5, 0.9, 0.99))
    assert _bits(got["Z"]) == _bits(want) and _bits(want[:1]) == _bits([0.0])
    assert _bits(got["Z"]) == _bits(bounded["Z"])
    nan_last = sorted(groups["N"], key=lambda v: (math.isnan(v), v))
    want = tuple(_quantile_cont(nan_last, p) for p in (0.5, 0.9, 0.99))
    assert _bits(got["N"]) == _bits(want), (got["N"], want)
    assert _bits(bounded["N"]) == _bits(want), (bounded["N"], want)


def test_pctl_bounded_plan_has_no_data_sized_collect(spark):
    """The bounded form's whole point (§5): no data-sized per-group
    buffer. Its plan must show the radix bucketing (shiftright) and
    must NOT collect raw l_extendedprice rows into one array — every
    collect_list runs above the (group, value)/(group, bucket)
    aggregates, whose width is domain-bounded (≤4096)."""
    plan = plan_text(agg._pctl_bounded(table(spark, SF_SMOKE, "lineitem")))
    # No raw-row collect anywhere (the sorted form's data-sized buffer
    # signature is collect_list over bare l_extendedprice)...
    assert "collect_list(l_extendedprice" not in plan
    # ...every collect runs over (key, count) histogram structs, above
    # the compact checkpointed count table (ExistingRDD).
    assert "collect_list(struct(" in plan
    assert "ExistingRDD" in plan


def test_pctl_default_form_unchanged_at_fixture_scale(spark):
    """The size switch must keep the sorted form at fixture scale (the
    bench-comparability contract): bench numbers measure the same plan
    as before the bounded form existed."""
    plan = plan_text(agg.agg_percentile(spark, SF_SMOKE))
    assert "collect_list(l_extendedprice" in plan
    assert "shiftright" not in plan
    assert "ExistingRDD" not in plan  # no checkpoint in the bench path


def test_pctl_form_follows_scan_size_not_layout(spark, tmp_path, monkeypatch):
    """The same lineitem stored as one file and as a partitioned
    directory (the 100 TB layout) picks the same form: the switch reads
    the size Spark reports for the scan, not a file-system inode."""
    src = f"{SF_SMOKE}/lineitem.parquet"
    flat = tmp_path / "flat"
    flat.mkdir()
    shutil.copy(src, flat / "lineitem.parquet")
    parts = tmp_path / "parts"
    (parts / "lineitem.parquet").mkdir(parents=True)
    shutil.copy(src, parts / "lineitem.parquet" / "part-00000.parquet")
    monkeypatch.setattr(agg, "_pctl_sorted", lambda li: "sorted")
    monkeypatch.setattr(agg, "_pctl_bounded", lambda li: "bounded")
    size = os.path.getsize(src)
    for threshold, want in ((size // 2, "bounded"), (size * 2, "sorted")):
        monkeypatch.setattr(agg, "_PCTL_BOUNDED_BYTES", threshold)
        picked = [agg.agg_percentile(spark, str(d)) for d in (flat, parts)]
        assert picked == [want, want], threshold


# ---------------------------------------------------------------------------
# _radix_select: both agg_percentile forms against an independent reference
# ---------------------------------------------------------------------------


def _quantile_cont(xs: list[float], p: float) -> float:
    """Linear-interpolation percentile in plain Python floats (IEEE
    doubles): the k-th order statistics around (n-1)*p, weighted by
    their distance to it."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * p
    lo = math.floor(pos)
    if pos == lo:
        return xs[lo]
    return xs[lo] * (math.ceil(pos) - pos) + xs[lo + 1] * (pos - lo)


def test_pctl_forms_match_reference_bits(spark, tmp_path):
    """Synthetic groups aimed at the kernel's edges: a 1-row group (all
    ranks cap at k_hi = least(.., n) = 1), a 2-row group, heavy
    duplicates, values straddling the 4096- and 8192-cent bucket
    boundaries, and a spread-out random group."""
    rng = random.Random(11)
    groups = {
        "A": [7.25],
        "B": [3.10, 1.05],
        "C": [2.00] * 50 + [5.00] * 30 + [9.99] * 19 + [123.45],
        "D": [40.95] * 3 + [40.96] * 4 + [81.91, 81.92, 0.01, 100000.00],
        "E": [round(rng.uniform(0.01, 104999.0), 2) for _ in range(301)],
    }
    frame = pd.DataFrame(
        [(g, v) for g, vs in groups.items() for v in vs],
        columns=["l_returnflag", "l_extendedprice"],
    )
    sf = write_parquet(tmp_path, "lineitem", frame)
    want = {g: tuple(_quantile_cont(vs, p) for p in (0.5, 0.9, 0.99)) for g, vs in groups.items()}
    for form in ("_pctl_sorted", "_pctl_bounded"):
        got = _pctl_rows(spark, form, sf)
        assert set(got) == set(want), form
        for g in want:
            assert _bits(got[g]) == _bits(want[g]), (form, g, got[g], want[g])


# ---------------------------------------------------------------------------
# agg_median_bisect: the kernel's ungrouped case on synthetic fixtures
# ---------------------------------------------------------------------------


class TestMedianBisect:
    def _run(self, spark, tmp_path, prices):
        sf = write_parquet(tmp_path, "lineitem", pd.DataFrame({"l_extendedprice": prices}))
        [row] = agg.agg_median_bisect(spark, sf).collect()
        return row

    def test_odd_with_duplicates(self, spark, tmp_path):
        # sorted cents: 100, 200, 200, 300, 1000 -> k=3 -> 200
        row = self._run(spark, tmp_path, [3.00, 2.00, 10.00, 1.00, 2.00])
        assert (row.n, row.k) == (5, 3)
        assert row.median_cents == 200
        assert row.median_price == 2.00
        assert (row.n_below, row.n_at) == (1, 2)
        assert row.n_over_domain == 0

    def test_even_lower_median(self, spark, tmp_path):
        # n=4 -> k=(4+1) DIV 2 = 2 -> second smallest
        row = self._run(spark, tmp_path, [4.00, 1.00, 3.00, 2.00])
        assert (row.n, row.k) == (4, 2)
        assert row.median_cents == 200
        assert (row.n_below, row.n_at) == (1, 1)

    def test_matches_sorted_reference(self, spark, tmp_path):
        rng = random.Random(7)
        prices = [round(rng.uniform(0.01, 120000.0), 2) for _ in range(500)]
        row = self._run(spark, tmp_path, prices)
        cents = sorted(math.floor(p * 100 + 0.5) for p in prices)
        k = (len(cents) + 1) // 2
        assert row.median_cents == cents[k - 1]
        assert row.n_below == sum(c < cents[k - 1] for c in cents)

    # The cross-PASS invariants the generic cases don't isolate: the r0
    # running-count carry from pass 1 (bucket prefix) into pass 2, and
    # selection exactly AT a 2^12 bucket boundary.

    def test_median_in_later_bucket_carries_prefix_count(self, spark, tmp_path):
        # cents 100, 5000, 10000, 15000, 20000 — one value per high-bit
        # bucket (0,1,2,3,4); k=3 selects bucket 2 with r0=2 carried.
        row = self._run(spark, tmp_path, [1.00, 50.00, 100.00, 150.00, 200.00])
        assert (row.n, row.k) == (5, 3)
        assert row.median_cents == 10000
        assert (row.n_below, row.n_at) == (2, 1)

    def test_duplicates_straddling_bucket_boundary(self, spark, tmp_path):
        # cents 4095 (last of bucket 0) x2, 4096 (first of bucket 1) x3;
        # k=3 -> median is the FIRST value of bucket 1 with r0=2.
        row = self._run(spark, tmp_path, [40.95, 40.95, 40.96, 40.96, 40.96])
        assert (row.n, row.k) == (5, 3)
        assert row.median_cents == 4096
        assert (row.n_below, row.n_at) == (2, 3)
