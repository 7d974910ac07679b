"""Fixture-regeneration drift tests (VERDICT r3 "Next round" #6).

The driver MAY regenerate /root/testdata between rounds with the same
seed but different physical types — it did once already (round 3:
events.ts TIMESTAMP(NANOS) → µs TIMESTAMP_NTZ), which silently changes
what ``spark.read.parquet`` surfaces. ``io.table`` and
``streaming.twins.events_stream`` dtype-guard ``ts`` to TIMESTAMP(LTZ)
under BOTH generations; these tests prove it against synthetic
fixtures of each physical type, so the next regeneration is a no-op.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# One µs-precision instant, expressed in ns with sub-µs noise that the
# ns→µs path must TRUNCATE (matching the DuckDB oracle's ns→µs cast).
_US = 1_700_000_000_123_456  # 2023-11-14T22:13:20.123456Z
_NS = _US * 1000 + 789


def _write_events(path: str, unit: str) -> None:
    ts_type = pa.timestamp(unit)  # no tz -> isAdjustedToUTC=false (NTZ)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([_NS if unit == "ns" else _US] * 2, ts_type),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["click", "view"], pa.string()),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(path, "events.parquet"))


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_io_table_guards_ts_to_ltz(spark, tmp_path, unit):
    from big_data_flight_spark.io import table

    _write_events(str(tmp_path), unit)
    df = table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp", (
        f"{unit} fixture must surface as TIMESTAMP(LTZ) — watermarks require it"
    )
    got = df.selectExpr("unix_micros(ts) AS us").collect()
    assert {r.us for r in got} == {_US}, "ns fixtures must truncate to µs"


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_stream_guards_ts_to_ltz(spark, tmp_path, unit):
    from big_data_flight_spark.streaming.twins import events_stream, run_to_memory

    _write_events(str(tmp_path), unit)
    sdf = events_stream(spark, str(tmp_path))
    assert dict(sdf.dtypes)["ts"] == "timestamp"
    out = run_to_memory(
        sdf.groupBy("ts").count(), mode="complete"
    ).selectExpr("unix_micros(ts) AS us", "count").collect()
    assert [(r.us, r["count"]) for r in out] == [(_US, 2)]


def test_fixture_swap_is_read_afresh(spark, tmp_path):
    """A mid-process fixture regeneration (same path, different physical
    type) must be read with the NEW footer by both io.table and
    events_stream (ADVICE r3). A stale int64-ns schema applied to the
    µs file would misread its values, so the second reads must still
    give exactly _US."""
    from big_data_flight_spark.io import table
    from big_data_flight_spark.streaming.twins import events_stream, run_to_memory

    d = str(tmp_path)

    def batch_us():
        df = table(spark, d, "events")
        return {r.us for r in df.selectExpr("unix_micros(ts) AS us").collect()}

    def stream_us():
        out = run_to_memory(events_stream(spark, d).groupBy("ts").count())
        return {r.us for r in out.selectExpr("unix_micros(ts) AS us").collect()}

    _write_events(d, "ns")
    assert batch_us() == stream_us() == {_US}
    _write_events(d, "us")  # simulated driver regen, same path
    assert batch_us() == stream_us() == {_US}


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_event_ids_unique_in_fixture(sf):
    """stream_dedup's oracle (DISTINCT event_id,user_id,event_type)
    matches dropDuplicatesWithinWatermark(event_id) ONLY while
    event_id is unique in the fixture: a regenerated fixture planting
    duplicate event_ids with DIFFERING payloads would make streaming
    keep one arbitrary winner while the oracle keeps all distinct
    rows (ADVICE r4). This guard turns that silent gate mismatch into
    a named failure at round-boundary re-verification."""
    import duckdb

    path = f"/root/testdata/{sf}/events.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    n, d = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT event_id) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert n == d, (
        f"{sf}: {n - d} duplicate event_ids — stream_dedup's oracle "
        "contract no longer holds; see its docstring before re-gating"
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_bitmap_keys_nonnegative_in_fixture(sf):
    """agg_bitmap_distinct's word construction (pow(2, key % 32),
    key // 32) assumes non-negative keys: Spark's % returns negative
    remainders for negative operands while DuckDB's // floors, so a
    regenerated fixture planting a negative l_partkey would diverge
    engine-by-engine instead of failing loudly. Same guard class as
    the event_id-uniqueness check above."""
    import duckdb

    path = f"/root/testdata/{sf}/lineitem.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    (mn,) = duckdb.sql(
        f"SELECT MIN(l_partkey) FROM read_parquet('{path}')"
    ).fetchone()
    assert mn >= 0, (
        f"{sf}: negative l_partkey {mn} — agg_bitmap_distinct's "
        "mod/div contract no longer holds; see its docstring"
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_phash_doc_ids_nonnegative_in_fixture(sf):
    """mm_phash_dedup's synthetic-variant kernel takes doc_id % 50 /
    doc_id % 5 in Python (always non-negative) while its oracle takes
    the same mod in DuckDB (sign follows the dividend), so a
    regenerated fixture planting a negative doc_id would silently
    assign documents to different pattern groups per engine. Same
    guard class as the bitmap-key check above."""
    import duckdb

    path = f"/root/testdata/{sf}/documents.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    (mn,) = duckdb.sql(
        f"SELECT MIN(doc_id) FROM read_parquet('{path}')"
    ).fetchone()
    assert mn >= 0, (
        f"{sf}: negative doc_id {mn} — mm_phash_dedup's mod contract "
        "no longer holds; see _synth_ppm_variants's docstring"
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_minhash_mllib_l2_recalls_every_truth_pair(spark, monkeypatch, sf):
    """text_minhash_mllib runs numHashTables=2 because recall of the
    exact shingle-Jaccard truth set measured 1.0 at L=1, 2, 4 and 8 on
    these fixtures, while the gate itself only asserts >= 0.95. Run it
    with the bar raised to 1.0: a regenerated fixture on which the L=2
    candidate set misses any truth pair fails here, before the 0.95
    margin is spent."""
    import big_data_flight_spark.operators.sketches as sketches

    sf_dir = f"/root/testdata/{sf}"
    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip(f"{sf_dir} absent")
    monkeypatch.setattr(sketches, "_MLLIB_MIN_RECALL", 1.0)
    (row,) = sketches.text_minhash_mllib(spark, sf_dir).collect()
    assert row["n_true_pairs"] > 0 and row["recall_ok"], (sf, row)
