"""The benchmark's own checks. Run from the checkout root:

    python3 -m pytest perfbench/tests -q

Two traced runs of the headline gates in the driver-cold mode at sf0.001
(one JVM each, about a minute in all) back the wrapper, fresh-copy and
exact-repeat checks.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

from perfbench import fixtures, harness

WORK = os.path.join(harness.ROOT, ".perfbench_work")


def _traced_run(tag: str, seed: int = 7) -> harness.Bench:
    w = harness.Workload("cold-sf0.001", harness.HEADLINE, 0.001, "cold")
    run_dir = os.path.join(WORK, f"test-{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        env = harness.prepare_env(run_dir, trace=True)
        src = fixtures.source(w.sf)
        bench = harness.Bench(w, seed, 0, True, src, run_dir, env["eventlog"])
        try:
            bench.setup()
            bench.verify()
            bench.measure()
        finally:
            bench.close()
        return bench
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


@pytest.fixture(scope="module")
def traced_pair():
    return _traced_run("a"), _traced_run("b")


def test_fixtures_match_their_pinned_digests(tmp_path):
    for sf, digest in fixtures.DIGESTS.items():
        src = fixtures.source(sf)
        dst = str(tmp_path / f"sf{sf:g}")
        fixtures.copy(src, dst)
        assert fixtures.checksum(dst) == digest


def test_wrappers_replace_name_bound_imports():
    from big_data_flight_spark import io, registry, session
    from big_data_flight_spark.operators import tpch

    registry._load_all_operator_modules()
    orig_table, orig_configure = io.table, session.configure
    tracer = harness.Tracer(SimpleNamespace(sparkContext=None))
    wrapped = tracer.install()
    try:
        assert tpch.table is io.table is not orig_table
        assert tpch.table.__wrapped__ is orig_table
        assert registry.configure.__wrapped__ is orig_configure
        assert wrapped["io.table"] > 2
    finally:
        tracer.uninstall()
    assert tpch.table is orig_table and registry.configure is orig_configure


def test_gates_match_their_oracles(traced_pair):
    for bench in traced_pair:
        assert bench.failed == 0, bench.verify_status
        assert set(bench.verify_status.values()) == {"OK"}


def test_dead_wrapper_guard_tpch_q8(traced_pair):
    """tpch_q8 reads eight tables; each io.table call resolves the
    parquet schema with one Spark job. A wrapper that misses the
    operators' name-bound imports would report 0 here."""
    for bench in traced_pair:
        q8 = bench.layers["per_gate"]["tpch_q8"]
        assert q8["io.table.calls"] == 8
        assert q8["io.table.spark_jobs"] == 8


def test_each_cold_pass_reads_a_fresh_identical_copy(traced_pair):
    assert harness.WORKLOADS["driver-cold-sf0.01"].mode == "cold"
    for bench in traced_pair:
        assert len(bench.passes) >= 4
        paths = [c["path"] for c in bench.copies]
        assert len(set(paths)) == len(paths) == len(bench.passes) + 1  # + the verify copy
        assert {c["sha256"] for c in bench.copies} == {fixtures.DIGESTS[0.001]}


def test_counts_repeat_exactly(traced_pair):
    a, b = traced_pair
    assert not a.layers["count_mismatches"], a.layers["count_mismatches"]
    assert not b.layers["count_mismatches"], b.layers["count_mismatches"]
    differ = {
        g: (a.layers["per_gate_counts"][g], b.layers["per_gate_counts"].get(g))
        for g in a.layers["per_gate_counts"]
        if a.layers["per_gate_counts"][g] != b.layers["per_gate_counts"].get(g)
    }
    assert not differ, f"counts differ between two traced runs: {differ}"


def test_metric_names_match_benchmark_json(traced_pair):
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bench = traced_pair[0]
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert set(bench.layers["metrics"]) == set(harness.PER_LAYER)
    assert set(bench.end_to_end(1.0)) == set(harness.END_TO_END)
    named = {w["name"] for w in spec["workloads"]}
    assert named == {n for n, w in harness.WORKLOADS.items() if w.mode == "prepared"}
    assert set().union(*(harness.WORKLOADS[n].gates for n in named)) == set(harness.HEADLINE)


def test_refuses_to_run_without_the_package():
    bare = os.path.join(WORK, f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(harness.HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(harness.ROOT, "BENCHMARK.json"), bare)
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "driver-cold-sf0.01",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=120,
        )
        assert out.returncode != 0
        assert '"metrics"' not in out.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
