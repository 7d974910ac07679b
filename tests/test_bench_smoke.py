"""Smoke tests for the two measurement harnesses.

The driver records BENCH_r{N}.json by running `python bench.py`; if
the harness crashes (a renamed gate, a broken override, a JSON
regression) the round silently loses its perf artifact. This runs the
real main() over a 3-query headline slice at sf0.001 — covering the
prepared-plan path, the eager-builder (streaming) path, the per-query
shuffle override, and the prev-round delta machinery — and checks the
emitted JSON contract. The same holds for tools/gate_profile.py, which
writes BENCH_PANEL2.json and the PROFILE_*.json layer records.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_main_emits_contract_json(spark, monkeypatch, capsys):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("BENCH_RUNS", "1")
    slice_ = ["agg_groupby", "join_asof", "stream_source_sink"]
    monkeypatch.setattr(bench, "HEADLINE", slice_)

    pre_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    rc = bench.main()
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.startswith('{"metric"')]
    assert rc == 0 and len(lines) == 1, out

    data = json.loads(lines[0])
    assert data["unit"] == "sec"
    assert data["sf"] == 0.001
    assert set(data["queries"]) == set(slice_)
    # -1.0 is the harness's query-errored sentinel — none allowed
    assert all(v >= 0 for v in data["queries"].values()), data["queries"]
    assert data["value"] > 0
    # eager builders are timed builder-inclusive: build_sec must be 0
    assert data["build_sec"]["stream_source_sink"] == 0.0
    # prev-round deltas only cover queries present in both rounds
    if "delta_vs_prev" in data:
        assert set(data["delta_vs_prev"]) <= set(slice_)

    # r5 contract additions: the stall-retry pass must emit its noise
    # audit fields; at sf0.001 every min is far below its sf0.1
    # BEST_KNOWN threshold, so the suspected list must be empty.
    assert data["noise_suspected"] == []
    assert data["best_known_total"] > 0

    # the harness must restore the session's shuffle partitions to
    # whatever they were before the per-query overrides (join_asof
    # runs at 16); compare against the pre-bench value, not the env
    # default — an earlier test in the shared session may have
    # legitimately changed the conf
    assert spark.conf.get("spark.sql.shuffle.partitions") == pre_shuffle


def test_shuffle_override_lever_is_live(spark, monkeypatch):
    """Lever-reaches-plan loud guard (VERDICT r9 #5): _time_query must
    FAIL, not silently measure the base width, when the configure()
    wrapper stops re-applying the patched RUNTIME_CONF — the exact
    failure mode that left SHUFFLE_OVERRIDE dead (and unnoticed)
    from r2 through r8. Positive half: through the live mechanism the
    session conf INSIDE the window equals the override. Negative half:
    sever the RUNTIME_CONF linkage (configure() reading a different
    dict, as a refactor might) and the same call must raise."""
    import bench
    from big_data_flight_spark import session as sess

    sf = "/root/testdata/sf0.001"
    name = "join_asof"  # has a SHUFFLE_OVERRIDE entry (16)
    want = bench.SHUFFLE_OVERRIDE[name]

    # positive: the override reaches the session conf inside the window
    seen = {}
    orig_guard = bench._assert_lever_live

    def spy(sp, nm, width):
        seen[nm] = sp.conf.get("spark.sql.shuffle.partitions")
        orig_guard(sp, nm, width)

    monkeypatch.setattr(bench, "_assert_lever_live", spy)
    t, _ = bench._time_query(spark, name, sf, 1, "8")
    assert t >= 0 and seen[name] == want

    # negative: simulate a dead mechanism — configure() re-applies a
    # FROZEN copy of the conf (the base width), so the patch written
    # into bench's RUNTIME_CONF never reaches the session. The guard
    # must blow up rather than let the window be timed.
    monkeypatch.setattr(bench, "_assert_lever_live", orig_guard)
    frozen = dict(sess.RUNTIME_CONF)
    frozen["spark.sql.shuffle.partitions"] = "8"

    def dead_configure(sp):
        for k, v in frozen.items():
            try:
                sp.conf.set(k, v)
            except Exception:
                pass
        return sp

    # the gate wrapper binds `configure` in registry.py's namespace —
    # patch THAT reference (patching session.configure alone would not
    # reach the wrapper, which is itself part of the lesson)
    from big_data_flight_spark import registry as reg

    monkeypatch.setattr(reg, "configure", dead_configure)
    try:
        import pytest

        with pytest.raises(AssertionError, match="SHUFFLE_OVERRIDE dead"):
            bench._time_query(spark, name, sf, 1, "8")
    finally:
        sess.configure(spark)


def _profile(tmp_path, *gates):
    """Run tools/gate_profile.py at sf0.001 in a process of its own: it stops
    its session on exit, and the event-log confs it needs are static, so
    it cannot share this session."""
    out = tmp_path / "profile.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gate_profile.py"), *gates,
         "--sf", "0.001", "--out", str(out)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    data = json.loads(out.read_text()) if out.exists() else None
    return proc, data


def test_profile_emits_contract_json(tmp_path):
    """The profile tool writes BENCH_PANEL2.json and PROFILE_*.json; a
    renamed gate or harness crash would silently drop them. One lazy and
    one eager (streaming) gate: both timed builder-inclusive, both with a
    layer record, every Spark job attributed to a gate."""
    gates = ["mm_interleaved_pack", "stream_windowed_agg"]
    proc, data = _profile(tmp_path, *gates)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert data["unit"] == "sec" and data["sf"] == 0.001 and data["cores"] >= 1
    assert set(data["queries"]) == set(gates)
    assert all(v >= 0 for v in data["queries"].values()), data["queries"]
    assert data["value"] > 0 and "errors" not in data
    assert len(data["steal_pct"]) == 4 and data["protocol"]
    assert data["unattributed_jobs"] == 0
    for g in gates:
        assert data["layers"][g]["build.ms"] > 0 and "exec.ms" in data["layers"][g], data["layers"][g]


def test_profile_fails_loud_on_gate_error(tmp_path):
    """A gate that errors is recorded as -1.0 and left out of the total;
    the run must then exit nonzero and name the gate under 'errors', not
    exit green with a short total that reads as fast."""
    proc, data = _profile(tmp_path, "mm_interleaved_pack", "no_such_gate_xyz")
    assert proc.returncode != 0, proc.stderr[-3000:]
    assert data["errors"] == ["no_such_gate_xyz"]
    assert data["queries"]["no_such_gate_xyz"] == -1.0
    # the healthy gate still timed and still makes the total
    assert data["queries"]["mm_interleaved_pack"] > 0
    assert data["value"] == data["queries"]["mm_interleaved_pack"]


def test_profile_gate_sets_are_registered():
    """Every panel and headline name is a registered gate (catches
    renames), and the headline set read from bench.py's source is
    bench.HEADLINE."""
    import bench
    from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules
    from tools import gate_profile

    _load_all_operator_modules()
    assert len(gate_profile.PANEL) == 10
    assert gate_profile.headline() == bench.HEADLINE
    assert not (set(gate_profile.PANEL) | set(bench.HEADLINE)) - set(_REGISTRY)


def test_no_tool_shadows_a_stdlib_module():
    """`python tools/<x>.py` puts tools/ first on sys.path, so a tool named
    like a standard-library module (e.g. profile, which pyspark's cProfile
    import loads) breaks every sibling script run that way."""
    names = {f[:-3] for f in os.listdir(os.path.join(REPO, "tools")) if f.endswith(".py")}
    assert not names & sys.stdlib_module_names
