"""Edge-case tests the fixtures don't exercise: short/empty inputs,
empty groups, degenerate joins."""

from __future__ import annotations

import ast
import contextlib
import os
import re

import pytest

import big_data_flight_spark.operators.text as text_mod
from big_data_flight_spark.operators.text import shingles


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_shingles_short_docs_empty_not_crash(spark):
    """Docs with fewer than k words must yield zero shingles (the
    sequence(0, negative) descending-range trap)."""
    d = _docs(spark, ["one two", "single", "a b c"])
    out = shingles(d, 3).collect()
    assert [(r["doc_id"], r["shingle"]) for r in out] == [(2, "a b c")]


def test_near_dedup_on_all_short_docs_is_empty(spark):
    d = _docs(spark, ["x", "y z"])
    orig = text_mod.table
    text_mod.table = lambda s, dd, n: d
    try:
        assert text_mod.text_near_dedup_jaccard(spark, "ignored").count() == 0
    finally:
        text_mod.table = orig


def test_simhash_short_docs(spark):
    """SimHash over docs with no shingles: no signature rows, no pairs."""
    import big_data_flight_spark.operators.sketches as sk

    d = _docs(spark, ["tiny", "also tiny"])
    sigs = sk.simhash_signatures(d)
    assert sigs.count() == 0


def test_session_single_event_user(spark):
    import datetime as dt

    from big_data_flight_spark.operators.events import _with_session_id

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 5, "click", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    (row,) = _with_session_id(df).collect()
    assert row["session_id"] == 1


def test_empty_filter_result_aggregates(spark):
    """Global aggregate over an empty filter result: one row of
    NULLs/zeros, not an error."""
    from big_data_flight_spark.io import table
    from big_data_flight_spark.registry import dsum

    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    o = table(spark, SF_SMOKE, "orders").filter(F.col("o_totalprice") < -1)
    (row,) = o.agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "s")
    ).collect()
    assert row["n"] == 0 and row["s"] is None


def test_unknown_table_raises(spark):
    import pytest

    from big_data_flight_spark.io import table
    from tests.conftest import SF_SMOKE

    with pytest.raises(KeyError):
        table(spark, SF_SMOKE, "nonexistent")


def test_frequency_cap_keeps_planted_near_dups(spark):
    """Aggressive stop-shingle cap must not lose true near-dup pairs
    on the fixture corpus (their shared shingles are rare)."""
    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.text import near_dup_pairs
    from tests.conftest import SF_SMOKE

    docs = table(spark, SF_SMOKE, "documents")
    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in near_dup_pairs(shingles(docs, 3), 0.5).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in near_dup_pairs(shingles(docs, 3), 0.5, max_doc_freq=10).collect()
    }
    assert uncapped  # fixtures plant near-dups
    assert uncapped == capped


def test_capped_gate_identical_to_uncapped_on_fixture(spark):
    """The text_near_dedup_jaccard_capped GATE (cap=64 > every
    fixture's max shingle df, measured 25 at sf0.1) must return the
    exact same pair rows as the uncapped gate, plus a zero
    dropped_shingles audit column — the VERDICT r4 #3 contract: the
    capped plan executes for real, the cap provably doesn't bite here."""
    from big_data_flight_spark.registry import _REGISTRY
    from tests.conftest import SF_SMOKE

    cap_rows = _REGISTRY["text_near_dedup_jaccard_capped"].builder(
        spark, SF_SMOKE
    ).collect()
    unc = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in _REGISTRY["text_near_dedup_jaccard"].builder(
            spark, SF_SMOKE
        ).collect()
    }
    assert {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in cap_rows} == unc
    assert all(r["dropped_shingles"] == 0 for r in cap_rows)


def test_frequency_cap_drops_hot_shingles_and_audits(spark):
    """When the cap DOES bite (synthetic hot shingle in > cap docs),
    the audit column reports exactly the dropped-shingle count and the
    capped Jaccard is a lower bound of the true one (denominators keep
    uncapped set sizes)."""
    from big_data_flight_spark.operators.text import near_dup_pairs

    # 30 docs all sharing the hot shingle "aa bb cc" (df=30 > cap=8);
    # docs 0/1 are true near-dups sharing rare shingles too.
    rare = "xx yy zz ww vv"
    rows = [(0, f"aa bb cc {rare}"), (1, f"aa bb cc {rare} qq")]
    rows += [(i, f"aa bb cc u{i} v{i} w{i}") for i in range(2, 30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = near_dup_pairs(
        shingles(docs, 3), threshold=0.3, max_doc_freq=8, audit_dropped=True
    ).collect()
    assert out, "rare-shingle near-dup pair must survive the cap"
    pair = next(r for r in out if (r["doc_a"], r["doc_b"]) == (0, 1))
    # hot shingles dropped: "aa bb cc" plus boundary shingles shared by
    # all 30 docs? only "aa bb cc" has df=30; "bb cc xx" etc. are rare.
    assert pair["dropped_shingles"] == 1
    # doc0 has 6 shingles, doc1 has 7; shared uncapped = 6 ("aa bb cc",
    # "bb cc xx", + 4 rare chain) -> true jac = 6/7; capped common = 5
    # -> lower bound 5/8.
    assert pair["jaccard"] <= 6 / 7


@contextlib.contextmanager
def _sql_conf(spark, key, value):
    """Set one SQL conf for the duration of a block, then restore it."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _last_job_id(sc) -> int:
    group = sc.getLocalProperty("spark.jobGroup.id")
    return max(sc.statusTracker().getJobIdsForGroup(group), default=-1)


def test_fan_out_noop_on_wide_input(spark):
    """fan_out must widen a one-row-group scan but leave an input Spark
    sizes at >= need maxPartitionBytes units untouched (the 100 TB
    no-op contract, decided from plan statistics alone)."""
    from big_data_flight_spark.io import fan_out, scan_bytes, table
    from tests.conftest import SF_SMOKE

    cores = spark.sparkContext.defaultParallelism
    narrow = table(spark, SF_SMOKE, "lineitem")
    widened = fan_out(narrow, "l_orderkey")
    assert widened.rdd.getNumPartitions() == cores

    need = max(2, cores // 2)
    with _sql_conf(spark, "spark.sql.files.maxPartitionBytes", str(scan_bytes(narrow) // need)):
        assert len(narrow.inputFiles()) < need  # only the size branch can fire
        assert fan_out(narrow, "l_orderkey") is narrow  # no extra exchange added


def test_fan_out_widens_one_row_group_cut_into_many_splits(spark):
    """A one-row-group file cut into many splits still scans in ONE
    task: every split but the one holding the row group reads nothing.
    fan_out must count data-bearing units, not splits, widen with a
    hash exchange on the caller's key (no round-robin sort), and decide
    without launching a Spark job. Inputs: the flagship's lineitem,
    the documents corpus the text gates widen, and sim_ann_lsh's
    filtered embeddings slice (a nested-loop join's streamed side)."""
    from pyspark.sql import functions as F

    from big_data_flight_spark.io import fan_out, table
    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    sf_dir = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    inputs = [
        (lambda: table(spark, sf_dir, "lineitem"), "l_orderkey"),
        (lambda: table(spark, sf_dir, "documents"), "doc_id"),
        (lambda: table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500), "vec_id"),
    ]
    for frame, key in inputs:
        with _sql_conf(spark, "spark.sql.files.openCostInBytes", "1024"):
            df = frame()
            assert len(df.inputFiles()) == 1
            assert df.rdd.getNumPartitions() == cores, key  # the split count looks wide
            before = _last_job_id(sc)
            widened = fan_out(df, key)
            assert _last_job_id(sc) == before, key
            assert widened is not df, key
            plan = widened._jdf.queryExecution().executedPlan().toString()
        assert re.search(rf"hashpartitioning\({key}#\d+L?, {cores}\)", plan), plan
        assert "RoundRobinPartitioning" not in plan, plan


def test_no_literal_repartition_in_operators():
    """io.fan_out is the one read-side widening rule: no operator or
    streaming module may hard-code a width with ``.repartition(<int>``.
    Write-side layout calls under sources/ shape files on disk and are
    out of scope."""
    from tests.conftest import REPO

    pkg = os.path.join(REPO, "big_data_flight_spark")
    hits = []
    for sub in ("operators", "streaming"):
        for root, _, files in os.walk(os.path.join(pkg, sub)):
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(root, name)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                for node in ast.walk(tree):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "repartition"
                        and node.args
                        and isinstance(node.args[0], ast.Constant)
                        and type(node.args[0].value) is int
                    ):
                        hits.append(f"{os.path.relpath(path, pkg)}:{node.lineno}")
    assert not hits, f"literal repartition widths (use io.fan_out): {hits}"


def test_no_inline_decimal_sum_outside_registry():
    """registry.exact_sum_sql is the one exact-sum kernel: no module may
    sum ``.cast("decimal(38,6)")`` in a ``F.sum(`` of its own. The two
    window sums in windows.py (win_running, win_moving) stay: the kernel
    is an aggregate expression, and a window form would be a second
    kernel."""
    from tests.conftest import REPO

    def is_decimal_cast(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "cast"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and str(node.args[0].value).replace(" ", "").lower() == "decimal(38,6)"
        )

    pkg = os.path.join(REPO, "big_data_flight_spark")
    window_sums = {"win_running", "win_moving"}
    hits = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            if not name.endswith(".py") or rel == "registry.py":
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            skip = set()
            if rel == os.path.join("operators", "windows.py"):
                for fn in tree.body:
                    if isinstance(fn, ast.FunctionDef) and fn.name in window_sums:
                        skip |= {id(n) for n in ast.walk(fn)}
            for node in ast.walk(tree):
                if (
                    id(node) not in skip
                    and isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "sum"
                    and any(is_decimal_cast(a) for arg in node.args for a in ast.walk(arg))
                ):
                    hits.append(f"{rel}:{node.lineno}")
    assert not hits, f"inline decimal sums (use registry.dsum): {hits}"


def test_cosine_arithmetic_only_in_the_kernel():
    """similarity.py has one exact-cosine kernel: ``_widen`` is the one
    float->double widening of a vector (``F.transform(v, lambda x:
    x.cast("double"))``) and ``_cos`` the one element-wise product of
    two vectors (``F.zip_with(a, b, lambda x, y: x * y)``, cast or not).
    Neither may appear anywhere else in the module. The L2 gates'
    ``(x - y) * (x - y)`` is another metric and does not match."""
    from tests.conftest import REPO

    def is_cast_of(node, name):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "cast"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "double"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == name
        )

    def is_param(node, name):
        return (isinstance(node, ast.Name) and node.id == name) or is_cast_of(node, name)

    def is_kernel_copy(node):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("transform", "zip_with")
            and node.args
            and isinstance(node.args[-1], ast.Lambda)
        ):
            return False
        lam = node.args[-1]
        ps = [a.arg for a in lam.args.args]
        if node.func.attr == "transform":
            return len(ps) == 1 and is_cast_of(lam.body, ps[0])
        body = lam.body
        return (
            len(ps) == 2
            and isinstance(body, ast.BinOp)
            and isinstance(body.op, ast.Mult)
            and {p for p in ps if is_param(body.left, p) or is_param(body.right, p)} == set(ps)
        )

    path = os.path.join(REPO, "big_data_flight_spark", "operators", "similarity.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    kernel = set()
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef) and fn.name in ("_widen", "_cos"):
            kernel |= {id(n) for n in ast.walk(fn)}
    hits = [n.lineno for n in ast.walk(tree) if id(n) not in kernel and is_kernel_copy(n)]
    assert not hits, f"cosine arithmetic outside the kernel (use _vectors/_cos): lines {hits}"


def test_jaccard_ratio_only_in_the_kernel():
    """The exact shingle-Jaccard ratio n_common / (n_a + n_b - n_common)
    (a division whose denominator subtracts its numerator) is spelled
    once under operators/ and streaming/: inside text.shingle_jaccard.
    Every gate filters, ranks and displays the kernel's ``j``."""
    from tests.conftest import REPO

    def is_ratio(node):
        if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div)):
            return False
        num = ast.dump(node.left)
        return any(
            isinstance(n, ast.BinOp) and isinstance(n.op, ast.Sub) and ast.dump(n.right) == num
            for n in ast.walk(node.right)
        )

    pkg = os.path.join(REPO, "big_data_flight_spark")
    hits = []
    for sub in ("operators", "streaming"):
        for fname in sorted(os.listdir(os.path.join(pkg, sub))):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(pkg, sub, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            kernel = set()
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef) and fn.name == "shingle_jaccard":
                    kernel |= {id(n) for n in ast.walk(fn)}
            hits += [
                f"{sub}/{fname}:{n.lineno}"
                for n in ast.walk(tree)
                if id(n) not in kernel and is_ratio(n)
            ]
    assert not hits, f"Jaccard ratio outside text.shingle_jaccard: {hits}"


def test_fan_out_noop_on_multifile_scan(spark, tmp_path):
    """The cluster-scan case, not just a repartitioned frame: a real
    multi-file parquet source already arrives in >= cores/2 splits, so
    fan_out must return the SAME DataFrame — no round-robin exchange
    sneaks into 100 TB plans (VERDICT r3 #8: extend the guard-logic
    unit test to an actual multi-file read)."""
    from big_data_flight_spark.io import fan_out, table
    from tests.conftest import SF_SMOKE

    n_files = spark.sparkContext.defaultParallelism
    (
        table(spark, SF_SMOKE, "lineitem")
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "li_multi"))
    )
    multi = spark.read.parquet(str(tmp_path / "li_multi"))
    assert multi.rdd.getNumPartitions() >= max(2, n_files // 2)
    assert fan_out(multi, "l_orderkey") is multi


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_table_takes_schema_from_footer_without_a_job(spark, sf):
    """io.table reads each table's schema from its parquet footer on
    the driver: no schema-inference job, and exactly the schema Spark's
    own inference job gives (events through the same ts guard)."""
    from big_data_flight_spark.io import TABLES, table, ts_guard
    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    sf_dir = os.path.join(os.path.dirname(SF_SMOKE), sf)
    for name in TABLES:
        before = _last_job_id(sc)
        df = table(spark, sf_dir, name)
        assert _last_job_id(sc) == before, name
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            inferred = ts_guard(inferred)
        assert df.schema == inferred.schema, name


def test_table_on_hive_partitioned_directory(spark, tmp_path):
    """The 100 TB layout: a partitioned ``lineitem.parquet/`` directory
    reads, without a job, the schema Spark infers (the partition column
    last) and the same rows."""
    from big_data_flight_spark.io import table
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "lineitem.parquet")
    table(spark, SF_SMOKE, "lineitem").write.partitionBy("l_returnflag").parquet(path)
    sc = spark.sparkContext
    before = _last_job_id(sc)
    got = table(spark, str(tmp_path), "lineitem")
    assert _last_job_id(sc) == before
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert got.columns[-1] == "l_returnflag"
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_scratch_sweep_guards(tmp_path, monkeypatch):
    """_sweep_stale_scratch: a LIVE pid always protects its dir; dead
    pids are swept only after the idle-age gate (review finding r3)."""
    import os
    import time as _time

    from big_data_flight_spark.sources import connectors

    monkeypatch.setattr(connectors, "_TMP_ROOT", str(tmp_path))
    dead_pid = 4194000  # beyond default pid_max ranges — never alive
    assert not os.path.exists(f"/proc/{dead_pid}")

    live_old = tmp_path / "s1"          # pid 1 is always alive
    dead_old = tmp_path / f"s{dead_pid}"
    dead_new = tmp_path / f"s{dead_pid - 1}"
    for d in (live_old, dead_old, dead_new):
        d.mkdir()
    old = _time.time() - 7200
    os.utime(live_old, (old, old))
    os.utime(dead_old, (old, old))

    connectors._sweep_stale_scratch()
    assert live_old.exists()      # alive → protected at any age
    assert not dead_old.exists()  # dead + idle > gate → swept
    assert dead_new.exists()      # dead but recent → grace period


def test_flagship_layout_invariant(spark, tmp_path):
    """Same answer regardless of physical layout: the flagship run on
    the single-file fixture and on a 16-file re-write of the same rows
    must produce identical values — the property that lets the engine
    move from the fixture to a partitioned 100 TB directory without a
    semantic change (io.table takes any path Spark can scan)."""
    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.aggregates import flagship
    from tests.conftest import SF_SMOKE

    table(spark, SF_SMOKE, "lineitem").repartition(16).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )

    assert len(table(spark, str(tmp_path), "lineitem").inputFiles()) == 16
    single = flagship(spark, SF_SMOKE).collect()
    multi = flagship(spark, str(tmp_path)).collect()

    key = lambda r: (r["l_returnflag"], r["l_linestatus"])  # noqa: E731
    assert sorted(map(tuple, sorted(single, key=key))) == sorted(
        map(tuple, sorted(multi, key=key))
    )


def test_observe_metrics_ride_the_main_query(spark):
    """df.observe (CollectMetrics): pipeline observability metrics
    must come for free on the main query's single pass and agree with
    a separately computed aggregate — the pattern that lets a 100 TB
    job validate row counts / null rates without a second scan."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from big_data_flight_spark.io import table
    from tests.conftest import SF_SMOKE

    ev = table(spark, SF_SMOKE, "events")
    obs = Observation("dq")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("event_id")).alias("sum_id"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null_value"),
    )
    main = observed.groupBy("event_type").count().collect()
    ref = ev.agg(
        F.count(F.lit(1)), F.sum("event_id"),
        F.count(F.when(F.col("value").isNull(), 1)),
    ).collect()[0]
    assert obs.get["n_rows"] == ref[0] == sum(r["count"] for r in main)
    assert obs.get["sum_id"] == ref[1]
    assert obs.get["n_null_value"] == ref[2]
