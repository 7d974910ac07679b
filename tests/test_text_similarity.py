"""Text/dedup/similarity operator tests on inline frames."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_shingles_count_and_content(spark):
    from big_data_flight_spark.operators.text import shingles

    d = _docs(spark, ["a b c d e"])
    out = sorted(r["shingle"] for r in shingles(d, 3).collect())
    assert out == ["a b c", "b c d", "c d e"]


def test_jaccard_detects_planted_near_dup(spark):
    import big_data_flight_spark.operators.text as text_mod

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")          # 1-word edit -> high jaccard
    far = "completely different words entirely unrelated content here now"
    d = _docs(spark, [base, near, far])
    orig = text_mod.table
    text_mod.table = lambda s, dd, n: d
    try:
        pairs = text_mod.text_near_dedup_jaccard(spark, "ignored").collect()
    finally:
        text_mod.table = orig
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(0, 1)]
    assert pairs[0]["jaccard"] > 0.5


# ---------------------------------------------------------------------------
# Exact shingle-Jaccard family: the kernel, the pair gates, the capped
# and adaptive caps, the sliced twins and the incremental gates.
# ---------------------------------------------------------------------------


def test_shingle_jaccard_matches_set_arithmetic(spark):
    """The kernel's forms against Python set arithmetic on inline
    (id, shingle) relations: the self-join (each unordered pair once,
    doc_a < doc_b), a stop set (counts drop, sizes stay uncapped),
    candidate pairs, and two relations with and without a probe. j is
    the IEEE quotient of the two integers."""
    from big_data_flight_spark.operators.text import shingle_jaccard

    sets = {0: {"a", "b", "c", "d"}, 1: {"a", "b", "c", "e"}, 2: {"c", "x"}, 3: {"y"}}
    sh = spark.createDataFrame(
        [(d, s) for d, ss in sets.items() for s in sorted(ss)], "doc_id long, shingle string"
    )

    def want(pairs, stop=frozenset()):
        out = {}
        for a, b in pairs:
            n = len((sets[a] & sets[b]) - stop)
            if n:
                na, nb = len(sets[a]), len(sets[b])
                out[(a, b)] = (n, na, nb, n / (na + nb - n))
        return out

    def got(df, ida="doc_a", idb="doc_b"):
        return {(r[ida], r[idb]): (r["n_common"], r["n_a"], r["n_b"], r["j"]) for r in df.collect()}

    every = [(a, b) for a in sets for b in sets if a < b]
    assert got(shingle_jaccard(sh)) == want(every)
    stop = spark.createDataFrame([("c",)], "shingle string")
    assert got(shingle_jaccard(sh, stop=stop)) == want(every, frozenset({"c"}))
    cands = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    assert got(shingle_jaccard(sh, candidates=cands)) == want([(0, 1), (1, 2)])
    b = sh.filter("doc_id < 2").withColumnRenamed("doc_id", "b_id")
    c = sh.filter("doc_id >= 2").withColumnRenamed("doc_id", "c_id")
    cross = want([(x, y) for x in (0, 1) for y in (2, 3)])
    assert got(shingle_jaccard(b, c), "b_id", "c_id") == cross
    probed = shingle_jaccard(b, c, probe=b.filter("b_id = 0"))
    assert got(probed, "b_id", "c_id") == {k: v for k, v in cross.items() if k[0] == 0}


# The gates whose shingle overlaps are counted by text.shingle_jaccard.
JACCARD_GATES = [
    "text_near_dedup_jaccard", "text_near_dedup_jaccard_capped",
    "text_near_dedup_jaccard_adaptive", "text_near_dedup_jaccard_sliced",
    "text_dedup_clusters", "text_dedup_clusters_lss", "text_dedup_clusters_sliced",
    "text_dedup_clusters_lss_sliced", "text_minhash_mllib", "text_minhash_lsh",
    "text_dedup_incremental", "stream_incremental_dedup",
]


def test_jaccard_gates_reach_the_kernel(spark, monkeypatch):
    """Hook shingle_jaccard in every module that reads it and build each
    near-dup gate: every one counts its overlaps through the kernel."""
    import big_data_flight_spark.operators.sketches as sketches
    import big_data_flight_spark.operators.text as text
    import big_data_flight_spark.streaming.twins as twins
    from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules

    _load_all_operator_modules()
    calls = []
    real = text.shingle_jaccard
    for mod in (text, sketches, twins):
        monkeypatch.setattr(mod, "shingle_jaccard", lambda *a, **k: calls.append(1) or real(*a, **k))
    for name in JACCARD_GATES:
        calls.clear()
        _REGISTRY[name].builder(spark, SF_SMOKE)
        assert calls, f"{name} does not reach shingle_jaccard"


def test_near_dup_oracles_share_one_shingle_fragment():
    """Every near-dup oracle (and the two sketch oracles) builds its
    shingles from text.SQL_SHINGLES, the one place the DuckDB shingle
    list is spelled."""
    import glob

    from big_data_flight_spark.operators.text import SQL_SHINGLES
    from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules
    from tests.conftest import REPO

    _load_all_operator_modules()
    for name in JACCARD_GATES + ["text_simhash_dedup", "text_split_leakage_simhash"]:
        assert SQL_SHINGLES in _REGISTRY[name].oracle, name
    spelled = 0
    for path in glob.glob(f"{REPO}/big_data_flight_spark/**/*.py", recursive=True):
        with open(path) as fh:
            spelled += fh.read().count("w[i] || ' ' || w[i+1]")
    assert spelled == 1


@pytest.fixture(scope="module")
def adaptive_rows(spark):
    """text_near_dedup_jaccard_adaptive's rows at sf0.001, computed once
    per module: each run is a full shingle-explode + df-groupBy +
    pair-join."""
    from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules

    _load_all_operator_modules()
    rows = _REGISTRY["text_near_dedup_jaccard_adaptive"].builder(
        spark, SF_SMOKE
    ).collect()
    assert rows, "gate must be non-vacuous at sf0.001 (probed 28 rows)"
    return rows


@pytest.fixture(scope="module")
def python_shingle_dfs(spark):
    """Independent df multiset: 3-word distinct shingles per doc via
    plain Python string ops (no reuse of the gate's shingles())."""
    from collections import Counter

    from big_data_flight_spark.io import table

    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    df_counter = Counter()
    for r in docs:
        w = r["text"].lower().split(" ")
        sh = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        df_counter.update(sh)
    return df_counter


def _type1_quantile(sorted_vals, q):
    """min x with rank(x) >= ceil(q*n) over the sorted multiset."""
    import math

    n = len(sorted_vals)
    return sorted_vals[math.ceil(q * n) - 1]


def test_adaptive_cap_quantiles_match_independent_python(
    adaptive_rows, python_shingle_dfs
):
    """(median_df, p90_df, chosen_cap) must equal type-1 quantiles of
    the shingle-df distribution recomputed from scratch in Python,
    with cap = _ADAPTIVE_TARGET_DUP x median."""
    from big_data_flight_spark.operators.text import _ADAPTIVE_TARGET_DUP

    dfs = sorted(python_shingle_dfs.values())
    med = _type1_quantile(dfs, 0.5)
    p90 = _type1_quantile(dfs, 0.9)
    caps = {(r["chosen_cap"], r["median_df"], r["p90_df"]) for r in adaptive_rows}
    assert caps == {(med * _ADAPTIVE_TARGET_DUP, med, p90)}, (
        f"gate {caps} vs python (cap={med * _ADAPTIVE_TARGET_DUP}, "
        f"median={med}, p90={p90})"
    )


def test_adaptive_cap_bite_accounting(adaptive_rows, python_shingle_dfs):
    """dropped_shingles must equal the exact count of distinct
    shingles with df > chosen_cap — and at sf0.001 the cap genuinely
    BITES (>=1 dropped), so the drop path is exercised, not dormant."""
    cap = adaptive_rows[0]["chosen_cap"]
    expected_dropped = sum(1 for df in python_shingle_dfs.values() if df > cap)
    assert expected_dropped >= 1, "fixture regression: cap no longer bites"
    assert {r["dropped_shingles"] for r in adaptive_rows} == {expected_dropped}


def test_adaptive_pairs_are_capped_lower_bounds_of_uncapped(spark, adaptive_rows):
    """Every adaptive pair must appear in the uncapped gate's pair set
    with jaccard >= the capped value (denominators keep true set
    sizes, so dropping stop-shingles can only shrink the numerator),
    and any uncapped pair MISSING from the adaptive output must have
    fallen below threshold for that reason — i.e. the capped set is a
    subset, never an invention."""
    from big_data_flight_spark.registry import _REGISTRY

    adaptive = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in adaptive_rows}
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _REGISTRY["text_near_dedup_jaccard"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    assert set(adaptive) <= set(uncapped)
    for pair, j in adaptive.items():
        assert uncapped[pair] >= j - 1e-9, (pair, j, uncapped[pair])


def test_sliced_jaccard_is_a_sub_view_of_full(spark):
    """Every sliced pair appears in the full gate's pair set with the
    IDENTICAL jaccard value, and both members of every sliced pair are
    slice docs — the slice restricts, never invents or re-scores."""
    from big_data_flight_spark.operators.text import (
        _sliced_docs,
        text_near_dedup_jaccard,
        text_near_dedup_jaccard_sliced,
    )

    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in text_near_dedup_jaccard(spark, SF_SMOKE).collect()
    }
    sliced = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in text_near_dedup_jaccard_sliced(spark, SF_SMOKE).collect()
    }
    assert sliced  # non-vacuous by the _SLICE_MOD=8 measurement
    slice_ids = {
        r["doc_id"] for r in _sliced_docs(spark, SF_SMOKE).select("doc_id").collect()
    }
    for (a, b), j in sliced.items():
        assert full.get((a, b)) == j, (a, b)
        assert a in slice_ids and b in slice_ids
    # and completeness: every full pair with BOTH ends in the slice
    # must survive into the sliced gate
    expected = {p for p in full if p[0] in slice_ids and p[1] in slice_ids}
    assert set(sliced) == expected


def test_sliced_cluster_twins_agree_and_match_full_restriction(spark):
    """The two sliced cluster gates (propagation vs LSS) must produce
    the identical labeling — they share one oracle — and each slice
    doc's in_cluster flag must reflect the sliced pair graph."""
    from big_data_flight_spark.operators.text import (
        text_dedup_clusters_lss_sliced,
        text_dedup_clusters_sliced,
        text_near_dedup_jaccard_sliced,
    )

    prop = sorted(
        tuple(r) for r in text_dedup_clusters_sliced(spark, SF_SMOKE).collect()
    )
    lss = sorted(
        tuple(r) for r in text_dedup_clusters_lss_sliced(spark, SF_SMOKE).collect()
    )
    assert prop == lss and len(prop) > 0
    touched = set()
    for r in text_near_dedup_jaccard_sliced(spark, SF_SMOKE).collect():
        touched.add(r["doc_a"])
        touched.add(r["doc_b"])
    got_in_cluster = {doc for doc, _cid, in_c in prop if in_c}
    assert got_in_cluster == touched


def test_incremental_dedup_consistency(spark):
    """One row per batch doc; is_new <=> no best_match; matched docs
    carry a Jaccard >= threshold in micro-units; the best match is
    always a CORPUS doc (never another batch arrival); and the match
    path is exercised (measured: 9 matched batch docs at sf0.001)."""
    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.text import (
        _INCR_BATCH_MOD,
        JACCARD_T,
        text_dedup_incremental,
    )

    rows = text_dedup_incremental(spark, SF_SMOKE).collect()
    n_batch = (
        table(spark, SF_SMOKE, "documents")
        .filter(f"doc_id % {_INCR_BATCH_MOD} = {_INCR_BATCH_MOD - 1}")
        .count()
    )
    assert len(rows) == n_batch
    n_matched = 0
    for r in rows:
        if r["is_new"]:
            assert r["best_match"] is None and r["n_matches"] == 0
        else:
            n_matched += 1
            assert r["n_matches"] > 0
            assert r["best_match"] % _INCR_BATCH_MOD != _INCR_BATCH_MOD - 1
            assert r["best_jaccard_micro"] >= int(JACCARD_T * 1_000_000)
    assert 0 < n_matched < n_batch  # both verdicts exercised


def test_incremental_dedup_planted_duplicates(spark, tmp_path):
    """Fixture-independent semantics check: plant KNOWN duplicates
    across the batch/corpus boundary in a synthetic documents table
    and assert the gate finds exactly them. Construction: corpus doc
    4k+0 and batch doc 5j+4 share a long text (jaccard 1.0 on shingle
    sets) for three planted pairs; one batch doc is unique prose; one
    batch doc half-overlaps a corpus doc below the 0.5 threshold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_flight_spark.operators.text import text_dedup_incremental

    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon",
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen",
        "red orange yellow green blue indigo violet crimson scarlet "
        "amber gold silver bronze copper iron steel titanium zinc",
    ]
    rows = []  # (doc_id, text); batch = doc_id % 5 == 4
    # planted exact near-dups: corpus holds base[i] at doc_id 10*i,
    # batch holds the SAME text at doc_id 5*(2*i+1)+4
    expected = {}
    for i, t in enumerate(base):
        c_id = 10 * i  # 10*i % 5 == 0, so always corpus-side (ADVICE r8)
        assert c_id % 5 != 4
        b_id = 5 * (2 * i + 1) + 4
        rows.append((c_id, t))
        rows.append((b_id, t))
        expected[b_id] = c_id
    # a unique batch arrival
    rows.append((99, "totally novel content about nothing shared with anyone "
                     "in particular whatsoever uniquely phrased sentence here"))
    # a below-threshold batch arrival (shares a prefix of base[0] only)
    rows.append((54, "alpha beta gamma delta epsilon completely different "
                     "ending with many many extra unshared trailing words "
                     "padding padding padding padding padding padding"))
    # corpus filler so sizes exist
    rows.append((1, "filler corpus document with plain words and no overlap "
                    "to any planted arrival beyond stopword level tokens"))
    tbl = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
        "source": pa.array(["synthetic"] * len(rows), pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tbl, f"{tmp_path}/documents.parquet")

    got = {
        r["doc_id"]: r
        for r in text_dedup_incremental(spark, str(tmp_path)).collect()
    }
    batch_ids = {r[0] for r in rows if r[0] % 5 == 4}
    assert set(got) == batch_ids
    for b_id, c_id in expected.items():
        r = got[b_id]
        assert not r["is_new"] and r["best_match"] == c_id, r
        assert r["best_jaccard_micro"] == 1_000_000, r  # identical text
    assert got[99]["is_new"] and got[99]["n_matches"] == 0
    assert got[54]["is_new"], got[54]  # overlap stays below 0.5


def test_stream_incremental_dedup_equals_batch(spark):
    """The streaming ingest path must produce row-for-row the batch
    gate's verdicts (counting is arrival-order-insensitive; everything
    downstream is a deterministic projection of static content)."""
    from big_data_flight_spark.operators.text import text_dedup_incremental
    from big_data_flight_spark.streaming.twins import stream_incremental_dedup

    batch = sorted(
        tuple(r) for r in text_dedup_incremental(spark, SF_SMOKE).collect()
    )
    streamed = sorted(
        tuple(r) for r in stream_incremental_dedup(spark, SF_SMOKE).collect()
    )
    assert streamed == batch and len(batch) > 0


def test_stream_incremental_dedup_shares_the_batch_oracle():
    """The registry entry must carry text_dedup_incremental's oracle
    VERBATIM (same string object semantics: one definition, two
    consumers) so the driver hash-checks the streaming path strongly."""
    from big_data_flight_spark.operators.text import _INCR_ORACLE
    from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules

    _load_all_operator_modules()
    assert _REGISTRY["stream_incremental_dedup"].oracle == _INCR_ORACLE
    assert _REGISTRY["text_dedup_incremental"].oracle == _INCR_ORACLE


def test_exact_dedup_normalizes(spark):
    import big_data_flight_spark.operators.text as text_mod

    d = _docs(spark, ["Hello World", "  hello world ", "other text"])
    orig = text_mod.table
    text_mod.table = lambda s, dd, n: d
    try:
        out = text_mod.text_exact_dedup(spark, "ignored").collect()
    finally:
        text_mod.table = orig
    by_copies = sorted(r["n_copies"] for r in out)
    assert by_copies == [1, 2]  # the two hello-worlds collapse


def _kernel_cos(spark, pairs):
    """Score (a, b) float32 vector pairs through the cosine kernel."""
    from big_data_flight_spark.operators.similarity import _cos, _vectors

    df = spark.createDataFrame(
        [(i, [float(x) for x in a], [float(x) for x in b]) for i, (a, b) in enumerate(pairs)],
        "id int, a array<float>, b array<float>",
    )
    sides = _vectors(_vectors(df, "a", "id", "b", emb="a"), "b", "id", "a_v", "a_n", emb="b")
    return [r["cos"] for r in sides.select("id", _cos("a", "b").alias("cos")).orderBy("id").collect()]


def _numpy_left_fold_cos(a, b):
    a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
    dot, na, nb = np.float64(0.0), np.float64(0.0), np.float64(0.0)
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return float(dot / (np.sqrt(na) * np.sqrt(nb)))


def test_cosine_identical_vectors(spark):
    v = np.array([1.0, 2.0, 3.0], np.float32)
    (cos,) = _kernel_cos(spark, [(v, v)])
    assert cos == pytest.approx(1.0, abs=1e-12)
    assert cos.hex() == _numpy_left_fold_cos(v, v).hex()


def test_cosine_kernel_is_a_float64_left_fold(spark):
    """The kernel widens float32 to double once per vector and folds in
    element order: bit for bit the numpy float64 left fold, which is
    also what the DuckDB oracles' list_sum computes."""
    rng = np.random.default_rng(7)
    pairs = [
        (rng.standard_normal(64).astype(np.float32), rng.standard_normal(64).astype(np.float32))
        for _ in range(40)
    ]
    got = _kernel_cos(spark, pairs)
    want = [_numpy_left_fold_cos(a, b) for a, b in pairs]
    assert [g.hex() for g in got] == [w.hex() for w in want]


# The ten gates whose cosine goes through the kernel; multimodal_join
# reads only the per-vector norm.
COSINE_GATES = [
    "sim_cosine_pairs", "sim_topk_neighbors", "sim_ann_lsh", "text_near_dedup_cosine",
    "sim_knn_classify", "sim_hard_negative_mining", "sim_ann_recall_curve",
    "sim_rrf_fusion", "sim_ann_ivf", "multimodal_join",
]


def test_cosine_gates_reach_the_kernel(spark, monkeypatch):
    """Hook both kernel halves and build each cosine gate: every gate
    projects its vectors through _vectors, and every pair gate scores
    through _cos."""
    import big_data_flight_spark.operators.similarity as sim
    from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules
    from tests.conftest import SF_SMOKE

    _load_all_operator_modules()
    seen: set[str] = set()
    for part in ("_vectors", "_cos"):
        real = getattr(sim, part)
        monkeypatch.setattr(
            sim, part, lambda *a, _real=real, _part=part, **k: seen.add(_part) or _real(*a, **k)
        )
    for name in COSINE_GATES:
        seen.clear()
        _REGISTRY[name].builder(spark, SF_SMOKE)
        want = {"_vectors"} if name == "multimodal_join" else {"_vectors", "_cos"}
        assert seen == want, (name, seen)


def test_centroid_of_known_vectors(spark):
    from big_data_flight_spark.operators.similarity import _ordered_mean

    df = spark.createDataFrame([(1, 1.0), (1, 2.0), (1, 6.0)], "label int, val double")
    (row,) = df.groupBy("label").agg(_ordered_mean(F.col("val")).alias("m")).collect()
    assert row["m"] == pytest.approx(3.0, abs=1e-12)


def test_lsh_self_audit_reasonable(spark):
    from big_data_flight_spark.operators.similarity import sim_ann_lsh
    from tests.conftest import SF_SMOKE

    (row,) = sim_ann_lsh(spark, SF_SMOKE).collect()
    assert row["n_true_pairs"] > 0
    assert row["recall_ok"] is True
    assert row["candidates_bounded"] is True


def test_winnowing_shared_substring_shares_fingerprint(spark):
    """Winnowing's guarantee: any match of length >= k + w - 1 chars
    (8 + 4 - 1 = 11 here) between two documents yields at least one
    common fingerprint. Disjoint documents share none."""
    import big_data_flight_spark.operators.text as text_mod
    from pyspark.sql import functions as F

    shared = "the quick brown fox jumps over it"
    docs = spark.createDataFrame(
        [
            (0, "aaaa bbbb " + shared + " cccc", "en", "s", 10 + len(shared) + 5),
            (1, "zzzz " + shared + " qqqq rrrr", "en", "s", 5 + len(shared) + 10),
            (2, "totally different words here nothing alike", "en", "s", 42),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # Recompute n_chars faithfully (winnowing derives positions from it).
    docs = docs.withColumn("n_chars", F.length("text"))

    orig = text_mod.table
    text_mod.table = lambda s, d, n: docs

    # Per-doc fingerprint SETS (the gate returns counts; rebuild sets
    # through the same pipeline up to the distinct-min step).
    try:
        n_pos = F.col("n_chars") - 8 + 1
        pos = docs.select(
            "doc_id", "text", n_pos.alias("n_pos"),
            F.explode(F.sequence(F.lit(1), n_pos)).alias("i"),
        )
        hashed = pos.select(
            "doc_id", "n_pos", "i",
            F.conv(F.substring(F.md5(F.expr("substring(text, i, 8)")), 1, 8), 16, 10)
            .cast("long").alias("h"),
        )
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
        fps = (
            hashed.withColumn("m", F.min("h").over(w))
            .filter(F.col("i") <= F.col("n_pos") - 4 + 1)
            .select("doc_id", "m").distinct().collect()
        )
    finally:
        text_mod.table = orig
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["m"])
    assert by_doc[0] & by_doc[1], "shared substring must share a fingerprint"
    assert not (by_doc[0] & by_doc[2]), "disjoint docs should not collide"


def test_minhash_banding_recall_curve(spark):
    """Property-test the banded MinHash recall claim: for planted
    pairs at known Jaccard j, the 4x4 banding admits a pair with
    P = 1-(1-j^4)^4. Vocabularies are disjoint across pairs and the
    md5 hash family is deterministic, so the empirical rates are
    run-stable (measured dev <= 0.04 from the curve at every level)."""
    from big_data_flight_spark.operators.sketches import minhash_band_candidates

    # x shared shingles + 2*(10+x/0) distinct: j = x / (20 + x)
    levels = {9: 0.310, 20: 0.5, 47: 0.701, 113: 0.8496}
    n_pairs = 80
    rows, pair_level, pid = [], {}, 0
    for x in levels:
        shared_len = x + 2  # m shared words -> m-2 fully-shared shingles
        for _ in range(n_pairs):
            shared = [f"p{pid}s{i}" for i in range(shared_len)]
            rows.append((2 * pid, " ".join([f"p{pid}a{i}" for i in range(10)] + shared)))
            rows.append((2 * pid + 1, " ".join([f"p{pid}b{i}" for i in range(10)] + shared)))
            pair_level[pid] = x
            pid += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = {(r["doc_a"], r["doc_b"]) for r in minhash_band_candidates(docs).collect()}

    hits = {x: 0 for x in levels}
    for p, x in pair_level.items():
        if (2 * p, 2 * p + 1) in cands:
            hits[x] += 1
    planted_hits = sum(hits.values())
    assert len(cands) == planted_hits, "disjoint-vocab pairs must never collide"
    for x, j in levels.items():
        pred = 1 - (1 - j**4) ** 4
        emp = hits[x] / n_pairs
        assert abs(emp - pred) <= 0.1, f"j={j}: pred={pred:.3f} emp={emp:.3f}"


def test_lss_components_planted_topologies(spark):
    """Large-star/small-star must agree with brute-force reachability
    min-labels on adversarial shapes: a long chain (worst case for
    propagation), a star, a triangle, and isolated pairs."""
    from big_data_flight_spark.operators.text import connected_components_lss

    edges = [
        # chain 10-11-12-13-14 (component min 10)
        (10, 11), (11, 12), (12, 13), (13, 14),
        # star rooted high: 20 is hub, min is 20
        (25, 20), (26, 20), (27, 20),
        # triangle 1-2-3
        (1, 2), (2, 3), (1, 3),
        # isolated pair
        (40, 41),
    ]
    e = spark.createDataFrame(edges, "u long, v long")
    stars = connected_components_lss(e)
    label = {r["u"]: r["v"] for r in stars.collect()}
    expected = {
        11: 10, 12: 10, 13: 10, 14: 10,
        25: 20, 26: 20, 27: 20,
        2: 1, 3: 1,
        41: 40,
    }
    # every non-root points DIRECTLY at its component minimum; roots
    # and singletons are absent
    assert label == expected


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_lss_components_random_graphs(spark, seed):
    """VERDICT r2 task 8: beyond planted topologies, large-star/small-
    star must match ground-truth connectivity on random graphs. 50-node
    Erdős–Rényi G(n, p) per seed, p near the connectivity threshold so
    the graph has a non-trivial mix of mid-sized components, chains and
    singletons; ground truth is a driver-side union-find (exact)."""
    import random

    from big_data_flight_spark.operators.text import connected_components_lss

    rng = random.Random(seed)
    n, p = 50, 0.04
    edges = [
        (u, v)
        for u in range(n)
        for v in range(u + 1, n)
        if rng.random() < p
    ]
    if not edges:  # pathological seed: nothing to test
        return

    # ground truth: union-find
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    expected = {x: find(x) for x in range(n) if find(x) != x}

    e = spark.createDataFrame(edges, "u long, v long")
    got = {r["u"]: r["v"] for r in connected_components_lss(e).collect()}
    assert got == expected


def test_chunk_documents_boundary_semantics(spark):
    """Window/stride arithmetic on planted doc lengths: 1 token, exactly
    one stride (48), exactly one window (64), window+1 (65), and a long
    doc — n_chunks must be floor((n-1)/48)+1, the last chunk short."""
    import big_data_flight_spark.operators.text as text_mod

    texts = {
        0: "w0",                                  # 1 token  -> 1 chunk
        1: " ".join(f"t{i}" for i in range(48)),  # 48       -> 1 chunk
        2: " ".join(f"t{i}" for i in range(64)),  # 64       -> 2 chunks
        3: " ".join(f"t{i}" for i in range(65)),  # 65       -> 2 chunks
        4: " ".join(f"t{i}" for i in range(200)), # 200      -> 5 chunks
    }
    d = _docs(spark, [texts[k] for k in sorted(texts)])
    orig = text_mod.table
    text_mod.table = lambda s, dd, n: d
    try:
        rows = text_mod.text_chunk_documents(spark, "ignored").collect()
    finally:
        text_mod.table = orig
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, chunks in by_doc.items():
        n = len(texts[doc_id].split())
        expect = (n - 1) // 48 + 1
        assert len(chunks) == expect, (doc_id, n)
        for c in sorted(chunks, key=lambda r: r["chunk_idx"]):
            assert c["start_tok"] == c["chunk_idx"] * 48
            assert c["n_chunk_tokens"] == min(64, n - c["start_tok"])
            assert len(c["chunk_text"].split()) == c["n_chunk_tokens"]
    # overlap: chunk k's last 16 tokens == chunk k+1's first 16 (full windows)
    c200 = sorted(by_doc[4], key=lambda r: r["chunk_idx"])
    w0, w1 = c200[0]["chunk_text"].split(), c200[1]["chunk_text"].split()
    assert w0[48:] == w1[:16]


def test_shuffle_shard_is_permutation_and_stable(spark):
    """Every doc appears exactly once, positions are dense 1..n per
    shard, and re-running yields the identical assignment (no RNG)."""
    import big_data_flight_spark.operators.text as text_mod

    d = _docs(spark, [f"doc number {i} body" for i in range(40)])
    orig = text_mod.table
    text_mod.table = lambda s, dd, n: d
    try:
        a = text_mod.text_shuffle_shard(spark, "ignored").collect()
        b = text_mod.text_shuffle_shard(spark, "ignored").collect()
    finally:
        text_mod.table = orig
    assert sorted(r["doc_id"] for r in a) == list(range(40))
    shards = {}
    for r in a:
        shards.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in shards.items():
        assert 0 <= shard < 8
        assert sorted(poss) == list(range(1, len(poss) + 1))
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_substring_dedup_interval_union(spark):
    """Overlapping duplicated 8-gram spans must union, not sum: two
    docs sharing a 10-token run have 3 duplicated gram starts
    (s=0,1,2) covering exactly 10 tokens — a naive 3*8=24 would
    double-count the overlaps. A third unrelated doc contributes
    nothing."""
    from big_data_flight_spark.operators import text as T
    from big_data_flight_spark.registry import _REGISTRY

    shared = "a b c d e f g h i j"          # 10 shared tokens
    rows = [
        (1, shared + " x1 y1 z1"),
        (2, shared + " x2 y2 z2"),
        (3, "p q r s t u v w aa bb cc dd"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    orig = T.table
    try:
        T.table = lambda s, d, n: docs
        out = {
            r["doc_id"]: r
            for r in _REGISTRY["text_substring_dedup_stats"]
            .builder(spark, "ignored")
            .collect()
        }
    finally:
        T.table = orig
    # docs 1/2: 13 tokens -> 6 gram starts; duplicated grams are those
    # fully inside the shared 10-token prefix: s=0,1,2 -> union covers
    # tokens 0..9 = 10 tokens.
    for d in (1, 2):
        assert out[d]["n_grams"] == 6
        assert out[d]["n_dup_grams"] == 3
        assert out[d]["n_covered_tokens"] == 10
    assert out[3]["n_dup_grams"] == 0 and out[3]["n_covered_tokens"] == 0


def test_substring_clean_consistent_with_stats(spark):
    """The removal gate and the stats gate must agree doc-by-doc:
    tokens kept = tokens - covered (both derive coverage from the same
    duplicated-gram starts, via different mechanisms — window interval
    union vs per-position filter)."""
    from big_data_flight_spark.registry import (
        _REGISTRY,
        _load_all_operator_modules,
    )
    from tests.conftest import SF_SMOKE

    _load_all_operator_modules()
    stats = {
        r["doc_id"]: (r["n_tokens"], r["n_covered_tokens"])
        for r in _REGISTRY["text_substring_dedup_stats"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    clean = {
        r["doc_id"]: r["n_kept"]
        for r in _REGISTRY["text_substring_dedup_clean"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    assert set(stats) == set(clean)
    for d, (n_tok, n_cov) in stats.items():
        assert clean[d] == n_tok - n_cov, f"doc {d}"


def test_substring_clean_survives_empty_doc(spark):
    """r5 review regression: an empty/whitespace-only document must
    clean to (0, '') — the unguarded sequence(0, -1) form crashed with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT (Spark sequences DESCEND when
    stop < start, the documented shingles() hazard)."""
    from big_data_flight_spark.operators import text as T
    from big_data_flight_spark.registry import (
        _REGISTRY,
        _load_all_operator_modules,
    )

    _load_all_operator_modules()
    rows = [(1, ""), (2, "   "), (3, "just a few words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    orig = T.table
    try:
        T.table = lambda s, d, n: docs
        out = {
            r["doc_id"]: (r["n_kept"], r["cleaned_text"])
            for r in _REGISTRY["text_substring_dedup_clean"]
            .builder(spark, "ignored")
            .collect()
        }
    finally:
        T.table = orig
    assert out[1] == (0, "")
    assert out[2] == (0, "")
    assert out[3] == (5, "just a few words here")


def test_bpe_merge_train_hand_computed(spark):
    """Corpus {aaab ×3, ab ×2}: merges, counts, and per-round state
    hand-computed; round 4 exhausts the pair space so its row must
    vanish IDENTICALLY to the oracle's empty best4 CTE."""
    import big_data_flight_spark.operators.text as text_mod

    d = spark.createDataFrame(
        [(0, "aaab aaab aaab ab ab")], "doc_id long, text string"
    )
    orig = text_mod.table
    text_mod.table = lambda s, dd, n: d
    try:
        rows = sorted(
            text_mod.text_bpe_merge_train(spark, "ignored").collect(),
            key=lambda r: r.round,
        )
    finally:
        text_mod.table = orig
    got = [
        (r.round, r.sym_a, r.sym_b, r.pair_count,
         r.corpus_symbols_after, r.distinct_symbols_after)
        for r in rows
    ]
    assert got == [
        (1, "a", "a", 6, 13, 3),   # aaab -> aa a b (single-pass run)
        (2, "a", "b", 5, 8, 2),    # aaab -> aa ab, ab -> ab
        (3, "aa", "ab", 3, 5, 2),  # aaab -> aaab
    ]


def test_bpe_tiebreak_is_lexicographic(spark):
    """(x,y) and (z,w) tie on count: the lexicographically smaller
    pair must win round 1 in both engines."""
    import big_data_flight_spark.operators.text as text_mod

    d = spark.createDataFrame([(0, "xy xy zw zw")], "doc_id long, text string")
    orig = text_mod.table
    text_mod.table = lambda s, dd, n: d
    try:
        r1 = min(
            text_mod.text_bpe_merge_train(spark, "ignored").collect(),
            key=lambda r: r.round,
        )
    finally:
        text_mod.table = orig
    assert (r1.sym_a, r1.sym_b, r1.pair_count) == ("x", "y", 2)
