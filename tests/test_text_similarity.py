"""Text/dedup/similarity operator tests on inline frames."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


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
