"""Property-based checks (hypothesis) — SURVEY.md §5 layer 2.

Each property drives a real Spark plan on randomized tiny inputs and
asserts an invariant against an independently-computed expectation.
Example counts are kept small: every example runs Spark jobs."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

events_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),               # user_id
        st.integers(0, 3600),            # seconds offset
        st.sampled_from(["click", "view", "purchase"]),
    ),
    min_size=1,
    max_size=25,
)


def _frame(spark, rows):
    data = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, et, 1.0)
        for i, (u, s, et) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


@given(rows=events_strategy)
@settings(**SETTINGS)
def test_session_invariants(spark, rows):
    """No intra-session gap exceeds the timeout; session ids are
    contiguous from 1 per user; splitting at gaps>timeout is exact."""
    from big_data_flight_spark.operators.events import _SESSION_GAP_US, _with_session_id

    out = _with_session_id(_frame(spark, rows)).collect()
    by_user: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for rs in by_user.values():
        assert rs[0]["session_id"] == 1
        for a, b in zip(rs, rs[1:]):
            # integer µs from timedelta FIELDS — float total_seconds()
            # loses precision past ~2^53/1e6 s (banned pattern, CLAUDE.md)
            td = b["ts"] - a["ts"]
            gap_us = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
            if b["session_id"] == a["session_id"]:
                assert gap_us <= _SESSION_GAP_US
            else:
                assert b["session_id"] == a["session_id"] + 1
                assert gap_us > _SESSION_GAP_US


@given(rows=events_strategy)
@settings(**SETTINGS)
def test_union_all_count_additivity(spark, rows):
    df = _frame(spark, rows)
    n = df.count()
    assert df.unionByName(df).count() == 2 * n
    assert df.unionByName(df).distinct().count() == df.distinct().count()


@given(rows=events_strategy)
@settings(**SETTINGS)
def test_dedup_first_rule(spark, rows):
    """evt_dedup keeps exactly min(ts, event_id) per (user, type)."""
    from pyspark.sql import Window

    df = _frame(spark, rows)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    kept = (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).collect()
    )
    expected = {}
    for r in sorted(df.collect(), key=lambda r: (r["ts"], r["event_id"])):
        expected.setdefault((r["user_id"], r["event_type"]), r["event_id"])
    assert {(r["user_id"], r["event_type"]): r["event_id"] for r in kept} == expected


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_dsum_matches_python_exact(spark, vals):
    """The exact sum equals, to the bit, Spark's own
    ``SUM(CAST(x AS DECIMAL(38,6)))`` and its cast to double, and that
    sum agrees with Python's exact decimal arithmetic (HALF_UP
    quantization per value, like Spark's double→decimal cast),
    regardless of value order."""
    import struct
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from big_data_flight_spark.registry import dsum, dsum_dec

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    ref = F.sum(F.col("x").cast("decimal(38,6)"))
    (row,) = df.agg(
        dsum("x", "s"), dsum_dec("x", "sd"), ref.alias("ref"), ref.cast("double").alias("ref_d")
    ).collect()
    assert row["sd"] == row["ref"]
    assert struct.pack(">d", row["s"]) == struct.pack(">d", row["ref_d"])
    q = Decimal("0.000001")
    exact = sum(Decimal(float(v)).quantize(q, rounding=ROUND_HALF_UP) for v in vals)
    assert abs(row["s"] - float(exact)) < 1e-9


@given(
    token_counts=st.lists(st.integers(0, 3000), min_size=1, max_size=20),
)
@settings(**SETTINGS)
def test_pack_sequences_invariants(spark, token_counts):
    """Sequence packing: token totals are conserved, every bin except
    possibly the last one that a doc overflows starts below budget,
    and bin ids are dense from 0 in doc order."""
    import big_data_flight_spark.operators.text as text_mod

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n) if n else "", "en", "s", n) for i, n in enumerate(token_counts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = text_mod.table
    text_mod.table = lambda s, d, n: docs
    try:
        rows = sorted(
            text_mod.text_pack_sequences(spark, "x").collect(),
            key=lambda r: r["seq_id"],
        )
    finally:
        text_mod.table = orig
    # "" splits to one empty token -> size 1; mirror that expectation.
    expected_total = sum(max(n, 1) for n in token_counts)
    assert sum(r["total_tokens"] for r in rows) == expected_total
    assert sum(r["n_docs"] for r in rows) == len(token_counts)
    # Bin ids are exactly the distinct exclusive-cumsum // 2048 values.
    cum, bins = 0, set()
    for n in token_counts:
        bins.add(cum // 2048)
        cum += max(n, 1)
    assert {r["seq_id"] for r in rows} == bins


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=20,
    ),
)
@settings(**SETTINGS)
def test_agg_mode_matches_python(spark, rows):
    """agg_mode == python mode with (max count, min name) tie-break."""
    import collections

    import big_data_flight_spark.operators.aggregates as agg_mod

    e = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), u, et, 1.0)
            for i, (u, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    orig = agg_mod.table
    agg_mod.table = lambda s, d, n: e
    try:
        got = {
            r["user_id"]: (r["modal_type"], r["n"])
            for r in agg_mod.agg_mode(spark, "x").collect()
        }
    finally:
        agg_mod.table = orig
    per_user = collections.defaultdict(collections.Counter)
    for u, et in rows:
        per_user[u][et] += 1
    want = {
        u: min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        for u, cnt in per_user.items()
    }
    assert got == {u: (t, n) for u, (t, n) in want.items()}


def test_partition_count_invariance(spark):
    """Distributed-correctness property: representative gates spanning
    aggregation, sessionization, dedup, sketching, and packing must
    produce IDENTICAL results whether the shuffle fans out to 5 or 32
    partitions — any divergence means order- or partitioning-dependent
    logic leaked into an operator (the bug class that only shows up on
    a real cluster)."""
    from big_data_flight_spark.registry import get_query

    gates = [
        "agg_histogram",
        "evt_sessionize_stats",
        "text_exact_dedup",
        "agg_count_min",
        "text_pack_sequences",
        "etl_cdc_latest_snapshot",
        # session-3 additions: blocked-join dedup, integer Hamming
        # retrieval, and the graph profile must be partitioning-blind
        # too (their joins/aggs all carry explicit total-order ranks
        # or integer outputs, so any divergence is a real bug).
        "text_near_dedup_editdist",
        "sim_hamming_topk",
        "graph_degree_hist",
    ]
    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for g in gates:
                df = get_query(g).builder(spark, sf)
                rows = frozenset(tuple(r) for r in df.collect())
                results.setdefault(g, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for g, (a, b) in results.items():
        assert a == b, f"{g} diverged across shuffle partition counts"


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=40,
    )
)
def test_pagerank_matches_python_reference(spark, raw_edges):
    """The integer PageRank kernel must agree EXACTLY with a
    pure-Python reference on arbitrary small graphs — the fixture gate
    can't catch a wrong-but-self-consistent implementation because its
    oracle is generated from the same constants, so this pins the
    semantics independently (floor(score/deg) messages,
    floor(contrib * 85 / 100.0) + 150_000 update, undirected edges)."""
    import math

    from big_data_flight_spark.operators.graph import _SCALE, pagerank_scores

    pairs = sorted({(u, v) for u, v in raw_edges if u != v})
    if not pairs:
        return
    edges = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]

    # pure-Python reference (dict-based, same integer arithmetic)
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    score = {n: _SCALE for n in deg}
    for _ in range(3):
        contrib: dict[int, int] = {n: 0 for n in deg}
        for s, d in edges:
            contrib[d] += math.floor(score[s] / deg[s])
        score = {
            n: _SCALE * 15 // 100 + math.floor(contrib[n] * 85 / 100.0) for n in deg
        }

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.score for r in pagerank_scores(df).collect()}
    assert got == score


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=1,
        max_size=30,
    )
)
def test_triangle_stats_matches_python_reference(spark, raw_edges):
    """The oriented-wedge triangle kernel must agree EXACTLY with a
    brute-force pure-Python count on arbitrary small graphs — the
    fixture gate's oracle shares the orientation construction, so this
    pins the semantics independently (every unordered node triple with
    all three edges present counts once, regardless of degree ties)."""
    from itertools import combinations

    from big_data_flight_spark.operators.graph import triangle_stats

    pairs = sorted({(min(u, v), max(u, v)) for u, v in raw_edges if u != v})
    if not pairs:
        return
    eset = set(pairs)
    nodes = sorted({n for e in pairs for n in e})
    expect_tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in eset and (a, c) in eset and (b, c) in eset
    )
    deg: dict[int, int] = {}
    for u, v in pairs:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    expect_paths2 = sum(d * (d - 1) // 2 for d in deg.values())

    df = spark.createDataFrame(pairs, "u long, v long")
    (row,) = triangle_stats(df).collect()
    assert row["n_triangles"] == expect_tri
    assert row["n_paths2"] == expect_paths2
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(pairs)
    # oriented wedges are a subset of unoriented length-2 paths
    assert row["n_triangles"] <= row["n_wedges"] <= expect_paths2


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(100, 109)),
        min_size=1,
        max_size=30,
    )
)
def test_hits_matches_python_reference(spark, raw_pairs):
    """The integer HITS kernel must agree EXACTLY with a pure-Python
    reference on arbitrary small bipartite graphs — mutual recursion
    (hub-sum -> max-normalize -> authority-sum -> max-normalize) in
    (raw * 1e6) // max BIGINT arithmetic."""
    from big_data_flight_spark.operators.graph import _SCALE, hits_scores

    pairs = sorted({(c, s) for c, s in raw_pairs})
    h = {c: _SCALE for c, _ in pairs}
    a = {}
    for _ in range(2):
        raw_a: dict[int, int] = {}
        for c, s in pairs:
            raw_a[s] = raw_a.get(s, 0) + h[c]
        mx = max(raw_a.values())
        a = {s: r * _SCALE // mx for s, r in raw_a.items()}
        raw_h: dict[int, int] = {}
        for c, s in pairs:
            raw_h[c] = raw_h.get(c, 0) + a[s]
        mx = max(raw_h.values())
        h = {c: r * _SCALE // mx for c, r in raw_h.items()}

    df = spark.createDataFrame(pairs, "c long, s long")
    got_a, got_h = hits_scores(df, 2)
    assert {r.node: r.score for r in got_a.collect()} == a
    assert {r.node: r.score for r in got_h.collect()} == h


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(100, 106)),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 4),
)
def test_kcore_matches_python_reference(spark, raw_pairs, k):
    """The k-core peeling kernel must agree EXACTLY with a pure-Python
    reference on arbitrary small bipartite graphs: per-round removed
    sets, the round cap, and the fixpoint core."""
    from big_data_flight_spark.operators.graph import kcore_profile

    pairs = sorted({(c, s) for c, s in raw_pairs})
    adj: dict[int, set[int]] = {}
    for c, s in pairs:
        adj.setdefault(c, set()).add(s)
        adj.setdefault(s, set()).add(c)
    max_rounds = 8
    expected = {}
    rounds = 0
    for t in range(1, max_rounds + 1):
        drop = sorted(n for n, v in adj.items() if len(v) < k)
        if not drop:
            break
        rounds = t
        expected[("removed", t)] = (len(drop), sum(drop))
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    expected[("core", rounds)] = (len(adj), sum(adj))

    df = spark.createDataFrame(pairs, "c long, s long")
    got = {
        (r.phase, r.round): (r.n_nodes, r.id_sum)
        for r in kcore_profile(df, k, max_rounds).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# r8: SimHash banding losslessness (the pigeonhole claim, randomized)
# ---------------------------------------------------------------------------

docs_strategy = st.lists(
    st.lists(
        st.sampled_from(
            "spark data window join merge sort batch stream key row "
            "table scan filter agg part line value slow fast small".split()
        ),
        min_size=3,
        max_size=12,
    ),
    min_size=2,
    max_size=10,
)


@given(word_lists=docs_strategy)
@settings(**SETTINGS)
def test_simhash_banding_is_lossless(spark, word_lists):
    """The structural claim text_simhash_dedup and the split-leakage
    composition both rest on: the 4x8-bit band equi-join finds EXACTLY
    the hamming<=3 signature pairs a brute-force quadratic comparison
    finds (pigeonhole: 3 flipped bits dirty at most 3 of 4 bands).
    Randomized tiny corpora; the brute force recomputes pairs from the
    SAME signatures in pure Python."""
    from big_data_flight_spark.operators.sketches import (
        HAMMING_MAX,
        simhash_pairs,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(word_lists)],
        ["doc_id", "text"],
    )
    sigs = {
        r["doc_id"]: r["sig"]
        for r in simhash_signatures(docs).collect()
    }
    expected = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= HAMMING_MAX:
                expected.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(docs).collect()
    }
    assert got == expected


@given(word_lists=docs_strategy)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_bpe_roundtrip_lossless_on_random_corpora(spark, word_lists):
    """BPE encode→decode losslessness must hold for ANY corpus, not
    just the fixture (the gate proves it there): train the merge table
    on a random tiny corpus, decode every word by separator deletion,
    and require the reassembled documents to equal the originals."""
    from big_data_flight_spark.operators.text import _bpe_train_words

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(word_lists)],
        ["doc_id", "text"],
    )
    vocab = {
        r["word"]: r["word_s"]
        for r in _bpe_train_words(docs)[0].collect()
    }
    for i, ws in enumerate(word_lists):
        rebuilt = " ".join(vocab[w].replace(" ", "") for w in ws)
        assert rebuilt == " ".join(ws), (i, rebuilt)
