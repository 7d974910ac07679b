"""Round-6 operator semantics on SYNTHETIC fixtures — the pagerank
convention: the sf-fixture oracle proves cross-engine agreement, these
tests pin the semantics against independently-coded references that
share no code with the gates.

Both gates under test compose the shared integer Lloyd machinery, so
the reference here re-implements the WHOLE stack (quantize -> Lloyd ->
cell assign -> PQ encode -> probe -> ADC rank) in plain Python from
the written parquet values."""

from __future__ import annotations

import math
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import write_parquet


def _write_embeddings(tmp_path, vecs: dict[int, list[float]]) -> str:
    tbl = pa.table(
        {
            "vec_id": pa.array(list(vecs), type=pa.int64()),
            "embedding": pa.array(list(vecs.values()), type=pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), type=pa.int32()),
        }
    )
    pq.write_table(tbl, f"{tmp_path}/embeddings.parquet")
    return str(tmp_path)


def _vectors_64d(n: int, seed: int, dup_of: dict[int, int] | None = None):
    """n pseudo-random float32 64-dim vectors; ids in ``dup_of`` are
    near-copies (tiny jitter) of their source vector."""
    rng = random.Random(seed)
    vecs: dict[int, list[float]] = {}
    for i in range(n):
        vecs[i] = [rng.uniform(-1.0, 1.0) for _ in range(64)]
    for d, src in (dup_of or {}).items():
        vecs[d] = [x + rng.uniform(-0.005, 0.005) for x in vecs[src]]
    return {i: [float(np.float32(x)) for x in v] for i, v in vecs.items()}


def _quant(vecs):
    return {i: [math.floor(x * 1e6 + 0.5) for x in v] for i, v in vecs.items()}


def _d2(a, b):
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _lloyd_ref(q, k, rounds):
    """Independent Lloyd: ties to the smaller cluster, floor(sum/n)
    centroid update, empty clusters carry their centroid."""
    cent = {c: list(q[c]) for c in range(k)}
    for _ in range(rounds):
        assign = {i: min((_d2(v, cent[c]), c) for c in range(k))[1] for i, v in q.items()}
        for c in range(k):
            members = [q[i] for i in q if assign[i] == c]
            if members:
                cent[c] = [math.floor(sum(col) / len(members)) for col in zip(*members)]
    return cent


def _cells_ref(q, cent, k):
    return {i: min((_d2(v, cent[c]), c) for c in range(k))[1] for i, v in q.items()}


class TestIvfPq:
    def test_matches_independent_stack(self, spark, tmp_path):
        from big_data_flight_spark.operators.similarity import (
            _IVFPQ_CELLS,
            _IVFPQ_NPROBE,
            _IVFPQ_NQ,
            _IVFPQ_ROUNDS,
            PQ_K,
            PQ_M,
            PQ_SUB,
            sim_ivf_pq,
        )

        vecs = _vectors_64d(30, seed=17)
        sf = _write_embeddings(tmp_path, vecs)
        q = _quant(vecs)
        cent = _lloyd_ref(q, _IVFPQ_CELLS, _IVFPQ_ROUNDS)
        cells = _cells_ref(q, cent, _IVFPQ_CELLS)
        # PQ codebook from vec_id < PQ_K, per subspace
        cb = {
            (m, code): q[code][m * PQ_SUB : (m + 1) * PQ_SUB]
            for m in range(PQ_M)
            for code in range(PQ_K)
        }
        recon, codes = {}, {}
        for i, v in q.items():
            rv, cs = [], []
            for m in range(PQ_M):
                sub = v[m * PQ_SUB : (m + 1) * PQ_SUB]
                best = min((_d2(sub, cb[(m, c)]), c) for c in range(PQ_K))
                rv.extend(cb[(m, best[1])])
                cs.append(str(best[1]))
            recon[i] = rv
            codes[i] = "-".join(cs)
        expected = {}
        for qi in range(_IVFPQ_NQ):
            probed = sorted((_d2(q[qi], cent[c]), c) for c in range(_IVFPQ_CELLS))
            probed = {c for _, c in probed[:_IVFPQ_NPROBE]}
            cand = sorted(
                (_d2(q[qi], recon[j]), j)
                for j in q
                if j != qi and cells[j] in probed
            )
            for rn, (adc, j) in enumerate(cand[:5], start=1):
                expected[(qi, j)] = (cells[j], codes[j], adc, rn)
        rows = sim_ivf_pq(spark, sf).collect()
        got = {
            (r.query_id, r.neighbor_id): (r.cell, r.codes, r.adc, r.rn) for r in rows
        }
        assert got == expected

    def test_neighbors_only_from_probed_cells(self, spark, tmp_path):
        from big_data_flight_spark.operators.similarity import (
            _IVFPQ_CELLS,
            _IVFPQ_NPROBE,
            _IVFPQ_ROUNDS,
            sim_ivf_pq,
        )

        vecs = _vectors_64d(40, seed=23)
        sf = _write_embeddings(tmp_path, vecs)
        q = _quant(vecs)
        cent = _lloyd_ref(q, _IVFPQ_CELLS, _IVFPQ_ROUNDS)
        cells = _cells_ref(q, cent, _IVFPQ_CELLS)
        for r in sim_ivf_pq(spark, sf).collect():
            probed = sorted(
                (_d2(q[r.query_id], cent[c]), c) for c in range(_IVFPQ_CELLS)
            )
            assert r.cell in {c for _, c in probed[:_IVFPQ_NPROBE]}
            assert r.cell == cells[r.neighbor_id]


class TestSemDedup:
    def test_planted_duplicates(self, spark, tmp_path):
        from big_data_flight_spark.operators.similarity import (
            _IVFPQ_CELLS,
            _IVFPQ_ROUNDS,
            _SD_THRESH,
            sim_semdedup_clustered,
        )

        # 9 and 23 are near-copies of 3 and 11; random 64-dim vectors
        # are otherwise ~4e13 apart in micro L2^2, far above _SD_THRESH.
        vecs = _vectors_64d(30, seed=31, dup_of={9: 3, 23: 11})
        sf = _write_embeddings(tmp_path, vecs)
        q = _quant(vecs)
        cent = _lloyd_ref(q, _IVFPQ_CELLS, _IVFPQ_ROUNDS)
        cells = _cells_ref(q, cent, _IVFPQ_CELLS)
        dups = {
            j
            for j in q
            for i in q
            if i < j and cells[i] == cells[j] and _d2(q[i], q[j]) <= _SD_THRESH
        }
        # The planted copies share their source's cell (they are close
        # to it in every dimension) and must be flagged as duplicates.
        assert cells[9] == cells[3] and cells[23] == cells[11]
        assert dups == {9, 23}
        rows = {r.cluster: r for r in sim_semdedup_clustered(spark, sf).collect()}
        for c in range(_IVFPQ_CELLS):
            members = [i for i in q if cells[i] == c]
            if not members:
                assert c not in rows
                continue
            r = rows[c]
            cdups = [i for i in members if i in dups]
            assert r.n_docs == len(members)
            assert r.n_dups == len(cdups)
            assert r.n_kept == len(members) - len(cdups)
            assert r.kept_id_sum == sum(members) - sum(cdups)
            pair_min = min(
                (_d2(q[i], q[j]) for i in members for j in members if i < j),
                default=None,
            )
            assert r.min_pair_d2 == pair_min


class TestFnUrl:
    def test_hand_urls(self, spark, tmp_path):
        import pandas as pd

        from big_data_flight_spark.functions.scalar import fn_url

        docs = pd.DataFrame(
            {
                # 0: port(:8080 via %7), slash(%2), utm+id(%3=0), frag(%5)
                # 7: port, no slash, ?id only (%3=1), no frag
                # 8: no port, slash, no query (%3=2), no frag
                # 15: no port, no slash, utm+id (%3=0), frag (%5=0)
                "doc_id": [0, 7, 8, 15],
                "text": ["a", "b", "c", "d"],
                "lang": ["en", "de", "en", "fr"],
                "source": ["src1", "src2", "src3", "src4"],
                "n_chars": [1, 1, 1, 1],
            }
        )
        sf = write_parquet(tmp_path, "documents", docs)
        got = {r.doc_id: r for r in fn_url(spark, sf).collect()}

        # host/path labels are md5-derived (URI-charset safety — see
        # _URL_RAW); recompute them here independently.
        import hashlib

        def h(src):
            return hashlib.md5(src.encode()).hexdigest()[:8]

        def p(lang):
            return hashlib.md5(lang.encode()).hexdigest()[:4]

        r0 = got[0]
        assert r0.host == f"{h('src1')}.Example.com"
        assert r0.authority == f"{h('src1')}.Example.com:8080"
        assert r0.path == f"/{p('en')}/doc/0/"
        assert (r0.id_param, r0.has_port, r0.has_fragment) == (0, True, True)
        assert r0.n_query_params == 3
        assert (
            r0.canonical_url
            == f"https://{h('src1')}.example.com:8080/{p('en')}/doc/0?id=0"
        )
        r7 = got[7]
        assert (r7.authority, r7.path) == (
            f"{h('src2')}.Example.com:8080",
            f"/{p('de')}/doc/7",
        )
        assert (r7.id_param, r7.n_query_params, r7.has_fragment) == (7, 1, False)
        r8 = got[8]
        assert (r8.id_param, r8.n_query_params, r8.has_port) == (None, 0, False)
        assert r8.canonical_url == f"https://{h('src3')}.example.com/{p('en')}/doc/8"
        r15 = got[15]
        assert (r15.id_param, r15.has_fragment) == (15, True)

    def test_uri_illegal_fixture_values_stay_parseable(self, spark, tmp_path):
        """The md5-label defense: source/lang values java.net.URI would
        reject as raw hostname/path labels (underscore, space,
        non-ASCII) must still produce fully-parsed rows."""
        import pandas as pd

        from big_data_flight_spark.functions.scalar import fn_url

        docs = pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["a", "b", "c"],
                "lang": ["en US", "zh—cn", "de"],
                "source": ["common_crawl", "web archive", "sité"],
                "n_chars": [1, 1, 1],
            }
        )
        sf = write_parquet(tmp_path, "documents", docs)
        rows = fn_url(spark, sf).collect()
        assert len(rows) == 3
        for r in rows:
            assert r.host is not None and r.host.endswith(".Example.com")
            assert r.path is not None and "/doc/" in r.path
            assert r.canonical_url.startswith("https://")


class TestAudioResample:
    def test_decimated_sawtooth(self, spark, tmp_path):
        import pandas as pd

        from big_data_flight_spark.operators.multimodal import mm_audio_resample_wav

        ids = [0, 3, 12, 25]
        docs = pd.DataFrame(
            {
                "doc_id": ids,
                "text": [""] * 4,
                "lang": ["en"] * 4,
                "source": ["s"] * 4,
                "n_chars": [0] * 4,
            }
        )
        sf = write_parquet(tmp_path, "documents", docs)
        got = {r.doc_id: r for r in mm_audio_resample_wav(spark, sf).collect()}
        for d in ids:
            step = d % 13 + 1
            s = [((i * step) % 2048) - 1024 for i in range(160)]
            y = [(s[2 * j] + s[2 * j + 1]) // 2 for j in range(80)]
            r = got[d]
            assert (r.n_frames, r.sample_rate) == (80, 8000)
            assert r.sum_abs == sum(abs(v) for v in y)
            assert r.peak == max(y)


class TestRetentionExpire:
    def test_expired_dirs_gone_survivors_intact(self, spark, tmp_path):
        import os

        import pandas as pd

        from big_data_flight_spark.sources.connectors import (
            _TMP,
            sink_retention_expire,
        )

        # 3 days before the 2024-01-08 cutoff, 2 after, 2 rows each.
        ts = pd.to_datetime(
            [
                "2024-01-05 01:00",
                "2024-01-05 02:00",
                "2024-01-06 01:00",
                "2024-01-06 02:00",
                "2024-01-07 01:00",
                "2024-01-07 02:00",
                "2024-01-08 01:00",
                "2024-01-08 02:00",
                "2024-01-20 01:00",
                "2024-01-20 02:00",
            ]
        )
        events = pd.DataFrame(
            {
                "event_id": range(10),
                "ts": ts,
                "user_id": [1] * 10,
                "event_type": ["click"] * 10,
                "value": [float(i) for i in range(10)],
                "props": ["{}"] * 10,
            }
        )
        sf = write_parquet(tmp_path, "events", events)
        got = {r.dt: r for r in sink_retention_expire(spark, sf).collect()}
        assert set(got) == {"2024-01-08", "2024-01-20"}
        assert (got["2024-01-08"].min_id, got["2024-01-08"].max_id) == (6, 7)
        assert (got["2024-01-20"].n, got["2024-01-20"].sum_value) == (2, 17.0)
        dirs = {
            e for e in os.listdir(os.path.join(_TMP, "retention_events"))
            if e.startswith("dt=")
        }
        assert dirs == {"dt=2024-01-08", "dt=2024-01-20"}


class TestBm25:
    def test_hand_corpus(self, spark, tmp_path):
        import pandas as pd

        from big_data_flight_spark.operators.text import _BM25_TERMS, text_bm25

        # 4 docs: doc 0 heavy in 'spark', doc 1 has all three terms,
        # doc 2 no query terms (must be ABSENT), doc 3 long with one hit.
        texts = [
            "spark spark spark fast",
            "spark data window",
            "filter join scan",
            "data " + "pad " * 20,
        ]
        docs = pd.DataFrame(
            {
                "doc_id": range(4),
                "text": texts,
                "lang": ["en"] * 4,
                "source": ["s"] * 4,
                "n_chars": [len(t) for t in texts],
            }
        )
        sf = write_parquet(tmp_path, "documents", docs)
        got = {r.doc_id: r for r in text_bm25(spark, sf).collect()}
        assert set(got) == {0, 1, 3}

        # independent reference
        toks = [t.split() for t in texts]
        dls = [len(t) for t in toks]
        n_docs, avgdl = 4, sum(dls) / 4
        df = {
            t: sum(1 for d in toks if t in d) for t in _BM25_TERMS
        }

        def score(doc):
            s = 0.0
            for t in sorted(_BM25_TERMS):
                tf = toks[doc].count(t)
                if tf == 0:
                    continue
                idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dls[doc] / avgdl))
            return s

        for d in (0, 1, 3):
            assert got[d].dl == dls[d]
            assert abs(got[d].bm25_d6 - score(d)) < 1e-6
        assert (got[0].n_terms_matched, got[0].matched_tf) == (1, 3)
        assert (got[1].n_terms_matched, got[1].matched_tf) == (3, 3)
        # repetition saturates: doc 0's tf=3 must score LESS than 3x a
        # single occurrence would (the k1 saturation BM25 exists for).
        assert got[0].bm25_d6 < 3 * got[1].bm25_d6


class TestRrfFusion:
    def test_matches_independent_fusion(self, spark, tmp_path):
        from big_data_flight_spark.operators.similarity import (
            _RRF_C,
            _RRF_K,
            _RRF_NQ,
            _RRF_TOP,
            sim_rrf_fusion,
        )

        vecs = _vectors_64d(25, seed=41)
        sf = _write_embeddings(tmp_path, vecs)
        # independent reference (float cosine rounded to 6, sign bits)
        ids = sorted(vecs)

        def cos(a, b):
            dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            na = math.sqrt(sum(x * x for x in vecs[a]))
            nb = math.sqrt(sum(x * x for x in vecs[b]))
            return round(dot / (na * nb), 6)

        expected = {}
        for qi in range(_RRF_NQ):
            cosr = sorted(
                (j for j in ids if j != qi), key=lambda j: (-cos(qi, j), j)
            )[:_RRF_K]
            hamr = sorted(
                (j for j in ids if j != qi),
                key=lambda j: (
                    sum(
                        (x > 0) != (y > 0)
                        for x, y in zip(vecs[qi], vecs[j])
                    ),
                    j,
                ),
            )[:_RRF_K]
            cr = {j: r for r, j in enumerate(cosr, 1)}
            hr = {j: r for r, j in enumerate(hamr, 1)}
            fused = {
                j: (1_000_000 // (_RRF_C + cr[j]) if j in cr else 0)
                + (1_000_000 // (_RRF_C + hr[j]) if j in hr else 0)
                for j in set(cr) | set(hr)
            }
            top = sorted(fused, key=lambda j: (-fused[j], j))[:_RRF_TOP]
            for rn, j in enumerate(top, 1):
                expected[(qi, j)] = (cr.get(j), hr.get(j), fused[j], rn)
        rows = sim_rrf_fusion(spark, sf).collect()
        got = {
            (r.query_id, r.neighbor_id): (r.cos_rank, r.ham_rank, r.rrf_micro, r.rn)
            for r in rows
        }
        assert got == expected


class TestAttribution:
    def test_hand_journeys(self, spark, tmp_path):
        import pandas as pd

        from big_data_flight_spark.operators.events import evt_attribution

        # user 1: click -> purchase 1h later (last=click, first=click)
        #         then view -> purchase 2h later (last=view, first=click)
        # user 2: click -> purchase 25h later (outside 24h: last=(none),
        #         first=click)
        # user 3: purchase with no prior events at all (both (none)...
        #         first-touch has no pick either -> (none))
        rows = [
            (1, "2024-01-01 00:00", 1, "click"),
            (2, "2024-01-01 01:00", 1, "purchase"),
            (3, "2024-01-01 02:00", 1, "view"),
            (4, "2024-01-01 04:00", 1, "purchase"),
            (5, "2024-01-02 00:00", 2, "click"),
            (6, "2024-01-03 01:00", 2, "purchase"),
            (7, "2024-01-04 00:00", 3, "purchase"),
        ]
        events = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows]),
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        sf = write_parquet(tmp_path, "events", events)
        got = {
            (r.model, r.channel): r.n_conversions
            for r in evt_attribution(spark, sf).collect()
        }
        assert got == {
            ("last", "click"): 1,
            ("last", "view"): 1,
            ("last", "(none)"): 2,
            ("first", "click"): 3,
            ("first", "(none)"): 1,
        }


class TestBitmapRollingDistinct:
    def test_hand_days_and_short_leading_windows(self, spark, tmp_path):
        import pandas as pd

        from big_data_flight_spark.operators.sketches import (
            agg_bitmap_rolling_distinct,
        )

        # day 1: users {1,2}; day 2: {2,3}; day 9: {1}
        # trailing-7d: d1={1,2}; d2={1,2,3}; d9 window [d3..d9] = {1}
        rows = [
            ("2024-01-01 05:00", 1),
            ("2024-01-01 06:00", 2),
            ("2024-01-02 05:00", 2),
            ("2024-01-02 06:00", 3),
            ("2024-01-09 05:00", 1),
        ]
        events = pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.to_datetime([r[0] for r in rows]),
                "user_id": [r[1] for r in rows],
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        sf = write_parquet(tmp_path, "events", events)
        got = {
            r.day_str: (r.n_active_users_7d, r.n_users_today)
            for r in agg_bitmap_rolling_distinct(spark, sf).collect()
        }
        assert got == {
            "2024-01-01": (2, 2),
            "2024-01-02": (3, 2),
            "2024-01-09": (1, 1),
        }


def test_sql_recursive_bfs_matches_dataframe_loop(spark):
    """The declarative recursive-CTE BFS must produce the SAME layers
    as the checkpointed DataFrame-loop twin (reached nodes only —
    the loop gate additionally labels unreached nodes hop = -1)."""
    from tests.conftest import SF_SMOKE

    from big_data_flight_spark.operators.graph import (
        graph_bfs_layers,
        sql_recursive_bfs,
    )

    rec = {
        r["hop"]: (r["n_nodes"], r["sum_node_id"], r["min_node"], r["max_node"])
        for r in sql_recursive_bfs(spark, SF_SMOKE).collect()
    }
    loop = {
        r["hop"]: (r["n_nodes"], r["sum_node_id"], r["min_node"], r["max_node"])
        for r in graph_bfs_layers(spark, SF_SMOKE).collect()
        if r["hop"] >= 0
    }
    assert rec == loop


def test_sink_python_datasource_commit_publishes_everything(spark, tmp_path):
    """After a successful save() every task file is committed: final
    .csv files only, zero .tmp leftovers, rows equal the source."""
    import glob
    import os

    from tests.conftest import SF_SMOKE

    from big_data_flight_spark.io import table
    from big_data_flight_spark.sources.connectors import _register_flightsink
    from pyspark.sql import functions as F

    _register_flightsink(spark)
    out = str(tmp_path / "sink_ok")
    src = (
        table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select("o_orderkey", "o_custkey")
    )
    n_src = src.count()
    src.write.format("flightsink").mode("append").option("path", out).save()
    assert glob.glob(os.path.join(out, "*.tmp")) == []
    finals = glob.glob(os.path.join(out, "*.csv"))
    assert finals
    n_rows = sum(1 for f in finals for _ in open(f))
    assert n_rows == n_src


def test_sink_python_datasource_abort_leaves_nothing_visible(spark, tmp_path):
    """A failing task must abort the job with NO published files —
    partial temp output never becomes visible (the 2PC contract a
    real object-store committer provides)."""
    import glob
    import os

    import pytest

    from tests.conftest import SF_SMOKE

    from big_data_flight_spark.io import table
    from big_data_flight_spark.sources.connectors import _register_flightsink
    from pyspark.sql import functions as F

    _register_flightsink(spark)
    out = str(tmp_path / "sink_fail")
    src = (
        table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select("o_orderkey", "o_custkey")
    )
    some_key = src.orderBy(F.col("o_orderkey").desc()).limit(1).collect()[0][0]
    with pytest.raises(Exception):
        (
            src.write.format("flightsink")
            .mode("append")
            .option("path", out)
            .option("fail_on_key", str(some_key))
            .save()
        )
    assert glob.glob(os.path.join(out, "*.csv")) == []


def test_cdc_chunking_survives_prefix_insertion():
    """THE content-defined-chunking property: prepending text shifts
    every byte offset, but boundaries are a function of local content,
    so all chunks after the first post-edit boundary are identical —
    byte-offset chunking would share nothing."""
    import pandas as pd

    from big_data_flight_spark.operators.text import _cdc_chunks

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through fields of synthetic fixture text until boundaries appear "
        "every so often in this long enough paragraph for several chunks "
        "to form with the default modulus and polynomial constants here"
    ) * 3
    edited = "INSERTED PREFIX SENTENCE. " + base
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [base, edited]})
    out = next(_cdc_chunks(iter([pdf])))
    a = list(out[out.doc_id == 1]["ch"])
    b = list(out[out.doc_id == 2]["ch"])
    assert len(a) >= 4, "fixture text must produce several chunks"
    shared = set(a) & set(b)
    # every chunk of the original past the first boundary must survive
    assert set(a[1:]) <= set(b), (len(a), len(b), len(shared))
    # and the partition-of-text invariant holds for both docs
    for doc_id, text in ((1, base), (2, edited)):
        assert out[out.doc_id == doc_id]["clen"].sum() == len(text)


def test_cdc_exact_duplicates_share_everything(spark):
    """Byte-exact duplicate documents must share 100% of their chunks:
    shared_chars == total_chunk_chars.

    ADVICE r7 fix: candidate groups are derived from byte-exact text
    EQUALITY (the property actually asserted), not an md5(lower(trim))
    prefilter — a fixture with only case/whitespace-variant duplicates
    would have passed the old prefilter and then spuriously failed the
    `checked > 0` assertion. And when the fixture has no byte-exact
    duplicates at all (the documented current state — see
    mm_dedup_assets / text_split_leakage_audit docstrings), the test
    SKIPS loudly instead of silently early-returning, so the vacuity
    is visible in the pytest summary."""
    import pytest

    from tests.conftest import SF_SMOKE

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.text import text_cdc_chunk_dedup

    texts = {
        r["doc_id"]: r["text"]
        for r in table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    }
    by_text: dict[str, list] = {}
    for i, t in texts.items():
        if t:
            by_text.setdefault(t, []).append(i)
    dup_groups = {t: ids for t, ids in by_text.items() if len(ids) > 1}
    if not dup_groups:
        pytest.skip(
            "fixture has zero byte-exact duplicate texts (documented "
            "post-r7 property) — nothing for the 100%-shared-chunks "
            "invariant to pin"
        )
    out = {
        r["doc_id"]: r
        for r in text_cdc_chunk_dedup(spark, SF_SMOKE).collect()
    }
    checked = 0
    for _t, ids in dup_groups.items():
        for i in ids:
            assert out[i]["shared_chars"] == out[i]["total_chunk_chars"], i
            checked += 1
    assert checked > 0


def test_split_leakage_audit_detects_real_leaks(spark):
    """The audit's leak path must be EXERCISED, not vacuous: the
    fixture's prefix-template groups straddle the hash split, so
    n_leaked_groups > 0 and every leaked group contributes >= 2 docs."""
    from tests.conftest import SF_SMOKE

    from big_data_flight_spark.operators.text import text_split_leakage_audit

    r = text_split_leakage_audit(spark, SF_SMOKE).collect()[0]
    assert r["n_train"] + r["n_val"] == 500
    assert r["n_dup_groups"] > 0
    assert r["n_leaked_groups"] > 0
    assert r["n_leaked_docs"] >= 2 * r["n_leaked_groups"]


def test_path_regex_journeys_are_total_ordered(spark):
    """The journey string must be the (ts, event_id)-ordered initial
    sequence — cross-checked per user against a direct sorted
    collect; regex counts must match a pure-Python re count."""
    import re

    from tests.conftest import SF_SMOKE

    from big_data_flight_spark.io import table
    from big_data_flight_spark.operators.events import evt_path_regex

    out = {r["user_id"]: r for r in evt_path_regex(spark, SF_SMOKE).collect()}
    ev = table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    ini = {"signup": "s", "click": "c", "purchase": "p", "view": "v", "error": "e"}
    by_user = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], ini.get(r["event_type"], "x"))
        )
    for u, rows in by_user.items():
        want = "".join(ch for _, _, ch in sorted(rows))
        assert out[u]["journey"] == want, u
        assert out[u]["converted_after_signup"] == bool(re.search("s.*p", want))
        assert out[u]["n_click_to_purchase"] == len(re.findall("cp", want))
        assert out[u]["n_error_bursts"] == len(re.findall("ee+", want))
