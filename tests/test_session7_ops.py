"""Session-7 operator semantics on SYNTHETIC fixtures — the pagerank
convention: the sf-fixture oracle proves cross-engine agreement, these
tests pin the semantics against hand-computed / independently-coded
references that share no code (and no constants) with the gates.

Synthetic tables are written as parquet into tmp dirs shaped like an
sf_dir, so every test drives the REAL registered gate end-to-end."""

from __future__ import annotations

import math

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import write_parquet


class TestKmeansLloyd:
    @staticmethod
    def _ref(vecs: dict[int, list[float]], k: int, rounds: int):
        """Pure-Python Lloyd on micro-int quantized vectors — the
        independent reference (floor of IEEE double division, ties to
        the smaller cluster, empty clusters carry their centroid)."""
        q = {i: [math.floor(x * 1e6 + 0.5) for x in v] for i, v in vecs.items()}
        cent = {c: list(q[c]) for c in range(k)}
        assign: dict[int, int] = {}
        for _ in range(rounds):
            for i, v in q.items():
                assign[i] = min(
                    (sum((a - b) * (a - b) for a, b in zip(v, cent[c])), c)
                    for c in range(k)
                )[1]
            for c in range(k):
                members = [q[i] for i in q if assign[i] == c]
                if members:
                    cent[c] = [
                        math.floor(sum(col) / len(members)) for col in zip(*members)
                    ]
        return cent, assign

    def _vectors(self):
        import random

        import numpy as np

        rng = random.Random(13)
        base = [
            [0.0, 0.0, 0.0, 0.0],
            [1.0, 0.0, 0.0, 0.0],
            [0.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0],
            [0.0, 0.0, 0.0, 1.0],
            [1.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 1.0],
            [0.0, 0.0, 0.0, 0.0],  # vec 7 == vec 0 -> cluster 7 starves
        ]
        vecs = {i: v for i, v in enumerate(base)}
        for i in range(8, 40):
            seed = base[i % 7]
            vecs[i] = [x + rng.uniform(-0.05, 0.05) for x in seed]
        # Round-trip through float32 so the parquet fixture and the
        # pure-Python reference quantize identical doubles.
        return {i: [float(np.float32(x)) for x in v] for i, v in vecs.items()}

    def test_matches_reference_and_empty_cluster(self, spark, tmp_path):
        from big_data_flight_spark.operators.similarity import (
            _KM_K,
            _KM_ROUNDS,
            sim_kmeans_lloyd,
        )

        vecs = self._vectors()
        tbl = pa.table(
            {
                "vec_id": pa.array(list(vecs), type=pa.int64()),
                "embedding": pa.array(
                    list(vecs.values()), type=pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(vecs), type=pa.int32()),
            }
        )
        pq.write_table(tbl, f"{tmp_path}/embeddings.parquet")
        sf = str(tmp_path)
        got = {r.cluster: r for r in sim_kmeans_lloyd(spark, sf).collect()}
        cent, assign = self._ref(vecs, _KM_K, _KM_ROUNDS)
        assert set(got) == set(range(_KM_K))
        for c in range(_KM_K):
            members = [i for i, a in assign.items() if a == c]
            assert got[c].n_members == len(members)
            assert got[c].id_sum == sum(members)
            assert got[c].centroid_str == ",".join(str(x) for x in cent[c])
            assert got[c].centroid_l1 == sum(abs(x) for x in cent[c])
    def test_empty_cluster_carries_centroid(self, spark, tmp_path):
        """Exactly the 8 seed vectors, with vec 7 == vec 0: the tie
        sends both to cluster 0 (smaller id) in round 1; every other
        cluster holds its single seed, so no centroid ever moves
        (floor(v/1) = v), cluster 7 stays empty for all rounds and
        must carry its initial centroid with zero members."""
        from big_data_flight_spark.operators.similarity import sim_kmeans_lloyd

        base = [
            [0.0, 0.0, 0.0, 0.0],
            [1.0, 0.0, 0.0, 0.0],
            [0.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0],
            [0.0, 0.0, 0.0, 1.0],
            [1.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 1.0],
            [0.0, 0.0, 0.0, 0.0],
        ]
        tbl = pa.table(
            {
                "vec_id": pa.array(range(8), type=pa.int64()),
                "embedding": pa.array(base, type=pa.list_(pa.float32())),
                "label": pa.array([0] * 8, type=pa.int32()),
            }
        )
        pq.write_table(tbl, f"{tmp_path}/embeddings.parquet")
        got = {r.cluster: r for r in sim_kmeans_lloyd(spark, str(tmp_path)).collect()}
        assert got[0].n_members == 2 and got[0].id_sum == 7
        assert got[7].n_members == 0 and got[7].id_sum == 0
        assert got[7].centroid_str == "0,0,0,0"
        assert got[1].centroid_str == "1000000,0,0,0"


class TestHeavyHitters:
    def test_threshold_is_exact_not_estimated(self, spark, tmp_path):
        from big_data_flight_spark.operators.sketches import agg_heavy_hitters

        rows = []
        eid = 0
        for uid, n in ((1001, 80), (1002, 69), (1003, 5)):
            for _ in range(n):
                rows.append(
                    {
                        "event_id": eid,
                        "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=eid),
                        "user_id": uid,
                        "event_type": "view",
                        "value": 1.0,
                    }
                )
                eid += 1
        frame = pd.DataFrame(rows)
        frame["ts"] = frame["ts"].astype("datetime64[us]")
        sf = write_parquet(tmp_path, "events", frame)
        out = {r.user_id: r for r in agg_heavy_hitters(spark, sf).collect()}
        # 69 < threshold: even if the sketch inflates user 1002 into
        # the candidate set, the exact verify must drop it.
        assert set(out) == {1001}
        assert out[1001].exact_n == 80
        assert out[1001].est_n >= 80  # CMS never underestimates
        assert out[1001].overestimate == out[1001].est_n - 80
        assert out[1001].n_candidates >= 1


class TestLmScore:
    def test_hand_corpus_oov_path(self, spark, tmp_path):
        from big_data_flight_spark.operators.text import text_lm_score

        sf = write_parquet(
            tmp_path,
            "documents",
            pd.DataFrame(
                {
                    "doc_id": [0, 1],
                    "text": ["a b a b", "a b c"],
                    "lang": ["en", "en"],
                    "source": ["t", "t"],
                    "n_chars": [7, 5],
                }
            ),
        )
        got = {r.doc_id: r for r in text_lm_score(spark, sf).collect()}
        # LM trains on doc 0 only: (a,b)x2 -> P(b|a)=1e6; (b,a)x1 -> 1e6.
        d0 = got[0]
        assert (d0.n_bigrams, d0.n_seen) == (3, 3)
        assert d0.sum_prob_micro == 3_000_000
        assert d0.mean_seen_prob_micro == 1_000_000
        assert d0.coverage_micro == 1_000_000
        # doc 1 is held out: (a,b) seen, (b,c) out-of-vocabulary.
        d1 = got[1]
        assert (d1.n_bigrams, d1.n_seen) == (2, 1)
        assert d1.sum_prob_micro == 1_000_000
        assert d1.mean_seen_prob_micro == 1_000_000
        assert d1.coverage_micro == 500_000

    def test_no_seen_bigrams_is_null_mean(self, spark, tmp_path):
        from big_data_flight_spark.operators.text import text_lm_score

        sf = write_parquet(
            tmp_path,
            "documents",
            pd.DataFrame(
                {
                    "doc_id": [1],  # odd: nothing trains the LM
                    "text": ["x y z"],
                    "lang": ["en"],
                    "source": ["t"],
                    "n_chars": [5],
                }
            ),
        )
        [row] = text_lm_score(spark, sf).collect()
        assert (row.n_bigrams, row.n_seen) == (2, 0)
        assert row.sum_prob_micro == 0
        assert row.mean_seen_prob_micro is None
        assert row.coverage_micro == 0


class TestSceneCut:
    def test_hand_clip_structure(self, spark, tmp_path):
        from big_data_flight_spark.operators.multimodal import (
            _SC_FRAMES,
            _SC_SCENE_LEN,
            _ppm_raster,
            _sc_key,
            mm_scene_cut_ppm,
        )

        sf = write_parquet(
            tmp_path,
            "documents",
            pd.DataFrame(
                {
                    "doc_id": [3, 11],
                    "text": ["x", "y"],
                    "lang": ["en", "en"],
                    "source": ["t", "t"],
                    "n_chars": [1, 1],
                }
            ),
        )
        got = {r.doc_id: r for r in mm_scene_cut_ppm(spark, sf).collect()}
        # Reference: L1 between the raster closed forms at each cut.
        for d in (3, 11):
            row = got[d]
            assert row.n_frames == _SC_FRAMES
            assert row.n_cuts == 2 and row.n_scenes == 3
            assert row.cut_frames == "4,8"
            expected = 0
            for f in (_SC_SCENE_LEN, 2 * _SC_SCENE_LEN):
                _, _, a = _ppm_raster(_sc_key(d, f))
                _, _, b = _ppm_raster(_sc_key(d, f - 1))
                expected += int(
                    abs(a.astype(int) - b.astype(int)).sum()
                )
            assert row.total_cut_l1 == expected


class TestDynamicPartitionPruning:
    def test_top2_only_and_lossless(self, spark, tmp_path):
        from big_data_flight_spark.sources.connectors import (
            join_partition_pruned_runtime,
        )

        rows = []
        eid = 0
        for etype, n in (("view", 50), ("click", 30), ("error", 10), ("signup", 2)):
            for _ in range(n):
                rows.append(
                    {
                        "event_id": eid,
                        "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=eid),
                        "user_id": eid % 7,
                        "event_type": etype,
                        "value": float(eid % 5),
                    }
                )
                eid += 1
        frame = pd.DataFrame(rows)
        frame["ts"] = frame["ts"].astype("datetime64[us]")
        sf = write_parquet(tmp_path, "events", frame)
        got = {r.event_type: r for r in join_partition_pruned_runtime(spark, sf).collect()}
        # Only the two most popular types survive the runtime prune,
        # and their aggregates match the source exactly (lossless
        # partitioned round-trip). The builder itself raises if the
        # dynamicpruning expression failed to plan.
        assert set(got) == {"view", "click"}
        assert got["view"].n == 50 and got["view"].type_n == 50
        assert got["click"].n == 30 and got["click"].type_n == 30
        assert got["view"].min_id == 0 and got["view"].max_id == 49


class TestUdtfTableArgs:
    def test_per_partition_summary(self, spark, tmp_path):
        from big_data_flight_spark.operators.udfs import udtf_table_args

        rows = []
        # user 1: ordered gaps 60 s and 3600 s; a same-ts tie at the
        # start (event 0 and 1) so first_id checks the id tie-break.
        t0 = pd.Timestamp("2024-01-01 00:00:00")
        spec = [
            (0, t0, 1, "view"),
            (1, t0, 1, "purchase"),
            (2, t0 + pd.Timedelta(seconds=60), 1, "view"),
            (3, t0 + pd.Timedelta(seconds=3660), 1, "purchase"),
            (4, t0, 2, "view"),  # singleton user: gap 0
        ]
        for eid, ts, uid, etype in spec:
            rows.append(
                {
                    "event_id": eid,
                    "ts": ts,
                    "user_id": uid,
                    "event_type": etype,
                    "value": 1.0,
                    "props": "{}",
                }
            )
        frame = pd.DataFrame(rows)
        frame["ts"] = frame["ts"].astype("datetime64[us]")
        sf = write_parquet(tmp_path, "events", frame)
        got = {r.user_id: r for r in udtf_table_args(spark, sf).collect()}
        u1 = got[1]
        assert (u1.n_events, u1.n_purchases) == (4, 2)
        assert (u1.first_id, u1.last_id) == (0, 3)
        assert u1.max_gap_s == 3600
        u2 = got[2]
        assert (u2.n_events, u2.n_purchases, u2.max_gap_s) == (1, 0, 0)
        assert (u2.first_id, u2.last_id) == (4, 4)


class TestPythonDataSource:
    def test_partition_plan_and_closed_form(self, spark, tmp_path):
        from big_data_flight_spark.sources.connectors import (
            _PYDS_MOD,
            _PYDS_PARTS,
            _PYDS_ROWS,
            scan_python_datasource,
        )

        got = {r.cat: r for r in scan_python_datasource(spark, str(tmp_path)).collect()}
        n_total = _PYDS_PARTS * _PYDS_ROWS
        # Independent reference fold.
        ref = {}
        for gid in range(n_total):
            cat = f"c{gid % 5}"
            e = ref.setdefault(cat, {"n": 0, "sv": 0, "sg": 0, "parts": set()})
            e["n"] += 1
            e["sv"] += (gid * gid * 31 + 7) % _PYDS_MOD
            e["sg"] += gid
            e["parts"].add(gid // _PYDS_ROWS)
        assert set(got) == set(ref)
        for cat, e in ref.items():
            assert got[cat].n == e["n"]
            assert got[cat].sum_val == e["sv"]
            assert got[cat].sum_gid == e["sg"]
            assert got[cat].n_parts == len(e["parts"]) == _PYDS_PARTS
