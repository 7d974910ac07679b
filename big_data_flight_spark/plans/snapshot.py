"""Plan inspection & regression checks — SURVEY.md §3.4.

The one place that turns a gate into plan text (``gate_plan``) and
checks it (``check``): each SNAPSHOT gate's required properties (filter
pushdown reached the scan, projection pruned the schema, dimension
joins broadcast, window limit pushed down, ...) plus the rules every
gate keeps (no clone needle, no CartesianProduct, no filter above an
unpushed scan). ``tests/test_plans.py`` runs ``check`` live on every
registered gate.

``python -m big_data_flight_spark.plans.snapshot`` regenerates PLANS.md
at the repo root (the formatted physical plan of each SNAPSHOT gate,
fixtures from ``SPARK_GRAFT_SF_DIR``, default sf0.01) and exits 1 on any
check failure. Reviewing the diff of PLANS.md after an operator change
is the plan-regression check."""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

# (query, properties worth asserting in the plan text)
SNAPSHOT = {
    "agg_groupby": ["PushedFilters", "HashAggregate"],
    "project_select": ["ReadSchema"],
    # Projection pruning: the nation scan reads only the columns the
    # query selects.
    "scan_parquet": ["ReadSchema", "n_nationkey", "!n_comment"],
    # A dimension join broadcasts; a sort-merge join would shuffle the fact.
    "join_broadcast": ["BroadcastHashJoin", "!SortMergeJoin"],
    "join_inner_equi": [],
    "tpch_q5": ["BroadcastHashJoin"],
    "tpch_q6": ["PushedFilters"],
    "tpch_q8": ["BroadcastHashJoin"],
    # Q21 canonical = the promoted single-scan strategy (r5-s2):
    # exactly one lineitem scan; the textbook semi/anti representative
    # keeps its own pin below.
    "tpch_q21": ["=1:lineitem.parquet", "HashAggregate", "BroadcastHashJoin"],
    "tpch_q21_threescan": ["BroadcastHashJoin"],
    # Q18's r2 rework: top-100 pushed BEFORE the lineitem re-join —
    # the pushed TakeOrderedAndProject and the broadcast of the tiny
    # top-100 side are the two properties that must not regress.
    "tpch_q18": ["TakeOrderedAndProject", "BroadcastHashJoin"],
    # Q2 (r3): correlated-min via rank — the rn=1 filter must push into
    # the window (WindowGroupLimit) and all four dims must broadcast.
    "tpch_q2": ["WindowGroupLimit", "BroadcastHashJoin"],
    "win_topk_per_group": ["WindowGroupLimit"],
    "limit_topk": ["TakeOrderedAndProject"],
    # The predicate reaches the parquet reader as pushed filters.
    "filter_pred": ["PushedFilters", "IsNotNull(l_quantity)|GreaterThanOrEqual"],
    "text_near_dedup_jaccard": [],
    "sim_cosine_pairs": [],
    # r2 additions: the LSS connected-components result plan (its
    # iterative loop is driver-side, but the final labeling must stay
    # a hash-agg over the converged edge list, no cartesian), and the
    # Arrow-batched rerank kernel (queries broadcast, ArrowEvalPython
    # — NOT row-at-a-time BatchEvalPython — scoring the candidates).
    "text_dedup_clusters_lss": ["HashAggregate"],
    "sim_rerank_pandas": ["ArrowEvalPython", "BroadcastNestedLoopJoin"],
    # The two banded-LSH scale paths: their candidate generation must
    # stay an equi-join (hash-partitioned band buckets), never a
    # nested-loop over all pairs.
    "text_minhash_lsh": ["HashAggregate", "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"],
    "sim_ann_lsh": ["HashAggregate"],
    "etl_merge_upsert": ["BroadcastHashJoin"],
    "dq_profile": ["BroadcastHashJoin"],
    # r4 additions (VERDICT r3 "What's wrong" #3): the measured
    # physical strategies of the newest gates must be pinned too.
    # (The one-scan Q21 pin moved up to "tpch_q21" when the strategy
    # was promoted to the canonical gate in r5-s2: exactly one
    # lineitem parquet scan may appear — orders is scanned once more,
    # so the lineitem file path, not the generic scan marker, is the
    # precise assertion.)
    # Quantization is a pure per-row projection: any Exchange in its
    # plan means somebody re-introduced a shuffle into a scan-speed op.
    "sim_quantize_int8": ["!Exchange", "=1:embeddings.parquet"],
    # Contamination check (r4): candidate generation must stay an
    # inverted-index equi-join on the shingle, never a nested loop
    # over doc pairs — same contract as the banded-LSH plans.
    "text_decontaminate": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!BroadcastNestedLoopJoin",
        "HashAggregate",
    ],
    # r4 training-data additions: chunking is tokenize→explode→slice,
    # a pure narrow pipeline — any Exchange means a shuffle crept into
    # a scan-speed op; the epoch shuffle is exactly one hash exchange
    # feeding a per-shard window sort.
    "text_chunk_documents": ["!Exchange", "=1:documents.parquet"],
    "text_shuffle_shard": ["Window", "=1:documents.parquet"],
    # Matryoshka truncation is a pure projection like quantize — no
    # Exchange may ever appear.
    "sim_matryoshka_truncate": ["!Exchange", "=1:embeddings.parquet"],
    # Chunk→pack composition: one scan, one shard-window shuffle, one
    # hash agg — Catalyst must fuse the two pipeline steps.
    "text_chunk_pack_pipeline": ["Window", "HashAggregate", "=1:documents.parquet"],
    # The sorted-layout read-back: the week predicate must reach the
    # re-written parquet's row groups (that pruning is the layout's
    # whole point).
    "sink_sorted_layout": ["PushedFilters", "HashAggregate"],
    # Binary-signature retrieval (session 3): the 8-byte signatures
    # are computed in-scan (integer codegen), the tiny query side is
    # broadcast against the streamed corpus, and the per-query top-5
    # must push into the window — same contract as win_topk_per_group.
    "sim_hamming_topk": ["BroadcastNestedLoopJoin", "WindowGroupLimit"],
    # Iterative PageRank (session 3): each round's localCheckpoint
    # cuts lineage (LSS rule), so the FINAL plan must read the last
    # round's materialized scores as an ExistingRDD scan — a deep
    # 3-round join tree here would mean the checkpoint regressed. The
    # per-iteration broadcast-join shape is asserted in
    # tests/test_plans.py against a single un-checkpointed round.
    "graph_pagerank": ["ExistingRDD", "!BroadcastHashJoin"],
    # Blocked edit-distance dedup: candidates must come from the
    # prefix-block equi-join, never an all-pairs nested loop (the
    # Levenshtein DP is quadratic per pair — same contract as the
    # banded-LSH and decontaminate plans).
    "text_near_dedup_editdist": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!BroadcastNestedLoopJoin",
    ],
    # WAV round-trip: the binary payload is born and consumed inside
    # one narrow Arrow pipeline — two MapInPandas stages, zero
    # Exchange (a shuffle here would move the blobs).
    "mm_audio_decode_wav": ["MapInPandas", "!Exchange"],
    # Degree profile: one scan of each side of the trading join, dims
    # broadcast, then two hash aggs (distinct pairs + histogram) — a
    # SortMergeJoin here would mean the orders side lost its broadcast.
    "graph_degree_hist": ["BroadcastHashJoin", "HashAggregate", "=1:lineitem.parquet"],
    # r5 additions. Capped jaccard: the stop-shingle filter must reach
    # the inverted index through a broadcast semi-join (a shuffled semi
    # would re-key the whole shingle table just to drop hot keys).
    # EXACTLY one nested-loop join may appear: the deliberate 1-row
    # broadcast cross join attaching the dropped-shingle audit scalar
    # (the sanctioned 1-row shape) — a second one would mean candidate
    # generation degraded to all-pairs. formatted-explain mentions each
    # physical node twice (tree line + numbered detail), so one node
    # asserts as =2.
    "text_near_dedup_jaccard_capped": [
        "BroadcastHashJoin",
        "=2:BroadcastNestedLoopJoin",
        "HashAggregate",
    ],
    # r12: data-derived cap. Same contract as the static capped gate —
    # stop-shingle filter through a broadcast semi, candidates from the
    # inverted-index equi-join — plus the 1-row cap/audit attaches as
    # broadcast nested loops: dropped-audit + cap-info cross joins
    # (the cap->df attach itself rides the measure pass, which ends in
    # the localCheckpoint). The checkpointed measure pass must leave
    # the final plan reading cap_info as a materialized scan
    # (ExistingRDD), not re-deriving the quantile tree per consumer.
    "text_near_dedup_jaccard_adaptive": [
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "HashAggregate",
        "ExistingRDD",
    ],
    # PPM round-trip: same contract as the WAV codec — binary payloads
    # born and consumed inside one narrow Arrow pipeline, zero Exchange.
    "mm_decode_image_ppm": ["MapInPandas", "!Exchange"],
    # The real resize + windowed-audio-features kernels share it.
    "mm_resize_ppm": ["MapInPandas", "!Exchange"],
    "mm_audio_features_wav": ["MapInPandas", "!Exchange"],
    # Hive-partitioned layout: the event_type predicate must be a
    # PartitionFilters entry (directory pruning), NOT a data filter.
    "sink_partitioned_layout": ["PartitionFilters: [event_type"],
    # Substring dedup: positioned-gram candidates must come from the
    # inverted-index equi-join (semi on gram), never all-pairs — the
    # same contract as decontaminate/editdist.
    "text_substring_dedup_stats": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!BroadcastNestedLoopJoin",
        "HashAggregate",
        # r10 InferFiltersFromGenerate regression pin: the inferred
        # size>0 filter must never re-inline the tokenization into
        # per-element access (the 33x clone; see _positioned_dup_grams
        # docstring). check() applies the same needle to every gate.
        "!element_at(filter(split",
    ],
    # Convergence-gated PageRank: the early-stopped loop must leave the
    # same flat lineage as the fixed-depth gate (final plan reads the
    # last round's checkpoint as ExistingRDD; a join tree here means a
    # checkpoint regressed and Catalyst planning grows with rounds).
    "graph_pagerank_converged": ["ExistingRDD", "!BroadcastHashJoin"],
    # r5 session-2 additions. Bitmap distinct: both levels must stay
    # hash aggregates (partial map-side), and the exact-audit side
    # joins back as a broadcast (3 rows).
    "agg_bitmap_distinct": ["HashAggregate", "BroadcastHashJoin"],
    # KMV: per-shard k-smallest is a shard-partitioned window (the
    # global k-smallest window is 256 rows — bounded by construction).
    "agg_kmv_distinct": ["Window", "HashAggregate"],
    # Triangle counting: wedge enumeration and closure must be
    # equi-joins (hash/SMJ) — the whole algorithm exists because the
    # OR-of-directions closure degenerates to a nested loop. The only
    # nested-loop nodes allowed are the THREE 1-row stats-assembly
    # cross joins; the count pin (3 nodes x tree-line + detail-header
    # = 6 textual hits in the formatted plan) bites if a fourth BNLJ
    # appears — i.e. the wedge/closure join regressed to a nested loop
    # while the presence checks still passed on the deg equi-joins.
    "graph_triangle_count": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "=6:BroadcastNestedLoopJoin",
        "HashAggregate",
    ],
    # Perceptual-hash dedup: decode+hash in one Arrow pipeline; only
    # the 12-byte (doc_id, phash, md5-ref) rows may reach the shuffle,
    # never the binary payload. The micro-syntax cannot assert node
    # ORDER, so the shuffle-hygiene claim is carried by the operator's
    # own structure (hash projected before groupBy) + the count pin on
    # the two Arrow stages (2 nodes x 2 textual hits).
    "mm_phash_dedup": ["=4:MapInPandas", "HashAggregate"],
    # Binned interval join: the rewrite's whole point is that the
    # overlap join runs as an equi-join on (user, bin) — a nested loop
    # here means the theta join came back.
    "join_interval_binned": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!BroadcastNestedLoopJoin",
    ],
    # r5 session-3. KMV set algebra: every sketch build must be a distributed top-k
    # (TakeOrderedAndProject), never a global single-partition window
    # sort over the full hashed base set.
    "agg_kmv_set_ops": ["TakeOrderedAndProject", "!Window"],
    # join_bloom_pruned's returned DF is a re-read of its sink (the
    # scoped-conf sink-gate pattern); its plan property — the injected
    # bloom_filter_agg — is asserted LOUDLY inside the builder itself,
    # which is stronger than a snapshot: the gate fails, not just the
    # snapshot tool.
    # r5 session-5. Z-order layout: the 2-D box must reach the
    # readback scan as data-source pushed filters on BOTH normalized
    # coordinates — that is what parquet row-group stats prune on.
    "sink_zorder_layout": [
        "GreaterThanOrEqual(un,64)",
        "GreaterThanOrEqual(dn,80)",
    ],
    # BPE merge training: the iterative-loop discipline pin — the
    # final stats plan must read checkpointed round states
    # (ExistingRDD), never re-derive the merge cascade as a live join
    # tree (Catalyst planning grows super-linearly with rounds
    # otherwise — the LSS/pagerank lesson).
    "text_bpe_merge_train": ["ExistingRDD"],
    # Per-group reservoir: the rank-K filter must plan as
    # WindowGroupLimit (running top-K per key on both sides of the
    # exchange) — a plain Window here means every group gets fully
    # sorted before the filter, the thing the gate exists to avoid.
    "sample_reservoir_per_group": ["WindowGroupLimit"],
    # r5 session-6. PQ-ADC: the codebook joins the corpus as a
    # BROADCAST hash join and encoding reduces via partial-aggregatable
    # min-of-struct hash aggregates (a Window over the corpus here
    # means the argmin regressed to a rank); queries ride the
    # sanctioned broadcast nested loop; the per-query top-5 pushes
    # into the window.
    "sim_pq_adc": [
        "BroadcastHashJoin",
        "HashAggregate",
        "BroadcastNestedLoopJoin",
        "WindowGroupLimit",
    ],
    # EWMA: ONE shuffle on user_id into the collect-fold aggregate —
    # no raw-event Window, exactly one events scan.
    "evt_ewma": ["HashAggregate", "!Window", "=1:events.parquet"],
    # Luma histogram shares the PPM codec contract: binary payloads
    # never leave their narrow Arrow pipeline.
    "mm_image_hist_ppm": ["MapInPandas", "!Exchange"],
    # BPE encode: the trained vocabulary must arrive as a checkpointed
    # ExistingRDD (loop lineage cut) and join the corpus words as a
    # BROADCAST — a sort-merge join here would shuffle the corpus by
    # word just to look up token counts.
    "text_bpe_encode": ["ExistingRDD", "BroadcastHashJoin", "HashAggregate"],
    # Nearest as-of: the whole point is that NO join ever appears —
    # one events scan, both direction candidates carried by windows
    # over the same user_id partitioning.
    "join_asof_nearest": ["Window", "=1:events.parquet", "!Join"],
    # Rolling median: one window pass over one scan.
    "win_rolling_median": ["Window", "=1:events.parquet"],
    # MAD anomaly: one day-bucket shuffle into the collect aggregate,
    # medians picked expression-side — no second shuffle, no window.
    "evt_anomaly_mad": ["HashAggregate", "=1:events.parquet", "!Window"],
    # Link prediction: pair generation is the customer-keyed
    # inverted-index equi-join (hot keys capped); degree tables
    # broadcast back; never a supplier x supplier loop; bounded output
    # via top-k sort.
    "graph_common_neighbors": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!CartesianProduct",
        "BroadcastHashJoin",
        "TakeOrderedAndProject",
    ],
    # Bigram LM: pair counting is the hash aggregate; the per-w1
    # denominator window runs over the COUNTED pair table (vocabulary-
    # sized), and the top-50 is a distributed TakeOrdered.
    "text_bigram_lm": ["HashAggregate", "Window", "TakeOrderedAndProject"],
    # Nested round-trip read-back: the unnest is a Generate over the
    # nested scan feeding one hash aggregate — no join node may appear
    # (the whole point of the co-located layout).
    "sink_nested_roundtrip": ["Generate", "HashAggregate", "!Join"],
    # r5 session-7. Median by domain bisection: the final plan reads
    # the checkpointed counts table and the 1-row bisection state
    # (ExistingRDD ×2) through the sanctioned 1-row broadcast cross
    # join into one hash aggregate — and NO Sort node may ever appear
    # (a sort is exactly what the algorithm exists to avoid).
    "agg_median_bisect": [
        "ExistingRDD",
        "HashAggregate",
        "BroadcastNestedLoopJoin",
        "!Sort",
    ],
    # LM scoring: the model join must stay an equi-join on (w1, w2) —
    # never a nested loop — with pair counting and per-doc scoring as
    # hash aggregates and the per-w1 denominator window over the
    # counted (vocabulary-sized) table.
    "text_lm_score": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!BroadcastNestedLoopJoin",
        "HashAggregate",
        "Window",
    ],
    # Sketch-pruned heavy hitters: the counter table and candidate set
    # ride BROADCAST hash joins (they are constant-size / tiny by
    # construction — a shuffled join would re-key the events just to
    # probe a 12k-counter sketch); the only nested loop is the 1-row
    # n_candidates audit cross join.
    "agg_heavy_hitters": [
        "BroadcastHashJoin",
        "HashAggregate",
        "=2:BroadcastNestedLoopJoin",
    ],
    # Lloyd k-means: the final plan reads checkpointed round state
    # (ExistingRDD); assignment is a projection over the broadcast
    # 1-row centroid array (BroadcastNestedLoopJoin — the sanctioned
    # 1-row shape), and the only shuffle is the centroid-update /
    # stats hash aggregate.
    "sim_kmeans_lloyd": [
        "ExistingRDD",
        "BroadcastNestedLoopJoin",
        "HashAggregate",
    ],
    # Runtime (dynamic) partition pruning: the fact scan must carry a
    # dynamicpruning PartitionFilters entry fed by the broadcast dim —
    # the builder also asserts this loudly at build time (the
    # join_bloom_pruned convention); the snapshot pin catches silent
    # plan drift in review.
    "join_partition_pruned_runtime": [
        "dynamicpruning",
        "BroadcastHashJoin",
        "HashAggregate",
    ],
    # Scene-cut detection: containers are born and decoded inside the
    # narrow Arrow pipeline (two MapInPandas stages = 4 textual hits);
    # only decoded integer features reach the one per-clip lag-window
    # shuffle.
    "mm_scene_cut_ppm": [
        "=4:MapInPandas",
        "Window",
        "HashAggregate",
        "=1:documents.parquet",
    ],
    # Python UDTF over a TABLE argument: the engine must plan the
    # PARTITION BY as one hash exchange + per-partition Sort feeding
    # the Python evaluator (BatchEvalPythonUDTF is the plan node for
    # the UDTF protocol — state across eval() calls, not a scalar
    # Python UDF in a hot loop).
    "udtf_table_args": ["BatchEvalPythonUDTF", "Sort", "Exchange"],
    # Custom Python data source: the scan must arrive as the named
    # BatchScan of the registered connector feeding one hash aggregate
    # (the n_parts audit column proves the partition plan executed).
    "scan_python_datasource": ["BatchScan flightgen", "HashAggregate"],
    # Systematic weighted sampling: the two-pass distributed prefix
    # sum — per-shard windows, shard offsets and the 1-row total ride
    # broadcasts; a SortMergeJoin here means the 16-row offset table
    # lost its broadcast.
    "sample_weighted_systematic": [
        "Window",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "!SortMergeJoin",
    ],
    # Path mining: ONE events scan (two leads share one window
    # partitioning; the share window runs over the aggregated path
    # table, never a second scan), top-10 as a distributed TakeOrdered.
    "evt_top_paths": [
        "Window",
        "HashAggregate",
        "TakeOrderedAndProject",
        "=1:events.parquet",
    ],
    # r6. IVF-PQ composed stack: checkpointed Lloyd state (ExistingRDD),
    # cell assignment + probe over the broadcast 1-row centroid array
    # (BroadcastNestedLoopJoin — the sanctioned shape), the PQ codebook
    # joined BROADCAST, encoding reduced via partial-aggregatable
    # min-of-struct hash aggregates, and the per-query top-5 pushed
    # into the window. No cartesian anywhere: the candidate join is an
    # equi-join on the cell id — that pruning IS the algorithm.
    "sim_ivf_pq": [
        "ExistingRDD",
        "BroadcastNestedLoopJoin",
        "BroadcastHashJoin",
        "HashAggregate",
        "WindowGroupLimit",
        "!CartesianProduct",
    ],
    # r6. HITS: the final plan reads checkpointed round state only
    # (ExistingRDD — the per-round broadcast-score joins, 1-row max
    # broadcasts and hash aggregates all happen BEFORE the round
    # checkpoints, exactly like sim_kmeans_lloyd's loop; the kernel's
    # algebra is pinned by the pure-Python property test instead),
    # plus the two bounded per-side rank windows and their union.
    "graph_hits": [
        "ExistingRDD",
        "Window",
        "Union",
        "!CartesianProduct",
    ],
    # r6. k-core: like the other iterative gates, the final plan reads
    # checkpointed per-round state (ExistingRDD) into the removed-
    # profile hash aggregate and the core summary, unioned; no
    # cartesian may appear.
    "graph_k_core": [
        "ExistingRDD",
        "HashAggregate",
        "Union",
        "!CartesianProduct",
    ],
    # r6. Attribution: ONE events scan carries all three window picks;
    # both models' credits leave that pass as an exploded struct array
    # (Generate) — a union of per-model selects would re-execute the
    # windowed subtree (measured: 2 scans); no join may appear.
    "evt_attribution": [
        "=1:events.parquet",
        "Window",
        "Generate",
        "HashAggregate",
        "!Join",
    ],
    # r6. BM25: the corpus pays exactly ONE tokenize+aggregate pass —
    # the per-doc (dl, tf...) table is checkpointed and its three
    # consumers (term rows, df, corpus stats) read the ExistingRDD, so
    # NO parquet scan may appear in the final plan at all; df rides a
    # broadcast (a SortMergeJoin on token means the |terms|-row table
    # lost it) and the stats the sanctioned 1-row broadcast cross join.
    "text_bm25": [
        "ExistingRDD",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "HashAggregate",
        "!Scan parquet",
    ],
    # r6. RRF fusion: both input rankers keep their query-broadcast
    # shape with the top-k pushed into the window; the fusion itself
    # is the (query, neighbor) equi-join of two k-deep lists (SMJ is
    # fine there), but a gone WindowGroupLimit means a ranker's top-k
    # stopped pushing.
    "sim_rrf_fusion": [
        "WindowGroupLimit",
        "BroadcastNestedLoopJoin",
        "=4:embeddings.parquet",
    ],
    # r6. URL parsing: a pure per-row projection over one documents
    # scan — no shuffle, no Python evaluator (parse_url is a JVM
    # builtin inside whole-stage codegen).
    "fn_url": ["!Exchange", "!Python", "=1:documents.parquet"],
    # r6. Resample chain: THREE Arrow stages (synth -> decimate/
    # re-encode -> decode; each MapInPandas node appears twice in the
    # formatted plan), binary containers never reach an Exchange.
    "mm_audio_resample_wav": ["=6:MapInPandas", "!Exchange"],
    # r6. SemDeDup: the near-dup pair join must stay the equi-join on
    # the k-means cell id (cluster blocking bounds the pair space —
    # a nested loop here means the blocking regressed to all-pairs).
    "sim_semdedup_clustered": [
        "ExistingRDD",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!CartesianProduct",
        "HashAggregate",
    ],
    # r7. Recursive-CTE BFS: the plan must actually contain Spark's
    # recursive execution node (UnionLoop + its back-reference) over
    # the checkpointed edge view (surfacing as LogicalRDD inside the
    # loop's logical subtree) — a plan without UnionLoop would mean
    # Catalyst unrolled or rewrote the recursion.
    "sql_recursive_bfs": ["UnionLoop", "UnionLoopRef", "LogicalRDD"],
    # r7. Re-pointed codec gates: same narrow-Arrow contract as their
    # *_ppm/*_wav siblings — containers live and die between
    # MapInPandas stages, zero Exchange. frame_sample additionally
    # keeps its explode (Generate) BEFORE the synth stage and its
    # sampling filter between the two Python stages.
    "mm_decode_image": ["MapInPandas", "!Exchange"],
    "mm_resize": ["MapInPandas", "!Exchange"],
    "mm_audio_features": ["MapInPandas", "!Exchange"],
    "mm_frame_sample": ["Generate", "MapInPandas", "!Exchange"],
    # r7. CDC chunk dedup: the final plan reads the checkpointed
    # (hash, len) chunk table (ExistingRDD — chunking runs once for
    # its two consumers), joins chunk frequencies by equi-join, and
    # never sees a nested loop or the chunk text.
    "text_cdc_chunk_dedup": [
        "ExistingRDD",
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!BroadcastNestedLoopJoin",
        "HashAggregate",
    ],
    # r7. Banded no-equi-key range join: candidates must come from the
    # band-bucket equi-join, never the naive theta nested loop the
    # oracle uses — that asymmetry is the gate's entire point.
    "join_range_banded": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
        "Generate",
        "HashAggregate",
    ],
    # r8. Incremental dedup: batch shingles meet the corpus index in
    # an equi-join — never a nested loop over doc pairs — and the
    # final per-batch-doc pick is a window, not a re-join.
    "text_dedup_incremental": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
        "HashAggregate",
        "Window",
    ],
    # r8. Hard-negative mining: the bounded anchor slice must ride a
    # broadcast (nested-loop is the INTENDED physical form for the
    # label-inequality theta join — broadcast-query x streamed-corpus,
    # the sim_topk_neighbors shape), the per-anchor top-k must push
    # into the window.
    "sim_hard_negative_mining": [
        "BroadcastNestedLoopJoin",
        "WindowGroupLimit",
    ],
    # r8. As-of with tolerance: stays the merge-pass single-scan form —
    # one events scan, a window, NO join of any kind.
    "join_asof_tolerance": [
        "=1:events.parquet",
        "Window",
        "!SortMergeJoin",
        "!BroadcastHashJoin",
        "!BroadcastNestedLoopJoin",
    ],
    # r8. HLL mergeability: three aggregates over one column set join
    # back on the tiny event_type key (broadcast), no nested loop.
    "agg_hll_sketch": [
        "HashAggregate",
        "ObjectHashAggregate",
        "BroadcastHashJoin",
    ],
    # r8. RAG pipeline: corpus stats ride the checkpointed table
    # (ExistingRDD), query terms/df/stats broadcast into the scoring
    # join, rank + pack are windows; no cartesian anywhere.
    "text_rag_context_pack": [
        "ExistingRDD",
        "BroadcastHashJoin",
        "Window",
        "!CartesianProduct",
    ],
    # r8. Split-leakage x simhash: the banded candidate join must stay
    # an equi-join; the three 1-row audit frames may cross-join (the
    # sanctioned broadcast-1-row-state shape) but doc-level rows never
    # meet in a nested loop (pinning the SIGNATURE join, not the
    # 1-row frames, is what the equi-join assertion checks).
    "text_split_leakage_simhash": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "HashAggregate",
        "Window",
    ],
    # r8 late additions. BPE roundtrip: vocab joins broadcast (the
    # bounded side), reassembly is a hash aggregate; the trained vocab
    # is checkpointed (ExistingRDD) per the loop-invariant rule.
    "text_bpe_roundtrip": [
        "BroadcastHashJoin",
        "HashAggregate",
        "ExistingRDD",
    ],
    # Sliding HLL: the day x trailing-day expansion must be the
    # broadcast range join over the bounded calendar, never a shuffle
    # of raw events per window; sketches are ObjectHashAggregate.
    "agg_hll_sliding": [
        "ObjectHashAggregate",
        "BroadcastNestedLoopJoin",
        "HashAggregate",
    ],
    # Quality-budget mix: pure projection + per-language windows — a
    # single documents scan, no join of any kind.
    "text_quality_budget_mix": [
        "=1:documents.parquet",
        "Window",
        "!SortMergeJoin",
        "!BroadcastHashJoin",
    ],
    # Linear attribution: per-user time-range join (equi on user +
    # range residual), windowed credit ranks, anti-join for (none);
    # never a cartesian.
    "evt_attribution_linear": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!CartesianProduct",
        "Window",
        "HashAggregate",
    ],
    # r9. Sliced jaccard twin: the md5-slot slice must NOT change the
    # physical shape — still the shingle inverted-index equi-join
    # (slice membership arrives via a semi-join), never a nested loop.
    "text_near_dedup_jaccard_sliced": [
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!CartesianProduct",
        "!BroadcastNestedLoopJoin",
        "HashAggregate",
    ],
    # r9. Sliced LSS clusters: converged labeling stays a hash-agg
    # over the checkpointed star edges, same as the full-corpus pin.
    "text_dedup_clusters_lss_sliced": ["HashAggregate", "ExistingRDD"],
    # r9. Interleaved multimodal packer: ONE pass — the item kernel is
    # a narrow Arrow stage (containers die in-task), packing is the
    # sharded window, the bin rollup is the only aggregate; no join of
    # any kind anywhere.
    "mm_interleaved_pack": [
        "MapInPandas",
        "Window",
        "HashAggregate",
        "!SortMergeJoin",
        "!BroadcastHashJoin",
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
    ],
    # r9. Persisted-index probe: the serving plan must read BOTH
    # parquet index artifacts (codebook + code table) rather than the
    # training lineage, prune cells via an equi-join on cluster — and
    # because the code table is written partitionBy(cluster), that
    # join must inject DYNAMIC PARTITION PRUNING into the reloaded
    # scan (a probe reads only its NPROBE/CELLS directories) — then
    # rank by window; no cartesian.
    "sim_ivf_pq_persist": [
        "ivfpq_codebook",
        "ivfpq_codes",
        "dynamicpruning",
        "PartitionFilters",
        "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
        "!CartesianProduct",
        "Window",
    ],
    # r9-s2. Recursive CTE: the iterative closure must run as Spark's
    # UnionLoop operator (level-at-a-time distributed recursion), not
    # an unrolled union or a driver loop; final rollup is a hash agg.
    "sql_recursive_cte": ["UnionLoop", "UnionLoopRef", "HashAggregate"],
    # r9-s2. SQL UDFs are inlined at analysis time — the load-bearing
    # property is that the TVF's filter STILL reaches the parquet scan
    # as a pushed predicate and the scalar body fuses into codegen
    # (no serialization boundary, unlike any Python UDF).
    "sql_udf": [
        "EqualTo(l_returnflag,R)",
        "PushedFilters",
        "HashAggregate",
        "!ArrowEvalPython",
        "!BatchEvalPython",
    ],
    # r9-s2. Expectation suite: per-table rules ride single-pass hash
    # aggregates; the FK check is the only join and must be the
    # broadcast anti form at gate scale; nothing quadratic.
    "dq_expectations": [
        "BroadcastHashJoin LeftAnti",
        "HashAggregate",
        "!CartesianProduct",
        "!SortMergeJoin",
    ],
    # r9-s2. Z-order layout: the 1-row bounds aggregate broadcasts
    # back onto the scan (BNLJ with a 1-row build side is the correct
    # shape, not a scale risk); Morton coding is pure projection work;
    # one 64-group rollup.
    "etl_zorder_layout": [
        "BroadcastNestedLoopJoin",
        "BroadcastExchange",
        "HashAggregate",
    ],
    # r9-s2. ANSI LISTAGG: the ordered string aggregate must still get
    # MAP-SIDE PARTIAL aggregation (ObjectHashAggregate partial+final
    # pair) — the reason LISTAGG beats collect_list+render at scale —
    # over a broadcast dim join.
    "agg_listagg": ["ObjectHashAggregate", "BroadcastHashJoin"],
    # r9-s2. TV drift monitor: 1-row bounds broadcast (BNLJ), binned
    # conditional counts as partial+final hash agg, a per-type window
    # over <=10 rows, no equi-join anywhere (nothing to mis-plan).
    "dq_drift_tv": [
        "BroadcastNestedLoopJoin",
        "Window",
        "HashAggregate",
        "!SortMergeJoin",
        "!CartesianProduct",
    ],
    # r9-s2. Seasonal anomaly: the <=types*24-row profile must
    # BROADCAST back onto the value scan (equi-keys -> BHJ), flag
    # counting is exact DECIMAL(38,0) expression work inside the final
    # hash agg; a sort-merge join here would shuffle the fact twice.
    "evt_seasonal_anomaly": [
        "BroadcastHashJoin",
        "HashAggregate",
        "!SortMergeJoin",
        "!CartesianProduct",
    ],
    # r9-s2. Frequent-items sketch: partial+final ObjectHashAggregate
    # (the mergeable fixed-size state that makes the sketch the 100 TB
    # form), exact audit joined by broadcast.
    "agg_approx_top_k": ["ObjectHashAggregate", "BroadcastHashJoin"],
    # r9-s2. Collated grouping: collation-aware keys take Spark's
    # SORT-based aggregate path (collated strings aren't hash-agg
    # keys) — pinning SortAggregate documents that deliberate engine
    # behavior so a future planner change is a visible diff, not a
    # silent one.
    "fn_collation": ["SortAggregate", "!CartesianProduct"],
    # r11. Paragraph-keyed dedup: the keeper election must be the
    # content-keyed window (inverted-index move — identical paragraphs
    # colocate in ONE hash shuffle), never an all-pairs join; the
    # global InferFiltersFromGenerate pin covers its explode too.
    "text_substring_dedup_paragraph": [
        "Window",
        "HashAggregate",
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
    ],
    # r11. ANN recall curve: the 640-row codebook and the 6-row nprobe
    # sweep must both broadcast (BHJ for the pos-keyed centroid join;
    # the exact-baseline query×corpus cross join is the DECLARED
    # ground-truth cost, so BNLJ is expected and not banned here).
    "sim_ann_recall_curve": ["BroadcastHashJoin", "HashAggregate"],
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# The r10 InferFiltersFromGenerate clone (33x on the substring base, 2x
# on shingles): per-element access into a re-inlined tokenization, the
# signature of an inferred/pushed filter (or collapsed projection) that
# re-evaluates split()/filter(split()) inside every element_at.
_CLONE_NEEDLES = ("element_at(split(", "element_at(filter(split")

_TREE_LINE = re.compile(r"^[\s:+|*-]*?([A-Za-z][A-Za-z0-9 ._]*?)\s*\((\d+)\)\s*$")


def _parse_tree(plan: str) -> list[tuple[int, str, int]]:
    """(depth, opname, id) for each tree line of a formatted plan. Depth
    is the column where the operator name starts: the tree is drawn with
    ':-'/'+-' branches, so it grows with nesting."""
    out = []
    for line in plan.splitlines():
        if line.startswith("=="):
            continue
        if not line.strip():
            break  # a blank line ends the tree section
        m = _TREE_LINE.match(line)
        if m:
            out.append((len(line) - len(line.lstrip(" :+|-*")), m.group(1), int(m.group(2))))
    return out


def _detail_block(plan: str, node_id: int) -> str:
    """The '(n) OpName ...' detail section for one node id."""
    m = re.search(rf"^\({node_id}\) .*?(?=^\(\d+\) |\Z)", plan, re.M | re.S)
    return m.group(0) if m else ""


def _unpushed_filter(plan: str) -> bool:
    """A Filter directly above a parquet scan of more than one column
    whose PushedFilters is empty (ColumnarToRow/InputAdapter between
    them are transparent): the predicate never reached the reader."""
    tree = _parse_tree(plan)
    for i, (depth, name, nid) in enumerate(tree):
        if not name.startswith("Scan parquet"):
            continue
        detail = _detail_block(plan, nid)
        schema = re.search(r"ReadSchema: struct<([^\n]*)", detail)
        if "PushedFilters: []" not in detail or not schema or schema.group(1).count(":") <= 1:
            continue
        # The nearest earlier line that is shallower is the parent.
        for d2, n2, _ in reversed(tree[:i]):
            if d2 >= depth:
                continue
            depth = d2
            if not n2.startswith(("ColumnarToRow", "InputAdapter")):
                if n2.startswith("Filter"):
                    return True
                break
    return False


def holds(prop: str, txt: str) -> bool:
    """One SNAPSHOT property against a plan's text. "A|B" = any of them
    appears (any equi-join strategy is fine, as long as it isn't a
    nested loop); "!X" = X must NOT appear (e.g. no Exchange in a pure
    projection); "=N:X" = X appears EXACTLY N times (e.g. exactly one
    lineitem scan in the one-scan Q21); otherwise X appears."""
    if prop.startswith("!"):
        return prop[1:] not in txt
    if prop.startswith("=") and ":" in prop:
        n, _, needle = prop[1:].partition(":")
        return txt.count(needle) == int(n)
    return any(alt in txt for alt in prop.split("|"))


def check(name: str, txt: str) -> list[str]:
    """Failures of gate ``name``'s formatted plan ``txt``: its SNAPSHOT
    properties, then the rules every gate keeps: no clone needle, no
    CartesianProduct, no filter left above an unpushed multi-column
    scan. Empty = the plan passes."""
    fails = [f"`{p}`" for p in SNAPSHOT.get(name, ()) if not holds(p, txt)]
    fails += [f"clone `{n}`" for n in _CLONE_NEEDLES if n in txt]
    if "CartesianProduct" in txt:
        fails.append("CartesianProduct")
    if _unpushed_filter(txt):
        fails.append("NOPUSHDOWN: filter above a scan with empty PushedFilters")
    return fails


def gate_plan(spark, name: str, sf_dir: str) -> tuple[str, list[str]]:
    """Build registered gate ``name`` and return (plan text, check()
    failures); a builder or explain error is the one failure."""
    from big_data_flight_spark.registry import _REGISTRY

    try:
        txt = plan_text(_REGISTRY[name].builder(spark, sf_dir))
    except Exception as exc:  # noqa: BLE001 — reported as the gate's failure
        return "", [f"build error: {type(exc).__name__}: {str(exc)[:300]}"]
    return txt, check(name, txt)


# Numbers a plan's text takes from the session rather than from the
# query: expression ids (``l_orderkey#1234L``), ``plan_id=``, RDD ids,
# the per-process scratch directory (``.tmp/s<pid>``) and the suffix of
# each lambda variable (``lambda x_27``), drawn from a process-wide
# counter, so a lambda added to one gate renames those of every gate
# planned after it.
_SESSION_NUMBERS = (
    r"(#)(\d+)",
    r"(plan_id=)(\d+)",
    r"(RDD\[)(\d+)",
    r"(\.tmp/s)(\d+)",
    r"(lambda \w+_)(\d+)\b",
)


def stable_text(txt: str) -> str:
    """``txt`` with the checkout path replaced by ``<repo>`` and each
    session-assigned number renumbered 1, 2, ... in order of first
    appearance, so that PLANS.md diffs only where a plan changed and
    reads the same from any checkout. Property checks read the raw
    text."""
    txt = txt.replace(REPO, "<repo>")
    for pattern in _SESSION_NUMBERS:
        ids: dict[str, int] = {}
        txt = re.sub(
            pattern, lambda m: f"{m.group(1)}{ids.setdefault(m.group(2), len(ids) + 1)}", txt
        )
    return txt


def main() -> int:
    from big_data_flight_spark.registry import _load_all_operator_modules
    from big_data_flight_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    _load_all_operator_modules()
    spark = get_session("plans", cores=8)
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    cores = spark.sparkContext.defaultParallelism

    out = [
        "# PLANS — physical-plan snapshots (regenerate: "
        "`python -m big_data_flight_spark.plans.snapshot`)",
        "",
        f"Captured at {sf_dir}. Session, read back: "
        f"spark.sql.shuffle.partitions={shuffle} (the width of each "
        f"hashpartitioning Spark sizes; `io.fan_out` exchanges take the {cores} "
        f"cores), spark.sql.adaptive.enabled={aqe} (plans show the pre-AQE "
        "physical strategy; AQE may further convert joins / coalesce "
        "partitions at runtime). Review the diff of this file "
        "whenever an operator changes; tests/test_plans.py runs the same "
        "checks live on every gate.",
        "",
    ]
    failures = []
    for name, props in SNAPSHOT.items():
        txt, fails = gate_plan(spark, name, sf_dir)
        failures += [(name, f) for f in fails]
        out.append(f"## {name}")
        if props:
            marks = [f"{'✅' if holds(p, txt) else '❌'} `{p}`" for p in props]
            out.append("Required plan properties: " + ", ".join(marks))
        out += ["", "```", stable_text(txt).strip(), "```", ""]

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SNAPSHOT)} plans)")
    for name, f in failures:
        print(f"PLAN CHECK FAILED: {name}: {f}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
