"""Vector-similarity operators over ``embeddings`` — SURVEY.md §2.11.

Embedding column is array<float> (64-dim). Parity rule for every
arithmetic path: cast float32 elements to double FIRST, then fold —
both engines then do identical IEEE float64 math over the identical
element order. Cross-vector reductions (centroid sums, dot products
computed via groupBy) go through exact decimals because groupBy
summation order is nondeterministic.

Scale story (the part that matters at 100 TB):
  - brute-force cosine is quadratic → every pairwise op here either
    has an inverted-index/blocking structure or a documented LSH
    variant (sim_ann_lsh);
  - top-k per query is rank-per-group — linear scans, no global sort;
  - centroids are a posexplode + groupBy — one shuffle keyed by
    (label, pos), 640 output rows regardless of input size.
"""

from __future__ import annotations

# Module-level: ``from __future__ import annotations`` stringifies the
# pandas_udf type hints (``pd.Series``), and PySpark resolves them in
# the *defining module's* globals — a function-local import leaves them
# unresolvable (UNSUPPORTED_SIGNATURE at plan-build time).
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_flight_spark.io import fan_out, table
from big_data_flight_spark.registry import gate_query

DIM = 64  # fixed embedding dimensionality (FIXTURES.md, verified)


def _widen(col):
    """float[] -> double[], element by element (the widening is exact):
    the module's one whole-vector cast. Cosine sides (``_vectors``) and
    the quantize / Matryoshka / PQ inputs widen here, once per vector,
    before any arithmetic."""
    return F.transform(col, lambda x: x.cast("double"))


def _vectors(frame: DataFrame, side: str, *keep, emb: str = "embedding") -> DataFrame:
    """The per-vector half of the one exact-cosine kernel: ``keep``
    plus ``emb`` widened once (``{side}_v``) and its L2 norm folded
    once (``{side}_n``, left to right, then sqrt). A pair then pays
    one dot product (``_cos``), not 128 casts and two more norm folds."""
    v = f"{side}_v"
    widened = frame.select(*keep, _widen(F.col(emb)).alias(v))
    return widened.withColumn(
        f"{side}_n", F.sqrt(F.aggregate(F.col(v), F.lit(0.0), lambda acc, x: acc + x * x))
    )


def _cos(a: str, b: str):
    """The per-pair half: ``dot(a_v, b_v) / (a_n * b_n)`` over two
    ``_vectors`` sides. The dot is the same in-order IEEE fold as the
    oracles' ``_DUCK_DOT``/``_duck_norm`` (sqrt and divide are
    correctly rounded), so the raw doubles are bit-identical across
    engines; a reassociated copy in one gate would break only that
    gate's parity, hence one definition.

    Why this family ranks on the ROUNDED cosine (against CLAUDE.md's
    general never-round-a-rank-key rule, which comes from the q2/ln
    lesson): the pipeline is transcendental-free, so the only
    cross-engine hazard either way is an exact 1e-6 rounding boundary
    (measure-zero, and driver-validated across six fixture generations
    since r3). Rank-on-raw would trade that for reordering today's
    rounding-collapsed ties; for ln-tainted keys (tfidf/bm25) the
    rounded form is the strictly safer one, since raw values there can
    differ by 1 ulp."""
    prods = F.zip_with(F.col(f"{a}_v"), F.col(f"{b}_v"), lambda x, y: x * y)
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    return dot / (F.col(f"{a}_n") * F.col(f"{b}_n"))


def _cos_pairs(e: DataFrame, a: str, b: str, threshold: float) -> DataFrame:
    """All pairs ``a < b`` of ``e``'s vectors with cosine >= threshold,
    as ``(a, b, cos)``. Both predicates sit in the join condition, the
    cheap id test first: a withColumn+filter form lets Catalyst push
    the cosine test ahead of it, so the fold runs on all |V|^2 ordered
    combinations instead of the |V|^2/2 candidates (And short-circuits
    left to right). The left side streams (``fan_out``)."""
    left = fan_out(_vectors(e, "a", F.col("vec_id").alias(a)), a)
    right = _vectors(e, "b", F.col("vec_id").alias(b))
    cos = _cos("a", "b")
    return left.join(right, (F.col(a) < F.col(b)) & (cos >= threshold)).select(
        a, b, cos.alias("cos")
    )


def _cos_top_k(
    q: DataFrame, c: DataFrame, on, tie: str, k: int | None, part: str = "query_id"
) -> DataFrame:
    """The query x corpus ranker: broadcast ``q`` (a ``_vectors`` side
    "q") against the streamed corpus ``c`` (side "c", widened by
    ``fan_out`` on ``tie``), joined on ``on``; ``cos_sim`` is
    ROUND(cos, 6) and ``rn`` its row_number per ``part`` with the
    ``tie`` id breaking ties, kept to the top ``k`` (``k=None``: the
    scored pairs, unranked). The vector columns are dropped."""
    keep = [x for x in q.columns + c.columns if x not in ("q_v", "q_n", "c_v", "c_n")]
    scored = F.broadcast(q).join(fan_out(c, tie), on).select(
        *keep, F.round(_cos("q", "c"), 6).alias("cos_sim")
    )
    if k is None:
        return scored
    w = Window.partitionBy(part).orderBy(F.col("cos_sim").desc(), F.col(tie))
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).filter(F.col("rn") <= k)


def _ordered_sum(col):
    """Order-canonical float64 SUM across group rows: collect -> sort ->
    left fold (the _ordered_mean construction without the division).
    The safe form for summing float PRODUCTS — decimal-quantizing them
    (e.g. DECIMAL(38,12)) diverges when a product lands on a decimal
    rounding boundary: Spark casts HALF_UP, DuckDB HALF_EVEN (observed
    at scale 12; r6 review retired the last such use)."""
    vals = F.sort_array(F.collect_list(col))
    return F.aggregate(vals, F.lit(0.0), lambda acc, x: acc + x)


def _ordered_mean(col):
    """Order-canonical float64 mean across group rows: collect → sort →
    left fold. Both engines then add the same doubles in the same
    order — bit-identical, no decimal quantization involved."""
    vals = F.sort_array(F.collect_list(col.cast("double")))
    return F.aggregate(vals, F.lit(0.0), lambda acc, x: acc + x) / F.size(vals)


# DuckDB twins of the folds above: list comprehension over 1..64 keeps
# the same element order; list_sum folds in order.
_DUCK_DOT = (
    "list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
    f"for i in range(1, {DIM + 1})])"
)


def _duck_norm(alias: str) -> str:
    return (
        f"sqrt(list_sum([CAST({alias}.embedding[i] AS DOUBLE) * "
        f"CAST({alias}.embedding[i] AS DOUBLE) for i in range(1, {DIM + 1})]))"
    )


@gate_query(
    "sim_cosine_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 1000 AND b.vec_id < 1000
      AND {_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}) >= 0.3
    """,
    tags=("similarity",),
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine similarity ≥ 0.3 (brute force over a bounded
    id slice). Norms are precomputed per vector before the pair join
    so each pair costs one dot product, not three folds.

    This exact quadratic form is the correctness baseline; the scale
    path is sim_ann_lsh (LSH-blocked candidates, then this same exact
    scoring on candidates only)."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    return _cos_pairs(e, "vec_a", "vec_b", 0.3).select(
        "vec_a", "vec_b", F.round("cos", 6).alias("cos_sim")
    )


@gate_query(
    "sim_topk_neighbors",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 10
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rn FROM scored
    ) WHERE rn <= 5
    """,
    tags=("similarity",),
)
def sim_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN (k=5) for 10 query vectors: broadcast the queries
    against the full corpus, score, rank per query. Ranking happens on
    the ROUNDED score so rank ties resolve identically on both engines
    (tie-break: neighbor_id). This query-side-broadcast shape is
    exactly how batch k-NN scales: the corpus streams, queries ride
    along."""
    e = table(spark, sf_dir, "embeddings")
    q = _vectors(e.filter(F.col("vec_id") < 10), "q", F.col("vec_id").alias("query_id"))
    c = _vectors(e, "c", F.col("vec_id").alias("neighbor_id"))
    return _cos_top_k(
        q, c, F.col("neighbor_id") != F.col("query_id"), "neighbor_id", 5
    ).select("query_id", "neighbor_id", "cos_sim", "rn")


@gate_query(
    "sim_label_centroids",
    oracle=f"""
    SELECT label, i - 1 AS pos,
           list_sum(list_sort(list(CAST(embedding[i] AS DOUBLE)))) / COUNT(*) AS centroid
    FROM embeddings CROSS JOIN range(1, {DIM + 1}) t(i)
    GROUP BY label, i
    """,
    tags=("similarity",),
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids: posexplode the vectors, average each
    position (exact decimal sum / count — groupBy order-independent).
    Output is |labels|×DIM rows however large the input: the classic
    mergeable-aggregate shape."""
    e = table(spark, sf_dir, "embeddings")
    pos = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    # Order-canonical float64 mean: collect → sort → ordered fold.
    # (A decimal-quantized sum is NOT safe for float data: a value can
    # land exactly on a decimal rounding boundary and the engines'
    # HALF_UP vs HALF_EVEN then diverge — observed at scale 12.)
    # Group sizes here are |vectors-per-label|; at 100 TB swap for a
    # two-level mean (per-partition sorted partials, then a sorted
    # final fold) — same determinism argument, bounded memory.
    return pos.groupBy("label", F.col("pos").cast("long").alias("pos")).agg(_ordered_mean(F.col("val")).alias("centroid"))


@gate_query(
    "sim_centroid_assign",
    oracle=f"""
    WITH cent AS (
      SELECT label AS c_label, i AS pos,
             list_sum(list_sort(list(CAST(embedding[i] AS DOUBLE)))) / COUNT(*) AS cv
      FROM embeddings CROSS JOIN range(1, {DIM + 1}) t(i)
      GROUP BY label, i
    ),
    vec AS (
      SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS vv
      FROM embeddings CROSS JOIN range(1, {DIM + 1}) t(i)
      WHERE vec_id < 200
    ),
    dots AS (
      SELECT vec_id, label, c_label,
             list_sum(list_sort(list(vv * cv))) AS dot,
             list_sum(list_sort(list(vv * vv))) AS v_sq,
             list_sum(list_sort(list(cv * cv))) AS c_sq
      FROM vec JOIN cent USING (pos)
      GROUP BY vec_id, label, c_label
    )
    SELECT vec_id, label AS true_label, c_label AS assigned_label,
           floor(cos_sim * 1000000 + 0.5) / 1000000 AS cos_sim
    FROM (
      SELECT vec_id, label, c_label, dot / sqrt(v_sq * c_sq) AS cos_sim,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY dot / sqrt(v_sq * c_sq) DESC, c_label
             ) AS rn
      FROM dots
    ) WHERE rn = 1
    """,
    tags=("similarity",),
)
def sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each vector (id slice) to its nearest label centroid by
    cosine — the clustering-assignment step. Computed relationally:
    posexplode → join on position → exact-decimal dot products →
    rank. One shuffle keyed by (vec, label); the 640-row centroid
    table broadcasts."""
    e = table(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy(F.col("label").alias("c_label"), "pos")
        .agg(_ordered_mean(F.col("val")).alias("cv"))
    )
    vec = (
        e.filter(F.col("vec_id") < 200)
        .select("vec_id", "label", F.posexplode("embedding").alias("pos", "val"))
        .select("vec_id", "label", "pos", F.col("val").cast("double").alias("vv"))
    )
    dots = (
        vec.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            # sorted folds, NOT decimal-quantized sums: float products
            # on a decimal rounding boundary cast HALF_UP in Spark but
            # HALF_EVEN in DuckDB (the hazard the centroid gate above
            # documents; r6 review).
            _ordered_sum(F.col("vv") * F.col("cv")).alias("dot"),
            _ordered_sum(F.col("vv") * F.col("vv")).alias("v_sq"),
            _ordered_sum(F.col("cv") * F.col("cv")).alias("c_sq"),
        )
    )
    cos = F.col("dot") / F.sqrt(F.col("v_sq") * F.col("c_sq"))
    w = Window.partitionBy("vec_id").orderBy(cos.desc(), F.col("c_label"))
    return (
        dots.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("c_label").alias("assigned_label"),
            (F.floor(cos * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000)).alias(
                "cos_sim"
            ),
        )
    )


@gate_query(
    "sim_ann_lsh",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS recall_ok,
           TRUE AS candidates_bounded
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 500 AND b.vec_id < 500
      AND {_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}) >= 0.3
    """,
    tags=("similarity", "approx"),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-projection LSH
    (pyspark.ml BucketedRandomProjectionLSH): bucket vectors, join
    only within buckets — the 100 TB path that replaces the quadratic
    exact join.

    STRONG oracle via the deterministic-audit pattern: the candidate
    set is LSH-specific (DuckDB can't reproduce the seeded
    projections), so the output exposes only the exact ≥0.3-cosine
    pair count (DuckDB-recomputable) plus two booleans — recall ≥ 0.9
    against that truth set (measured 0.977 at sf0.01 AND sf0.1; the
    seeded projections are data-deterministic, so the boolean is
    stable) and candidates ≤ 3% of the pair space (measured ~0.9%).
    A broken bucketing flips either boolean and fails the value-hash."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 500)
        .select("vec_id", array_to_vector(F.col("embedding")).alias("features"))
    )
    # Tuning (probed on the fixture): every cos>=0.3 pair sits at
    # Euclidean distance <= 1.184 while the 1st percentile of ALL pairs
    # is 1.19 — so threshold 1.19 admits ~1% of the pair space as
    # candidates instead of the 93% a loose threshold would.
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.6, numHashTables=4, seed=42
    )
    model = lsh.fit(e)
    cand = (
        model.approxSimilarityJoin(e, e, threshold=1.19, distCol="dist")
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .distinct()
    )
    # exact ≥0.3 pairs on the same slice, for recall accounting
    truth = _cos_pairs(
        table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500), "vec_a", "vec_b", 0.3
    ).select("vec_a", "vec_b")
    # Single-pass audit: full-outer join the two pair sets and reduce
    # once — each side is evaluated exactly once (the previous three
    # separate .count() calls recomputed both DAGs twice).
    t = truth.withColumn("is_truth", F.lit(1))
    c = cand.withColumn("is_cand", F.lit(1))
    j = t.join(c, ["vec_a", "vec_b"], "full_outer")
    agg = j.agg(
        F.sum(F.coalesce("is_cand", F.lit(0))).cast("long").alias("n_lsh_candidates"),
        F.sum(F.coalesce("is_truth", F.lit(0))).cast("long").alias("n_true_pairs"),
        F.sum(
            F.when(F.col("is_truth").isNotNull() & F.col("is_cand").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_recalled"),
    )
    # Pair space of the vec_id<500 slice; the 3% candidate bound is a
    # ~3× margin over the measured ~0.9% admission rate.
    pair_space = 500 * 499 / 2
    return agg.select(
        "n_true_pairs",
        (
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_recalled") / F.col("n_true_pairs") >= 0.9,
            ).otherwise(F.lit(True))
        ).alias("recall_ok"),
        (F.col("n_lsh_candidates") <= F.lit(0.03 * pair_space)).alias("candidates_bounded"),
    )


@gate_query(
    "text_near_dedup_cosine",
    oracle=f"""
    SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b, d1.lang AS lang_a, d2.lang AS lang_b,
           ROUND({_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}), 6) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    JOIN documents d1 ON d1.doc_id = a.vec_id
    JOIN documents d2 ON d2.doc_id = b.vec_id
    WHERE {_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}) >= 0.35
    """,
    tags=("similarity", "dedup"),
)
def text_near_dedup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over the DOCUMENT corpus (docs joined
    1:1 to their embeddings): semantic near-duplicates that n-gram
    methods miss (paraphrases). Completes the dedup family: exact hash
    → n-gram Jaccard → SimHash → MinHash-LSH → embedding cosine.
    Scale path: swap the bounded pair join for sim_ann_lsh / sim_ann_ivf
    candidates, keep this exact scoring on candidates."""
    pairs = _cos_pairs(table(spark, sf_dir, "embeddings"), "doc_a", "doc_b", 0.35)
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"))
    return (
        pairs.join(F.broadcast(da), "doc_a")
        .join(F.broadcast(db), "doc_b")
        .select("doc_a", "doc_b", "lang_a", "lang_b", F.round("cos", 6).alias("cos_sim"))
    )


_IVF_NPROBE = 5  # cells probed of the 10 label cells


@gate_query(
    "sim_ann_ivf",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 10
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rn FROM scored
      ) WHERE rn <= 5
    )
    SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_exact_results,
           TRUE AS ivf_covers_all_queries,
           TRUE AS recall_ok
    FROM topk
    """,
    tags=("similarity", "approx"),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into cells (the label
    centroids serve as the codebook — at 100 TB the codebook comes
    from k-means on a sample), probe only the query's nprobe=5 nearest
    cells, score exactly within them. Search cost drops from O(n) per
    query to O(n × nprobe / n_cells).

    STRONG oracle via the deterministic-audit pattern: cell pruning is
    approximation DuckDB can't reproduce, so the output exposes the
    exact-side counts (n_queries, n_exact_results — both recomputable
    from the exact top-5 SQL) plus booleans: IVF returned results for
    every query, and IVF recall ≥ the nprobe/n_cells coverage floor
    (the fixture's labels are random partitions, not geometric
    clusters, so probing 5 of 10 cells bounds recall near 0.5; the
    whole pipeline is deterministic — centroids are data-derived,
    ranking ties break on rounded cosine + id — so the booleans are
    stable). A wrong cell assignment or ranking flips them."""
    e = table(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy(F.col("label").alias("cell"), "pos")
        .agg(_ordered_mean(F.col("val")).alias("cv"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select("cell", F.transform("pc", lambda s: s["cv"]).alias("centroid"))
    )

    q = _vectors(e.filter(F.col("vec_id") < 10), "q", F.col("vec_id").alias("query_id"))
    # query -> top-_IVF_NPROBE cells by centroid cosine (the docstring's
    # recall-floor derivation — 'probing 5 of 10 cells bounds recall
    # near 0.5' — is tied to this constant; r6 review named it).
    probe = _cos_top_k(
        q, _vectors(cent, "c", "cell", emb="centroid"), None, "cell", _IVF_NPROBE
    ).select("query_id", F.col("cell").alias("q_cell"))
    # search only within probed cells
    ivf_top = _cos_top_k(
        q.join(probe, "query_id"),
        _vectors(e, "c", F.col("vec_id").alias("neighbor_id"), F.col("label").alias("cell")),
        (F.col("q_cell") == F.col("cell")) & (F.col("neighbor_id") != F.col("query_id")),
        "neighbor_id",
        5,
    ).select("query_id", "neighbor_id")
    exact_top = sim_topk_neighbors(spark, sf_dir).select("query_id", "neighbor_id")
    # One-pass audit: full-outer join the IVF and exact result sets and
    # reduce once — each DAG evaluates exactly once.
    iv = ivf_top.withColumn("is_ivf", F.lit(1))
    ex = exact_top.withColumn("is_exact", F.lit(1))
    agg = iv.join(ex, ["query_id", "neighbor_id"], "full_outer").agg(
        F.countDistinct(
            F.when(F.col("is_exact").isNotNull(), F.col("query_id"))
        ).alias("n_queries"),
        F.countDistinct(
            F.when(F.col("is_ivf").isNotNull(), F.col("query_id"))
        ).alias("n_ivf_queries"),
        F.sum(F.coalesce("is_exact", F.lit(0))).cast("long").alias("n_exact_results"),
        F.sum(
            F.when(F.col("is_ivf").isNotNull() & F.col("is_exact").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_recalled"),
    )
    return agg.select(
        "n_queries",
        "n_exact_results",
        (F.col("n_ivf_queries") == F.col("n_queries")).alias("ivf_covers_all_queries"),
        (
            F.when(
                F.col("n_exact_results") > 0,
                F.col("n_recalled") / F.col("n_exact_results") >= 0.4,
            ).otherwise(F.lit(True))
        ).alias("recall_ok"),
    )


@gate_query(
    "multimodal_join",
    oracle=f"""
    SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
           ROUND({_duck_norm('e')}, 6) AS vec_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.lang IN ('en', 'de') AND d.n_chars > 250 AND e.label < 5
    """,
    tags=("similarity", "multimodal"),
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame: text corpus ⋈ vector store (doc_id = vec_id),
    filtered by a text predicate AND a vector predicate together —
    the join that makes a training-data pipeline 'multimodal'."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    keep = ("doc_id", "lang", "source", "n_chars", "label")
    both = d.join(e, d.doc_id == e.vec_id).filter(
        F.col("lang").isin("en", "de") & (F.col("n_chars") > 250) & (F.col("label") < 5)
    )
    return _vectors(both, "e", *keep).select(*keep, F.round("e_n", 6).alias("vec_norm"))


@gate_query(
    "sim_knn_classify",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, a.label AS true_label,
             b.vec_id AS neighbor_id, b.label AS n_label,
             ROUND({_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 100
    ),
    top5 AS (
      SELECT query_id, true_label, n_label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, true_label, n_label, COUNT(*) AS v
      FROM top5 GROUP BY query_id, true_label, n_label
    )
    SELECT query_id,
           CAST(true_label AS BIGINT) AS true_label,
           CAST(n_label AS BIGINT) AS predicted_label,
           CAST(v AS BIGINT) AS votes,
           n_label = true_label AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY v DESC, n_label) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
    tags=("similarity",),
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification (k=5 majority vote) for 100 probe
    vectors — the eval-style workload over an embedding store. Ranks
    on the ROUNDED cosine with neighbor_id tie-break, then votes with
    (count desc, label asc) tie-break, so prediction is total-ordered
    on both engines. Probes broadcast, corpus streams (the batch k-NN
    scale shape); the per-probe vote table is 5 rows."""
    e = table(spark, sf_dir, "embeddings")
    q = _vectors(
        e.filter(F.col("vec_id") < 100), "q",
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"),
    )
    c = _vectors(e, "c", F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    top5 = _cos_top_k(q, c, F.col("neighbor_id") != F.col("query_id"), "neighbor_id", 5)
    votes = top5.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    wv = Window.partitionBy("query_id").orderBy(F.col("v").desc(), F.col("n_label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("n_label").cast("long").alias("predicted_label"),
            F.col("v").cast("long").alias("votes"),
            (F.col("n_label") == F.col("true_label")).alias("correct"),
        )
    )


@gate_query(
    "sim_rerank_pandas",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 10
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rn FROM scored
    ) WHERE rn <= 5
    """,
    tags=("similarity", "udf"),
)
def sim_rerank_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 rerank scored by an Arrow-batched pandas UDF — the
    vectorized rerank kernel the ANN gates (sim_ann_lsh / sim_ann_ivf)
    hand their candidate pairs to. Same contract and oracle as
    sim_topk_neighbors; only the execution path differs: candidate
    pairs stream to Python in Arrow batches and each batch is scored
    with numpy column ops instead of per-element JVM folds. At high
    dim this is the production path — numpy's vectorized multiply-add
    over a (batch x dim) block amortizes per-row overhead, where the
    F.aggregate fold builds dim Catalyst expression nodes per pair.

    Parity is fold-order-exact, not approximate: the kernel
    accumulates dim-by-dim in a left-to-right loop (acc += a[j]*b[j]),
    the same float64 operation order as F.aggregate and DuckDB
    list_sum, so the scores are bit-identical to the JVM twin —
    asserted in tests/test_udfs.py::test_rerank_pandas_matches_jvm_fold."""

    @F.pandas_udf("double")
    def _cos_batch(qa: pd.Series, cb: pd.Series) -> pd.Series:
        import numpy as np

        if len(qa) == 0:
            return pd.Series([], dtype="float64")
        a = np.vstack(qa.to_numpy()).astype(np.float64)  # (n, dim) float32 -> exact
        b = np.vstack(cb.to_numpy()).astype(np.float64)
        dot = np.zeros(len(qa))
        na = np.zeros(len(qa))
        nb = np.zeros(len(qa))
        for j in range(a.shape[1]):  # left fold over dims == F.aggregate order
            dot += a[:, j] * b[:, j]
            na += a[:, j] * a[:, j]
            nb += b[:, j] * b[:, j]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("emb_q")
    )
    c = fan_out(
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("emb_c")),
        "neighbor_id",
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cos_batch(F.col("emb_q"), F.col("emb_c")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rn").cast("long").alias("rn"))
    )


@gate_query(
    "sim_quantize_int8",
    oracle=f"""
    WITH scaled AS (
      SELECT vec_id, label,
             list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings
    ),
    quantized AS (
      SELECT e.vec_id, s.scale,
             list_transform(e.embedding, x ->
               CASE WHEN s.scale = 0 THEN 0 ELSE
                 CAST(greatest(-127, least(127,
                   floor(CAST(x AS DOUBLE) / s.scale + 0.5))) AS INT)
               END) AS qarr
      FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
    )
    SELECT vec_id,
           floor(scale * 1e6 + 0.5) / 1e6 AS scale,
           array_to_string(qarr, ',') AS q,
           CAST(list_sum(list_transform(qarr, v -> abs(v))) AS BIGINT) AS l1_q
    FROM quantized
    """,
    tags=("similarity", "quantize"),
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/ANN-speed
    step of an embedding pipeline (absmax scaling: scale = max|x|/127,
    q = clamp(round(x/scale))). Rounding is written as floor(v + 0.5)
    in BOTH engines — explicit, mode-free, bit-identical — because
    Spark's round() (HALF_UP) and DuckDB's (half-away) disagree on
    negative .5 boundaries (registry rule: floor/round explicitly);
    the displayed scale uses the same floor(x*1e6+0.5)/1e6 form rather
    than ROUND (engines' ROUND disagree near 1e-6 half-boundaries).
    Float32 elements cast to double BEFORE any arithmetic (registry
    float32 rule). An all-zero vector has scale = 0 — both engines
    emit q = 0 for every element instead of dividing by zero (Spark
    x/0.0 -> NULL vs DuckDB -> NaN would otherwise diverge). The q
    array is string-rendered (agg_collect convention, aggregates.py)
    so the driver's pandas sort_values canonicalization sees a scalar;
    l1_q keeps a numeric checksum. Pure per-row projection: zero
    shuffle, scan-speed. Dequantization error <= scale/2 per element."""
    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", _widen(F.col("embedding")).alias("v"))
    scale = F.array_max(F.transform("v", F.abs)) / F.lit(127.0)
    q_elem = lambda x: F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(  # noqa: E731
        F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / F.col("scale") + 0.5)),
        ).cast("int")
    )
    quant = F.transform("v", q_elem)
    return (
        v.withColumn("scale", scale)
        .select(
            "vec_id",
            (F.floor(F.col("scale") * 1e6 + 0.5) / 1e6).alias("scale_r"),
            quant.alias("qarr"),
        )
        .select(
            "vec_id",
            F.col("scale_r").alias("scale"),
            F.array_join(F.col("qarr").cast("array<string>"), ",").alias("q"),
            F.aggregate(
                F.transform(F.col("qarr"), lambda v: F.abs(v).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("l1_q"),
        )
    )


@gate_query(
    "sim_matryoshka_truncate",
    oracle="""
    WITH d AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS norm_full,
             e[1:8] AS sub
      FROM d
    ),
    m AS (
      SELECT vec_id, norm_full, sub,
             sqrt(list_sum(list_transform(sub, x -> x * x))) AS norm_sub
      FROM n
    ),
    r AS (
      SELECT vec_id, norm_full, norm_sub,
             CASE WHEN norm_sub = 0
                  THEN list_transform(sub, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(sub, x ->
                    CAST(floor(x / norm_sub * 1e6 + 0.5) AS BIGINT))
             END AS qm
      FROM m
    )
    SELECT vec_id,
           floor(norm_full * 1e6 + 0.5) / 1e6 AS norm_full,
           floor(CASE WHEN norm_full = 0 THEN 0.0
                      ELSE norm_sub / norm_full END * 1e6 + 0.5) / 1e6
             AS energy_8,
           array_to_string(qm, ',') AS q8,
           CAST(list_sum(list_transform(qm, v -> abs(v))) AS BIGINT) AS l1_q8
    FROM r
    """,
    tags=("similarity", "quantize"),
)
def sim_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation: keep the first 8 of 64 embedding
    dims and re-normalize — the storage/latency knob used when a model
    was trained with nested (MRL) representations. Outputs the
    retained-energy ratio ||e[:8]|| / ||e|| (how much of the vector's
    norm the prefix carries) and the re-normalized prefix.

    Parity discipline: float32 elements cast to double BEFORE any
    arithmetic; norms via an ordered left fold (F.aggregate == DuckDB
    list_sum, both in list order) and IEEE sqrt, so the doubles agree
    bit-for-bit; the re-normalized prefix is emitted as INTEGER
    micro-units (floor(v*1e6 + 0.5), Spark floor(double) is already
    LONG) then string-joined — integers render identically across
    engines, sidestepping double->string formatting divergence (the
    agg_collect convention, kept numeric in the l1_q8 checksum);
    zero-norm vectors short-circuit to all-zero output in both
    engines (NULL-vs-NaN division guard, same as sim_quantize_int8).
    Pure per-row projection: zero shuffle, scan-speed, trivially
    embarrassingly parallel at 100 TB."""
    e = table(spark, sf_dir, "embeddings")
    d = _vectors(e, "e", "vec_id").select(
        "vec_id", F.col("e_n").alias("norm_full"), F.slice(F.col("e_v"), 1, 8).alias("sub")
    )
    d = d.withColumn(
        "norm_sub", F.sqrt(F.aggregate(F.col("sub"), F.lit(0.0), lambda a, x: a + x * x))
    )
    qm = F.when(
        F.col("norm_sub") == 0.0,
        F.transform(F.col("sub"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            F.col("sub"),
            lambda x: F.floor(x / F.col("norm_sub") * 1e6 + 0.5),
        )
    )
    energy = F.when(F.col("norm_full") == 0.0, F.lit(0.0)).otherwise(
        F.col("norm_sub") / F.col("norm_full")
    )
    return d.select(
        "vec_id",
        (F.floor(F.col("norm_full") * 1e6 + 0.5) / 1e6).alias("norm_full"),
        (F.floor(energy * 1e6 + 0.5) / 1e6).alias("energy_8"),
        F.array_join(qm.cast("array<string>"), ",").alias("q8"),
        F.aggregate(
            F.transform(qm, lambda v: F.abs(v)),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        ).alias("l1_q8"),
    )


# The 1-bit sign signature, ONE definition for both its consumers
# (sim_hamming_topk and sim_rrf_fusion's Hamming ranker; r6 review:
# byte-identical copies risked drifting independently). Two 32-bit
# halves packed into BIGINTs — the split avoids the engine-specific
# sign-bit-63 shift edge entirely.
_SIG_SQL = """
      SELECT vec_id,
        CAST(list_sum(list_transform(range(1, 33), i ->
          CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 THEN 2 ** (i - 1) ELSE 0 END))
          AS BIGINT) AS sig_lo,
        CAST(list_sum(list_transform(range(33, 65), i ->
          CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 THEN 2 ** (i - 33) ELSE 0 END))
          AS BIGINT) AS sig_hi
      FROM embeddings
"""


def _sig_expr(lo: int):
    """Spark twin of _SIG_SQL for one 32-bit half starting at dim lo."""
    terms = [
        F.when(
            F.col("embedding")[i].cast("double") > 0,
            F.lit(1 << (i - lo)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(lo, lo + 32)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


@gate_query(
    "sim_hamming_topk",
    oracle=f"""
    WITH sig AS MATERIALIZED ({_SIG_SQL})
    SELECT query_id, neighbor_id, hamming, rn FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.sig_lo, c.sig_lo))
                + bit_count(xor(q.sig_hi, c.sig_hi)) AS BIGINT) AS hamming,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY bit_count(xor(q.sig_lo, c.sig_lo))
                      + bit_count(xor(q.sig_hi, c.sig_hi)), c.vec_id
             ) AS BIGINT) AS rn
      FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 8
    ) WHERE rn <= 5
    """,
    tags=("similarity", "quantize"),
)
def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit sign) quantization + Hamming-distance retrieval —
    the most aggressive point on the embedding-compression curve after
    sim_quantize_int8: 64 float32 dims collapse to 8 BYTES per vector
    (two 32-bit halves packed into BIGINTs; the split avoids the
    engine-specific sign-bit-63 shift edge entirely). Retrieval is
    integer-only — bit_count(xor(sig_a, sig_b)) — so the oracle is
    exact with zero float-parity risk, and ties on the small 0..64
    Hamming range are broken by neighbor_id (total order, registry
    rule). Scale posture mirrors sim_topk_neighbors: the 8 query
    signatures are broadcast, the corpus side streams (widened by
    io.fan_out); at 100 TB the corpus scan reads
    8 bytes/vector instead of 256 — a 32x scan-bandwidth win — and
    the usual pipeline re-ranks the Hamming candidates with exact
    cosine (sim_rerank_pandas is that stage here)."""
    e = table(spark, sf_dir, "embeddings")

    sigs = e.select(
        "vec_id", _sig_expr(0).alias("sig_lo"), _sig_expr(32).alias("sig_hi")
    )
    q = sigs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    c = fan_out(
        sigs.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("sig_lo").alias("c_lo"),
            F.col("sig_hi").alias("c_hi"),
        ),
        "neighbor_id",
    )
    ham = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
    ).cast("long")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", ham.alias("hamming"))
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "hamming", "rn")
    )


# --- Product quantization (r5 s6) ------------------------------------

PQ_M = 8            # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 16           # centroids per subspace -> a code fits 4 bits
PQ_NQ = 5           # probe queries


@gate_query(
    "sim_pq_adc",
    oracle=f"""
    WITH cb AS (
      SELECT m, vec_id AS code,
             [CAST(embedding[m * {PQ_SUB} + j] AS DOUBLE)
              for j in range(1, {PQ_SUB + 1})] AS c_sub
      FROM embeddings CROSS JOIN range(0, {PQ_M}) t(m)
      WHERE vec_id < {PQ_K}
    ),
    vs AS (
      SELECT vec_id, m,
             [CAST(embedding[m * {PQ_SUB} + j] AS DOUBLE)
              for j in range(1, {PQ_SUB + 1})] AS v_sub
      FROM embeddings CROSS JOIN range(0, {PQ_M}) t(m)
    ),
    dists AS (
      SELECT vec_id, m, code, c_sub,
             list_sum([(v_sub[j] - c_sub[j]) * (v_sub[j] - c_sub[j])
                       for j in range(1, {PQ_SUB + 1})]) AS d2
      FROM vs JOIN cb USING (m)
    ),
    asg AS (
      SELECT vec_id, m, code, c_sub FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, m ORDER BY d2, code) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    rec AS (
      SELECT vec_id,
             flatten(list(c_sub ORDER BY m)) AS recon,
             string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS codes
      FROM asg GROUP BY vec_id
    ),
    adc_tbl AS (
      SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id, r.codes,
             list_sum([(CAST(q.embedding[i] AS DOUBLE) - r.recon[i])
                       * (CAST(q.embedding[i] AS DOUBLE) - r.recon[i])
                       for i in range(1, {DIM + 1})]) AS adc
      FROM embeddings q JOIN rec r ON r.vec_id <> q.vec_id
      WHERE q.vec_id < {PQ_NQ}
    )
    SELECT query_id, neighbor_id, codes,
           floor(adc * 1000000 + 0.5) / 1000000 AS adc_d6,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
      FROM adc_tbl
    ) WHERE rn <= 5
    """,
    tags=("similarity",),
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + ADC retrieval — the canonical modern ANN
    compression path (Jégou et al., public), completing the family
    next to LSH (bucketing), IVF (cell probe), Hamming (1-bit) and
    int8 (scalar quantization). The 64-dim vector splits into
    PQ_M=8 subspaces of 8 dims; each subvector is assigned to the
    nearest of PQ_K=16 per-subspace centroids (codebook-from-sample:
    the first 16 vec_ids, the same documented convention as IVF's
    kmeans seeds), so a vector compresses 256 bytes -> 8 nibbles (64x).
    Query scoring is asymmetric distance (ADC): exact query vs the
    blockwise reconstruction — algebraically identical to the textbook
    per-subspace lookup-table sum for L2, expressed here as one
    64-term fold so Spark's F.aggregate and DuckDB's list_sum walk
    identical element orders (bit-identical doubles, strong oracle —
    no weak/audit fallback needed: PQ is deterministic end to end).

    Parity: float32 cast to double BEFORE arithmetic; argmin via
    min-of-ordering-struct (d2, code, c_sub) = total-order tie-break
    on code; rank on the RAW adc double, display copy rounded
    floor(x*1e6+0.5)/1e6 in both engines; codes string-rendered as
    integers (array/map outputs are banned by the driver canon).

    Scale: the codebook is K*M tiny rows -> broadcast; encoding is ONE
    streamed pass with a partial-aggregatable min-of-struct (no window
    shuffle over the corpus); the 4-byte codes — not the 256-byte
    vectors — are what the retrieval scan reads (the 64x scan-
    bandwidth cut is the whole point at 100 TB); queries broadcast
    against the streamed code table. At cluster scale the per-query
    M*K LUT replaces the reconstruction join verbatim (same algebra,
    measured identical results here)."""
    e = table(spark, sf_dir, "embeddings")
    emb_dbl = _widen(F.col("embedding"))
    sub = F.expr(f"slice(v, m * {PQ_SUB} + 1, {PQ_SUB})")
    cb = (
        e.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("code"), emb_dbl.alias("v"))
        .select("code", "v", F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"))
        .select("m", "code", sub.alias("c_sub"))
    )
    vs = (
        fan_out(e.select("vec_id", emb_dbl.alias("v")), "vec_id")
        .select("vec_id", "v", F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"))
        .select("vec_id", "m", sub.alias("v_sub"))
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v_sub"), F.col("c_sub"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rec = (
        vs.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "code", "c_sub", d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code", "c_sub")).alias("best"))
        .groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "m",
                        F.col("best.code").alias("code"),
                        F.col("best.c_sub").alias("c_sub"),
                    )
                )
            ).alias("pc")
        )
        .select(
            "vec_id",
            F.flatten(F.transform("pc", lambda s: s["c_sub"])).alias("recon"),
            F.array_join(
                F.transform("pc", lambda s: s["code"].cast("string")), "-"
            ).alias("codes"),
        )
    )
    q = e.filter(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("query_id"), emb_dbl.alias("q_emb")
    )
    adc = F.aggregate(
        F.zip_with(F.col("q_emb"), F.col("recon"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(rec.withColumnRenamed("vec_id", "neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "codes", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "codes",
            (F.floor(F.col("adc") * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias("adc_d6"),
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# sim_kmeans_lloyd — bit-exact distributed k-means over the embeddings
# ---------------------------------------------------------------------------

_KM_K = 8        # clusters (seeded from vec_id 0..K-1 — deterministic init)
_KM_ROUNDS = 3   # Lloyd iterations; oracle unrolls from the same constant
_KM_DIMS = 64    # fixture embedding width


def _lloyd_ctes(k: int, rounds: int, dims: int = _KM_DIMS) -> list[str]:
    """The unrolled Lloyd CTE chain shared by every oracle that needs
    bit-exact k-means centroids (sim_kmeans_lloyd, sim_ivf_pq,
    sim_semdedup_clustered) — generated from the same Python constants
    as the Spark loops so oracle and builder cannot drift. Produces
    CTEs ``q`` (micro-quantized vectors), ``c0``..``c{rounds}``
    (centroid tables) and ``a1``..``a{rounds}`` (assignments); round t
    assigns every vector to its nearest c{t-1} centroid under the
    exact BIGINT squared distance with a (dist, cluster) total order,
    then recomputes centroids as floor(sum/count) — one identical
    IEEE double division per (cluster, dim) on identical BIGINT
    inputs. Empty clusters keep their previous centroid via the
    LEFT JOIN + COALESCE, mirroring the Spark side exactly."""
    rng = f"(SELECT unnest(range(1, {dims + 1})) AS i)"
    sq = f"[(v.q[i] - c.c[i]) * (v.q[i] - c.c[i]) for i in range(1, {dims + 1})]"
    ctes = [
        f"""q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS q
      FROM embeddings)""",
        f"c0 AS MATERIALIZED (SELECT vec_id AS cluster, q AS c FROM q WHERE vec_id < {k})",
    ]
    for t in range(1, rounds + 1):
        ctes.append(f"""
    a{t} AS MATERIALIZED (
      SELECT vec_id, q, cluster FROM (
        SELECT v.vec_id, v.q, c.cluster,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY CAST(list_sum({sq}) AS BIGINT), c.cluster) AS rn
        FROM q v CROSS JOIN c{t - 1} c
      ) WHERE rn = 1
    )""")
        ctes.append(f"""
    u{t} AS (
      SELECT cluster, i AS dim,
             CAST(floor(CAST(CAST(SUM(q[i]) AS BIGINT) AS DOUBLE) / COUNT(*))
               AS BIGINT) AS cv
      FROM a{t} CROSS JOIN {rng}
      GROUP BY cluster, i
    )""")
        ctes.append(f"""
    c{t} AS MATERIALIZED (
      SELECT p.cluster, list(COALESCE(u.cv, p.pv) ORDER BY p.dim) AS c
      FROM (SELECT cluster, i AS dim, c[i] AS pv
            FROM c{t - 1} CROSS JOIN {rng}) p
      LEFT JOIN u{t} u ON u.cluster = p.cluster AND u.dim = p.dim
      GROUP BY p.cluster
    )""")
    return ctes


def _kmeans_oracle(k: int = _KM_K, rounds: int = _KM_ROUNDS, dims: int = _KM_DIMS) -> str:
    """See _lloyd_ctes: the sim_kmeans_lloyd oracle is the shared
    Lloyd chain plus the membership-stats readout."""
    ctes = _lloyd_ctes(k, rounds, dims)
    return f"""
    WITH {','.join(ctes)},
    stats AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(vec_id) AS BIGINT) AS id_sum
      FROM a{rounds} GROUP BY cluster)
    SELECT c.cluster,
           COALESCE(s.n_members, 0) AS n_members,
           COALESCE(s.id_sum, 0) AS id_sum,
           array_to_string(c.c, ',') AS centroid_str,
           CAST(list_sum(list_transform(c.c, v -> abs(v))) AS BIGINT)
             AS centroid_l1
    FROM c{rounds} c LEFT JOIN stats s USING (cluster)
    """


# Nearest centroid over the broadcast 1-row centroid array as a PURE
# PROJECTION: squared distance is an exact BIGINT fold, argmin is
# array_min over (dist, cluster) structs — lexicographic, so the tie
# falls to the smaller cluster id exactly like the oracle's
# ORDER BY dist, cluster.
_KM_ASSIGN = """
array_min(transform(cents, ct -> struct(
  aggregate(zip_with(q, ct.c, (a, b) -> (a - b) * (a - b)),
            CAST(0 AS BIGINT), (s, v) -> s + v) AS dist,
  ct.cluster AS cluster))).cluster AS cluster
"""


def _lloyd(
    spark: SparkSession, sf_dir: str, k: int, rounds: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The Spark half of the shared Lloyd machinery (oracle twin:
    _lloyd_ctes). Returns (q, cent, assign): the micro-quantized
    loop-invariant input (checkpointed once), the final centroid
    table c{rounds} (k rows, checkpointed per round per the
    iterative-lineage rule), and the final-round assignment a{rounds}
    (computed against c{rounds-1}, exactly like the oracle's a{t}
    chain). Assignment is the zero-shuffle broadcast-argmin
    projection _KM_ASSIGN; the only shuffle per round is the
    posexplode centroid update, partial-aggregated map-side."""
    e = table(spark, sf_dir, "embeddings")
    q = fan_out(
        e.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long"),
            ).alias("q"),
        ),
        "vec_id",
    ).localCheckpoint()  # loop-invariant input, materialized once
    cent = q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster"), F.col("q").alias("c")
    ).localCheckpoint()
    assign = None
    for _ in range(rounds):
        cents_row = cent.agg(F.collect_list(F.struct("cluster", "c")).alias("cents"))
        assign = q.crossJoin(F.broadcast(cents_row)).selectExpr(
            "vec_id", "q", _KM_ASSIGN
        )
        longf = assign.select("cluster", F.posexplode("q").alias("dim", "v"))
        sums = longf.groupBy("cluster", "dim").agg(
            F.sum("v").cast("long").alias("s"), F.count(F.lit(1)).alias("n")
        )
        newc = sums.select(
            "cluster",
            "dim",
            F.floor(F.col("s").cast("double") / F.col("n")).cast("long").alias("cv"),
        )
        prev_long = cent.select("cluster", F.posexplode("c").alias("dim", "pv"))
        upd = prev_long.join(newc, ["cluster", "dim"], "left").select(
            "cluster", "dim", F.coalesce("cv", "pv").alias("cv")
        )
        cent = (
            upd.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                    lambda s: s["cv"],
                ).alias("c")
            )
            .localCheckpoint()  # K rows; truncates the per-round lineage
        )
    return q, cent, assign


@gate_query(
    "sim_kmeans_lloyd",
    oracle=_kmeans_oracle(),
    tags=("similarity", "iterative"),
)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding corpus — the
    canonical corpus-clustering op (topic bucketing, dedup blocking,
    IVF codebook training) made BIT-EXACT cross-engine: embeddings
    quantize to integer micro-units first (float32 → double → floor
    micro, the CLAUDE.md array rule), so squared distances are exact
    BIGINTs (≤ 64·(1.2e6)² ≈ 9e13 < 2^53), the argmin total-orders on
    (dist, cluster), and each centroid update is floor(sum/count) —
    one identical IEEE double division per (cluster, dim) on identical
    integer inputs (the pagerank parity construction). Deterministic
    seeding from vec_id < K; empty clusters carry their previous
    centroid through a LEFT JOIN on both engines.

    Scale posture: assignment is a ZERO-SHUFFLE projection — the K
    centroids ride a broadcast 1-row array and each vector argmins
    locally (the MLlib shape: no K-fold crossJoin fan-out, no
    groupBy(vec_id) carrying vectors). The only shuffle per round is
    the centroid update, whose partial aggregate reduces map-side to
    K×dims rows per partition. Loop lineage: the quantized input is
    localCheckpoint-ed ONCE before the loop, each round's K-row
    centroid table after (the iterative-lineage rule). Output stays
    flat: centroids string-rendered in micro-units + L1 checksum
    (driver canon: never emit an array column)."""
    q, cent, assign = _lloyd(spark, sf_dir, _KM_K, _KM_ROUNDS)
    stats = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("vec_id").cast("long").alias("id_sum"),
    )
    return (
        cent.join(stats, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_members", F.lit(0).cast("long")).alias("n_members"),
            F.coalesce("id_sum", F.lit(0).cast("long")).alias("id_sum"),
            F.array_join(F.col("c").cast("array<string>"), ",").alias("centroid_str"),
            F.aggregate(
                F.transform("c", lambda v: F.abs(v)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("centroid_l1"),
        )
    )


# ---------------------------------------------------------------------------
# sim_ivf_pq — the composed IVF-PQ ANN stack, all-integer and bit-exact
# ---------------------------------------------------------------------------

_IVFPQ_CELLS = 8    # coarse cells (k-means codebook, shared Lloyd machinery)
_IVFPQ_ROUNDS = 2   # Lloyd rounds for the coarse quantizer
_IVFPQ_NPROBE = 3   # cells probed per query
_IVFPQ_NQ = 10      # probe queries (vec_id < NQ, the IVF convention)


def _ivfpq_oracle() -> str:
    """IVF-PQ oracle: the shared Lloyd chain trains the coarse
    codebook, then everything downstream — cell assignment, PQ
    encoding, probe ranking, ADC scoring — is re-derived in SQL from
    the same Python constants. All arithmetic is BIGINT on micro-unit
    integers (d2 <= 64*(2.4e6)^2 ~ 3.7e14 < 2^53 and far below int64),
    so the oracle is STRONG end to end: unlike the standalone LSH/IVF
    gates there is no audit fallback anywhere in this stack."""
    k, rounds, nprobe, nq = _IVFPQ_CELLS, _IVFPQ_ROUNDS, _IVFPQ_NPROBE, _IVFPQ_NQ
    sub, m_, pk = PQ_SUB, PQ_M, PQ_K
    ctes = _lloyd_ctes(k, rounds)
    sq = f"[(v.q[i] - c.c[i]) * (v.q[i] - c.c[i]) for i in range(1, {_KM_DIMS + 1})]"
    return f"""
    WITH {','.join(ctes)},
    cells AS MATERIALIZED (
      SELECT vec_id, q, cluster FROM (
        SELECT v.vec_id, v.q, c.cluster,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY CAST(list_sum({sq}) AS BIGINT), c.cluster) AS rn
        FROM q v CROSS JOIN c{rounds} c
      ) WHERE rn = 1
    ),
    cb AS (
      SELECT m, vec_id AS code,
             [q[m * {sub} + j] for j in range(1, {sub + 1})] AS c_sub
      FROM q CROSS JOIN range(0, {m_}) t(m)
      WHERE vec_id < {pk}
    ),
    vs AS (
      SELECT vec_id, m,
             [q[m * {sub} + j] for j in range(1, {sub + 1})] AS v_sub
      FROM q CROSS JOIN range(0, {m_}) t(m)
    ),
    enc AS (
      SELECT vec_id, m, code, c_sub FROM (
        SELECT vs.vec_id, vs.m, cb.code, cb.c_sub,
               row_number() OVER (
                 PARTITION BY vs.vec_id, vs.m
                 ORDER BY CAST(list_sum(
                   [(v_sub[j] - c_sub[j]) * (v_sub[j] - c_sub[j])
                    for j in range(1, {sub + 1})]) AS BIGINT), cb.code) AS rn
        FROM vs JOIN cb USING (m)
      ) WHERE rn = 1
    ),
    rec AS MATERIALIZED (
      SELECT vec_id,
             flatten(list(c_sub ORDER BY m)) AS recon,
             string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS codes
      FROM enc GROUP BY vec_id
    ),
    probe AS (
      SELECT query_id, cluster FROM (
        SELECT v.vec_id AS query_id, c.cluster,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY CAST(list_sum({sq}) AS BIGINT), c.cluster) AS rn
        FROM q v CROSS JOIN c{rounds} c
        WHERE v.vec_id < {nq}
      ) WHERE rn <= {nprobe}
    ),
    cand AS (
      SELECT p.query_id, ce.vec_id AS neighbor_id, ce.cluster AS cell,
             r.codes,
             CAST(list_sum([(qq.q[i] - r.recon[i]) * (qq.q[i] - r.recon[i])
                            for i in range(1, {_KM_DIMS + 1})]) AS BIGINT) AS adc
      FROM probe p
      JOIN cells ce ON ce.cluster = p.cluster
      JOIN rec r ON r.vec_id = ce.vec_id
      JOIN q qq ON qq.vec_id = p.query_id
      WHERE ce.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cell, codes, adc, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
      FROM cand
    ) WHERE rn <= 5
    """


@gate_query(
    "sim_ivf_pq",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "iterative"),
)
def sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ retrieval stack (Jégou et al.'s IVFADC —
    the layout FAISS/Milvus/ScaNN-class systems run at billion scale):
    a k-means coarse quantizer partitions the corpus into inverted
    cells; every vector is PQ-compressed (PQ_M=8 subspaces x PQ_K=16
    codes = 4-bit codes, 64x smaller than the raw vector); a query
    ranks the coarse centroids, probes only its NPROBE=3 of 8 cells,
    and scores candidates by asymmetric distance against the PQ
    reconstruction. The standalone sim_ann_ivf and sim_pq_adc gates
    prove each half; this gate proves the COMPOSITION — cell pruning
    feeding ADC scoring — which is the plan a 100 TB deployment
    actually runs.

    Parity: unlike the float standalone gates, the whole stack runs in
    integer micro-units (the sim_kmeans_lloyd construction): the
    coarse codebook is the shared bit-exact Lloyd loop (_lloyd /
    _lloyd_ctes, same Python constants both engines), cell assignment
    and probe ranking total-order on (BIGINT d2, cluster), PQ encoding
    argmins (BIGINT d2, code), and ADC is an exact BIGINT fold — so
    the oracle is STRONG end to end, with no recall-audit fallback
    anywhere. Every output column is BIGINT or string.

    Scale: the coarse codebook (CELLS rows) and PQ codebook (M*K rows)
    broadcast; cell assignment and PQ encoding are each ONE streamed
    pass over the corpus (argmin = partial-aggregatable min-of-struct,
    no corpus window); the probe->candidate join is an equi-join on
    cell id that prunes the corpus NPROBE/CELLS before any distance
    math; ADC reads the 4-byte codes, not the 256-byte vectors — the
    64x scan-bandwidth cut is the point. At cluster scale the per-
    query M*K lookup table replaces the reconstruction fold verbatim
    (same algebra; sim_pq_adc documents the measured equivalence).

    Index build + probe live in the shared _ivfpq_index / _ivfpq_probe
    helpers; sim_ivf_pq_persist round-trips the index through parquet
    between the two and must match this gate bit-for-bit."""
    q, cent, rec = _ivfpq_index(spark, sf_dir)
    return _ivfpq_probe(q, cent, rec)


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """Train the coarse codebook (shared bit-exact Lloyd loop) and
    PQ-encode the corpus. Returns (q, cent, rec): the micro-unit
    corpus, the CELLS-row coarse codebook (cluster, c), and the
    per-vector index payload rec = (neighbor_id, cluster,
    recon array<long>, codes string) — everything a serving probe
    needs, and everything sim_ivf_pq_persist writes to parquet."""
    q, cent, _ = _lloyd(spark, sf_dir, _IVFPQ_CELLS, _IVFPQ_ROUNDS)
    cents_row = cent.agg(F.collect_list(F.struct("cluster", "c")).alias("cents"))
    cells = q.crossJoin(F.broadcast(cents_row)).selectExpr(
        "vec_id", "q", _KM_ASSIGN
    )
    sub = F.expr(f"slice(q, m * {PQ_SUB} + 1, {PQ_SUB})")
    cb = (
        q.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("code"), "q")
        .select(
            "code",
            "q",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        )
        .select("m", "code", sub.alias("c_sub"))
    )
    vs = (
        cells.select(
            "vec_id",
            "cluster",
            "q",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        )
        .select("vec_id", "cluster", "m", sub.alias("v_sub"))
    )
    d2_sub = F.aggregate(
        F.zip_with(F.col("v_sub"), F.col("c_sub"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rec = (
        vs.join(F.broadcast(cb), "m")
        .select("vec_id", "cluster", "m", "code", "c_sub", d2_sub.alias("d2"))
        .groupBy("vec_id", "cluster", "m")
        .agg(F.min(F.struct("d2", "code", "c_sub")).alias("best"))
        .groupBy("vec_id", "cluster")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "m",
                        F.col("best.code").alias("code"),
                        F.col("best.c_sub").alias("c_sub"),
                    )
                )
            ).alias("pc")
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "cluster",
            F.flatten(F.transform("pc", lambda s: s["c_sub"])).alias("recon"),
            F.array_join(
                F.transform("pc", lambda s: s["code"].cast("string")), "-"
            ).alias("codes"),
        )
    )
    return q, cent, rec


def _ivfpq_probe(q: DataFrame, cent: DataFrame, rec: DataFrame) -> DataFrame:
    """Serve NQ probe queries against an IVF-PQ index: rank coarse
    centroids, probe NPROBE cells, ADC-score candidates from the PQ
    reconstruction, top-5 per query with total-order tie-break. cent
    and rec may come straight from _ivfpq_index or from a parquet
    reload (sim_ivf_pq_persist) — the math is identical either way."""
    cents_row = cent.agg(F.collect_list(F.struct("cluster", "c")).alias("cents"))
    qs = q.filter(F.col("vec_id") < _IVFPQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    cdist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("ct.c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w_cell = Window.partitionBy("query_id").orderBy("cdist", "cluster")
    probe = (
        qs.crossJoin(F.broadcast(cents_row))
        .select("query_id", "qv", F.explode("cents").alias("ct"))
        .select(
            "query_id", "qv", F.col("ct.cluster").alias("cluster"), cdist.alias("cdist")
        )
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("query_id", "qv", "cluster")
    )
    adc = F.aggregate(
        F.zip_with(F.col("qv"), F.col("recon"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        probe.join(rec, "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("cluster").alias("cell"),
            "codes",
            adc.alias("adc"),
        )
    )
    w_nn = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        cand.withColumn("rn", F.row_number().over(w_nn).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cell", "codes", "adc", "rn")
    )


@gate_query(
    "sim_ivf_pq_persist",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "iterative", "sink"),
)
def sim_ivf_pq_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index PERSISTENCE round-trip (VERDICT r8 #5): a real 100 TB
    retrieval deployment builds the IVF-PQ index once, writes it out,
    and serves probes from the reloaded artifact — this gate proves the
    index survives its own serialization boundary. It trains the same
    coarse codebook and PQ codes as sim_ivf_pq (_ivfpq_index), writes
    BOTH index artifacts to parquet — the codebook (cluster,
    c array<long>) and the code table (neighbor_id, cluster,
    recon array<long>, codes) — reloads them in fresh scans, and probes
    against the RELOADED index. The oracle is sim_ivf_pq's oracle
    verbatim: the integer micro-unit construction makes ADC scores
    exact BIGINTs, so a hash-match proves the persisted index is
    bit-identical to the in-plan one (any array truncation, row loss,
    or type drift in the parquet round-trip shifts a score or a rank).

    Scale: the codebook is CELLS rows and the code table carries 4-bit
    codes + the small recon arrays — the persisted index is ~64x
    smaller than the raw vectors, exactly the artifact a 1000-executor
    serving job broadcasts (codebook) and scans cell-pruned (codes).
    The code table is written PARTITIONED BY cell id, so the probe's
    equi-join on cluster triggers DYNAMIC PARTITION PRUNING on the
    reloaded scan (plan-pinned 'dynamicpruningexpression'): a probe
    physically reads only its NPROBE/CELLS partition directories —
    the on-disk twin of the in-plan cell pruning, and the property
    that makes a 100 TB code table servable."""
    import os

    from big_data_flight_spark.sources.connectors import _TMP

    q, cent, rec = _ivfpq_index(spark, sf_dir)
    cb_path = os.path.join(_TMP, "ivfpq_codebook")
    codes_path = os.path.join(_TMP, "ivfpq_codes")
    cent.write.mode("overwrite").parquet(cb_path)
    rec.write.mode("overwrite").partitionBy("cluster").parquet(codes_path)
    # NOTE: the partition column round-trips through the directory
    # name (hive-style) and is re-inferred as int on read; the probe
    # join casts it back to the original BIGINT — value-preserving for
    # cell ids, and the oracle match proves it.
    return _ivfpq_probe(q, spark.read.parquet(cb_path), spark.read.parquet(codes_path))


# ---------------------------------------------------------------------------
# sim_semdedup_clustered — SemDeDup: cluster-blocked semantic dedup
# ---------------------------------------------------------------------------

_SD_THRESH = 1_300_000_000_000  # micro-unit L2^2 dup threshold: sits just
# above the ~0.1th percentile of the fixture's pairwise distances at BOTH
# sf0.01 (p0.1% = 1.246e12, min 9.74e11) and sf0.1 (p0.1% = 1.249e12, min
# 7.98e11) — measured — so the dup path is non-empty at both scales while
# >99.8% of pairs stay distinct.


def _semdedup_oracle() -> str:
    k, rounds = _IVFPQ_CELLS, _IVFPQ_ROUNDS
    ctes = _lloyd_ctes(k, rounds)
    sq = f"[(v.q[i] - c.c[i]) * (v.q[i] - c.c[i]) for i in range(1, {_KM_DIMS + 1})]"
    pd2 = (
        f"[(a.q[i] - b.q[i]) * (a.q[i] - b.q[i]) "
        f"for i in range(1, {_KM_DIMS + 1})]"
    )
    return f"""
    WITH {','.join(ctes)},
    cells AS MATERIALIZED (
      SELECT vec_id, q, cluster FROM (
        SELECT v.vec_id, v.q, c.cluster,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY CAST(list_sum({sq}) AS BIGINT), c.cluster) AS rn
        FROM q v CROSS JOIN c{rounds} c
      ) WHERE rn = 1
    ),
    pairs AS MATERIALIZED (
      SELECT a.cluster, a.vec_id AS ia, b.vec_id AS ib,
             CAST(list_sum({pd2}) AS BIGINT) AS d2
      FROM cells a JOIN cells b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    dups AS (
      SELECT DISTINCT cluster, ib AS vec_id FROM pairs
      WHERE d2 <= {_SD_THRESH}
    ),
    base AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(vec_id) AS BIGINT) AS id_sum
      FROM cells GROUP BY cluster
    ),
    dd AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_dups,
             CAST(SUM(vec_id) AS BIGINT) AS dup_sum
      FROM dups GROUP BY cluster
    ),
    mp AS (
      SELECT cluster, MIN(d2) AS min_pair_d2 FROM pairs GROUP BY cluster
    )
    SELECT b.cluster, b.n_docs,
           COALESCE(dd.n_dups, 0) AS n_dups,
           b.n_docs - COALESCE(dd.n_dups, 0) AS n_kept,
           b.id_sum - COALESCE(dd.dup_sum, 0) AS kept_id_sum,
           mp.min_pair_d2
    FROM base b
    LEFT JOIN dd USING (cluster)
    LEFT JOIN mp USING (cluster)
    """


@gate_query(
    "sim_semdedup_clustered",
    oracle=_semdedup_oracle(),
    tags=("similarity", "dedup", "iterative"),
)
def sim_semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public): k-means clusters the embedding corpus, then near-
    duplicate pairs are searched ONLY within each cluster — the
    cluster blocking is what bounds the pair space (the brute-force
    twin sim_* near-dup gates compare all pairs; at web scale only
    the blocked form survives, pairs = sum over clusters |c|^2, not
    n^2). A vector is a duplicate if a LOWER-id vector sits within
    the L2^2 threshold in the same cluster (keep-first, the same
    deterministic keep rule as text_exact_dedup); the per-cluster
    readout exposes kept counts, a kept-id checksum, and the cluster's
    minimum pair distance as an audit column (NULL for singleton
    clusters on both engines).

    Parity: clusters come from the shared bit-exact integer Lloyd
    machinery (_lloyd / _lloyd_ctes — same Python constants as
    sim_ivf_pq's coarse quantizer); pair distances are exact BIGINT
    micro-unit folds; the threshold 1.3e12 is measured to make the
    dup path non-empty at both fixture scales (see _SD_THRESH note).
    The paper ranks by cosine-to-centroid; the keep rule here is the
    id order so the gate stays RNG-free and totally ordered.

    Scale: assignment is the zero-shuffle broadcast argmin; the pair
    join is an equi-join on cluster id (never a cross join); at
    100 TB the within-cluster pair space is bounded by re-running
    Lloyd with k ~ n/1000 cells so |c| stays flat — the paper's
    regime — and a hot-cluster cap (the stop-shingle construction in
    text_near_dedup_jaccard_capped) guards the skew tail."""
    q, cent, _ = _lloyd(spark, sf_dir, _IVFPQ_CELLS, _IVFPQ_ROUNDS)
    cents_row = cent.agg(F.collect_list(F.struct("cluster", "c")).alias("cents"))
    cells = q.crossJoin(F.broadcast(cents_row)).selectExpr(
        "vec_id", "q", _KM_ASSIGN
    )
    a = cells.select(
        F.col("cluster"), F.col("vec_id").alias("ia"), F.col("q").alias("qa")
    )
    b = cells.select(
        F.col("cluster"), F.col("vec_id").alias("ib"), F.col("q").alias("qb")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("ia") < F.col("ib"))
        .select("cluster", "ia", "ib", d2.alias("d2"))
    )
    dups = (
        pairs.filter(F.col("d2") <= _SD_THRESH)
        .select("cluster", F.col("ib").alias("vec_id"))
        .distinct()
    )
    base = cells.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("vec_id").cast("long").alias("id_sum"),
    )
    dd = dups.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_dups"),
        F.sum("vec_id").cast("long").alias("dup_sum"),
    )
    mp = pairs.groupBy("cluster").agg(F.min("d2").alias("min_pair_d2"))
    return (
        base.join(dd, "cluster", "left")
        .join(mp, "cluster", "left")
        .select(
            "cluster",
            "n_docs",
            F.coalesce("n_dups", F.lit(0).cast("long")).alias("n_dups"),
            (F.col("n_docs") - F.coalesce("n_dups", F.lit(0).cast("long"))).alias(
                "n_kept"
            ),
            (F.col("id_sum") - F.coalesce("dup_sum", F.lit(0).cast("long"))).alias(
                "kept_id_sum"
            ),
            "min_pair_d2",
        )
    )


# ---------------------------------------------------------------------------
# sim_rrf_fusion — reciprocal-rank fusion of two retrieval rankers (r6)
# ---------------------------------------------------------------------------

_RRF_NQ = 8      # queries (matches sim_hamming_topk's query set)
_RRF_K = 20      # depth of each input ranking
_RRF_C = 60      # the standard RRF constant
_RRF_TOP = 10    # fused results per query


def _rrf_oracle() -> str:
    nq, k, c, top = _RRF_NQ, _RRF_K, _RRF_C, _RRF_TOP
    return f"""
    WITH cosr AS (
      SELECT query_id, neighbor_id, rn AS cos_rank FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND({_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}), 6) DESC,
                          b.vec_id) AS rn
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {nq}
      ) WHERE rn <= {k}
    ),
    sig AS MATERIALIZED ({_SIG_SQL}),
    hamr AS (
      SELECT query_id, neighbor_id, rn AS ham_rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY bit_count(xor(q.sig_lo, c.sig_lo))
                        + bit_count(xor(q.sig_hi, c.sig_hi)), c.vec_id) AS rn
        FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {nq}
      ) WHERE rn <= {k}
    ),
    fused AS (
      SELECT COALESCE(c.query_id, h.query_id) AS query_id,
             COALESCE(c.neighbor_id, h.neighbor_id) AS neighbor_id,
             CAST(c.cos_rank AS BIGINT) AS cos_rank,
             CAST(h.ham_rank AS BIGINT) AS ham_rank,
             CAST(COALESCE(1000000 // ({c} + c.cos_rank), 0)
                + COALESCE(1000000 // ({c} + h.ham_rank), 0) AS BIGINT)
               AS rrf_micro
      FROM cosr c FULL OUTER JOIN hamr h
        ON c.query_id = h.query_id AND c.neighbor_id = h.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_rank, ham_rank, rrf_micro,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_micro DESC, neighbor_id) AS rn
      FROM fused
    ) WHERE rn <= {top}
    """


@gate_query(
    "sim_rrf_fusion",
    oracle=_rrf_oracle(),
    tags=("similarity",),
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., public — the standard
    hybrid-search combiner) of two heterogeneous rankers over the same
    corpus: exact-cosine top-{k} and 1-bit Hamming top-{k} (the
    sign-signature ranker of sim_hamming_topk). RRF(d) = sum over
    rankers of 1/(C + rank(d)), computed here in integer micro-units
    (1e6 // (60 + rank) — exact BIGINT floor division, identical both
    engines), so the FUSED rank key is an integer: no float ever
    ranks. A document found by only one ranker contributes one term
    (the FULL OUTER join + COALESCE 0 — the textbook union-of-lists
    semantics); per-ranker ranks stay visible as nullable audit
    columns. Cosine ranks order on the ROUNDED d6 score with
    neighbor-id tie-break (the sim_topk_neighbors convention, r3
    driver-green); Hamming is integer-only.

    Scale: both input rankings are query-broadcast x corpus-stream
    shapes with WindowGroupLimit top-{k} pushdown; the fusion join is
    a {k}-row-per-query equi-join on (query, neighbor) — at 100 TB
    the rankers are the ANN gates (LSH / IVF-PQ / Hamming) and the
    fusion cost is O(queries x k), independent of corpus size."""
    e = table(spark, sf_dir, "embeddings")

    # --- ranker 1: exact cosine top-k (the sim_topk_neighbors shape)
    cosr = _cos_top_k(
        _vectors(e.filter(F.col("vec_id") < _RRF_NQ), "q", F.col("vec_id").alias("query_id")),
        _vectors(e, "c", F.col("vec_id").alias("neighbor_id")),
        F.col("neighbor_id") != F.col("query_id"),
        "neighbor_id",
        _RRF_K,
    ).select("query_id", "neighbor_id", F.col("rn").alias("cos_rank"))

    # --- ranker 2: 1-bit sign-signature Hamming top-k
    sigs = e.select(
        "vec_id", _sig_expr(0).alias("sig_lo"), _sig_expr(32).alias("sig_hi")
    )
    qs = sigs.filter(F.col("vec_id") < _RRF_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    cs = fan_out(
        sigs.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("sig_lo").alias("c_lo"),
            F.col("sig_hi").alias("c_hi"),
        ),
        "neighbor_id",
    )
    ham = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
    ).cast("long")
    w_ham = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    hamr = (
        F.broadcast(qs)
        .crossJoin(cs)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", ham.alias("hamming"))
        .withColumn("ham_rank", F.row_number().over(w_ham).cast("long"))
        .filter(F.col("ham_rank") <= _RRF_K)
        .select("query_id", "neighbor_id", "ham_rank")
    )

    fused = (
        cosr.join(hamr, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            "cos_rank",
            "ham_rank",
            (
                F.coalesce(
                    F.expr(f"1000000L DIV ({_RRF_C} + cos_rank)"), F.lit(0).cast("long")
                )
                + F.coalesce(
                    F.expr(f"1000000L DIV ({_RRF_C} + ham_rank)"), F.lit(0).cast("long")
                )
            ).alias("rrf_micro"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("neighbor_id")
    )
    return (
        fused.withColumn("rn", F.row_number().over(w_f).cast("long"))
        .filter(F.col("rn") <= _RRF_TOP)
        .select("query_id", "neighbor_id", "cos_rank", "ham_rank", "rrf_micro", "rn")
    )


# ---------------------------------------------------------------------------
# sim_hard_negative_mining — contrastive-training data prep (r8)
# ---------------------------------------------------------------------------

_HNM_N_ANCHORS = 20  # bounded anchor slice (vec_id < 20)
_HNM_K = 5           # hard negatives per anchor


@gate_query(
    "sim_hard_negative_mining",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS anchor_id,
             CAST(a.label AS BIGINT) AS anchor_label,
             b.vec_id AS neg_id,
             CAST(b.label AS BIGINT) AS neg_label,
             ROUND({_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}), 6)
               AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.label <> b.label
      WHERE a.vec_id < {_HNM_N_ANCHORS}
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label, cos_sim, rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY anchor_id ORDER BY cos_sim DESC, neg_id
      ) AS rn FROM scored
    ) WHERE rn <= {_HNM_K}
    """,
    tags=("similarity", "sampling"),
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training (the data-prep
    step behind every embedding-model fine-tune): for each anchor
    vector, the k=5 most-similar vectors with a DIFFERENT label —
    maximally confusing negatives, the ones that actually move a
    contrastive loss. Easy negatives (random different-label picks)
    are a degenerate sample of this ranking; the hard ones are its
    head.

    Shape = batch k-NN with a label-inequality predicate: anchors are
    a bounded broadcast slice, the corpus streams (io.fan_out), the
    per-anchor rank is a WindowGroupLimit. Ranking follows the cosine
    family's rounded-rank convention (the docstring on _cos:
    the cosine pipeline is transcendental-free, so ROUND(cos, 6) with
    a neg_id tie-break is engine-identical); labels ride the scored
    row so the output is directly a (anchor, negative) training-pair
    table.

    Scale: identical to sim_topk_neighbors — queries broadcast,
    corpus streamed, no corpus x corpus pair ever materializes; the
    100 TB escalation replaces the full scan with the ANN candidate
    union (sim_ann_lsh/ivf buckets minus the anchor's own-label cell)
    and re-scores candidates with this same exact expression."""
    e = table(spark, sf_dir, "embeddings")
    a = _vectors(
        e.filter(F.col("vec_id") < _HNM_N_ANCHORS), "q",
        F.col("vec_id").alias("anchor_id"), F.col("label").cast("long").alias("anchor_label"),
    )
    c = _vectors(
        e, "c", F.col("vec_id").alias("neg_id"), F.col("label").cast("long").alias("neg_label")
    )
    return _cos_top_k(
        a, c, F.col("anchor_label") != F.col("neg_label"), "neg_id", _HNM_K, part="anchor_id"
    ).select("anchor_id", "anchor_label", "neg_id", "neg_label", "cos_sim", "rn")


# ---------------------------------------------------------------------------
# sim_ann_recall_curve — ANN recall-vs-exact promoted from an in-row
# boolean audit to a fully-oracled MEASURED curve (r11; VERDICT r10 #4).
# ---------------------------------------------------------------------------

# Operating points: cells probed of the 10 label cells. 10 probes =
# every cell, so that row's ivf ranking is definitionally the exact
# ranking — recall_micro = 1000000 is a built-in sanity anchor.
_RECALL_NPROBES = (1, 2, 3, 5, 8, 10)
_RECALL_NQUERIES = 50  # query slice: vec_id < 50
_RECALL_K = 5  # top-k depth audited

# The oracle is generated from the SAME Python constants as the Spark
# loop below (the pagerank/BPE convention — shared constants mean the
# two sides cannot drift). Every multi-referenced CTE is MATERIALIZED
# (DuckDB inlines CTEs per reference; pagerank_converged lesson).
_RECALL_CURVE_ORACLE = f"""
    WITH cent AS MATERIALIZED (
      SELECT label AS cell, i AS pos,
             list_sum(list_sort(list(CAST(embedding[i] AS DOUBLE)))) / COUNT(*) AS cv
      FROM embeddings CROSS JOIN range(1, {DIM + 1}) t(i)
      GROUP BY label, i
    ),
    vec AS (
      SELECT vec_id AS query_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS vv
      FROM embeddings CROSS JOIN range(1, {DIM + 1}) t(i)
      WHERE vec_id < {_RECALL_NQUERIES}
    ),
    dots AS (
      SELECT query_id, cell,
             list_sum(list_sort(list(vv * cv))) AS dot,
             list_sum(list_sort(list(vv * vv))) AS v_sq,
             list_sum(list_sort(list(cv * cv))) AS c_sq
      FROM vec JOIN cent USING (pos)
      GROUP BY query_id, cell
    ),
    cellrank AS MATERIALIZED (
      SELECT query_id, cell,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY dot / sqrt(v_sq * c_sq) DESC, cell) AS cell_rank
      FROM dots
    ),
    scored AS MATERIALIZED (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS cell,
             ROUND({_DUCK_DOT} / ({_duck_norm('a')} * {_duck_norm('b')}), 6) AS cs
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {_RECALL_NQUERIES}
    ),
    exact AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= {_RECALL_K}
    ),
    np AS (SELECT unnest({list(_RECALL_NPROBES)}) AS nprobe),
    cand AS (
      SELECT np.nprobe, s.query_id, s.neighbor_id, s.cs
      FROM scored s
      JOIN cellrank cr ON s.query_id = cr.query_id AND s.cell = cr.cell
      CROSS JOIN np
      WHERE cr.cell_rank <= np.nprobe
    ),
    ivf_top AS MATERIALIZED (
      SELECT nprobe, query_id, neighbor_id FROM (
        SELECT nprobe, query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY nprobe, query_id
                 ORDER BY cs DESC, neighbor_id) AS rn
        FROM cand
      ) WHERE rn <= {_RECALL_K}
    ),
    exn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_results FROM exact)
    SELECT CAST(i.nprobe AS BIGINT) AS nprobe,
           exn.n_exact_results,
           CAST(COUNT(*) AS BIGINT) AS n_ivf_results,
           CAST(SUM(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_recalled,
           CAST(CASE WHEN exn.n_exact_results > 0 THEN
                  (SUM(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
                   * 1000000) // exn.n_exact_results
                ELSE 0 END AS BIGINT) AS recall_micro
    FROM ivf_top i
    LEFT JOIN exact e
      ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    CROSS JOIN exn
    GROUP BY i.nprobe, exn.n_exact_results
    ORDER BY nprobe
"""


@gate_query(
    "sim_ann_recall_curve",
    oracle=_RECALL_CURVE_ORACLE,
    tags=("similarity", "approx", "audit"),
)
def sim_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall-vs-exact as a MEASURED, fully-oracled time series
    (VERDICT r10 #4: promote the in-row recall audit to a tracked
    value): sweep the IVF pipeline across nprobe operating points and
    emit one row per point — (nprobe, n_exact_results, n_ivf_results,
    n_recalled, recall_micro) — so every round's CORRECTNESS/COMPARE
    artifact records the actual recall curve, and any drift in the
    index's quality shows as a VALUE-hash change, not a boolean flip.

    Division of labor in the ANN audit family: sim_ann_lsh keeps the
    boolean-audit form because MLlib's seeded projections are not
    DuckDB-reproducible; sim_ann_ivf demonstrates the IVF operator at
    its production point (nprobe=5) with a recall-floor boolean; THIS
    gate owns the measured curve, possible precisely because the whole
    IVF pipeline — label cells, ordered-mean centroids (the
    sim_centroid_assign sorted-fold pattern), raw-cosine cell ranking
    with cell tie-break, round(cos,6)+id result ranking (the
    sim_topk_neighbors pair) — is deterministic IEEE arithmetic both
    engines replicate exactly. nprobe=10 probes every cell, so its
    recall_micro = 1000000 row is a built-in sanity anchor; the
    fixture's labels are random partitions (sim_ann_ivf docstring), so
    intermediate points sit near nprobe/10 — the honest measurement,
    recorded rather than asserted.

    Scale shape: the audit necessarily pays the exact baseline (that
    IS the ground truth), so cost is the 50-query exact scan the
    sim_topk_neighbors family already bounds; the centroid table (640
    rows) broadcasts, the nprobe sweep is a 6-row broadcast cross
    join, and all windows key on (nprobe, query) — no all-pairs
    anything beyond the declared exact baseline. Integer outputs only
    (counts + micro-units); the one division is DIV with a lazy CASE
    guard (CLAUDE.md invariant 1)."""
    e = table(spark, sf_dir, "embeddings")

    # Codebook: label cells, ordered-mean centroids (exact parity path).
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy(F.col("label").alias("cell"), "pos")
        .agg(_ordered_mean(F.col("val")).alias("cv"))
    )
    # Query -> cell ranking via the sorted-fold groupBy (the
    # sim_centroid_assign pattern — proven bit-identical to the
    # oracle's list_sum(list_sort(list(...)))).
    vec = (
        e.filter(F.col("vec_id") < _RECALL_NQUERIES)
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select(
            F.col("vec_id").alias("query_id"),
            "pos",
            F.col("val").cast("double").alias("vv"),
        )
    )
    dots = vec.join(F.broadcast(cent), "pos").groupBy("query_id", "cell").agg(
        _ordered_sum(F.col("vv") * F.col("cv")).alias("dot"),
        _ordered_sum(F.col("vv") * F.col("vv")).alias("v_sq"),
        _ordered_sum(F.col("cv") * F.col("cv")).alias("c_sq"),
    )
    c_sim = F.col("dot") / F.sqrt(F.col("v_sq") * F.col("c_sq"))
    w_cell = Window.partitionBy("query_id").orderBy(c_sim.desc(), F.col("cell"))
    cellrank = dots.withColumn("cell_rank", F.row_number().over(w_cell)).select(
        "query_id", "cell", "cell_rank"
    )

    # Exact scoring over the full corpus — the audit's ground truth
    # (round(cos,6)+id ranking: the sim_topk_neighbors proven pair).
    q = _vectors(
        e.filter(F.col("vec_id") < _RECALL_NQUERIES), "q", F.col("vec_id").alias("query_id")
    )
    c = _vectors(e, "c", F.col("vec_id").alias("neighbor_id"), F.col("label").alias("cell"))
    # scored feeds TWO divergent subtrees (exact top-k and the nprobe
    # candidate sweep) whose exchanges differ, so ReuseExchange can't
    # dedupe — without this the declared exact-baseline cosine scan
    # runs twice per build (r11 review). Same move as the oracle's
    # MATERIALIZED scored CTE.
    scored = _cos_top_k(
        q, c, F.col("neighbor_id") != F.col("query_id"), "neighbor_id", None
    ).localCheckpoint()
    w_q = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    exact = (
        scored.withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= _RECALL_K)
        .select("query_id", "neighbor_id")
    )

    npdf = spark.createDataFrame(
        [(n,) for n in _RECALL_NPROBES], ["nprobe"]
    )
    cand = (
        scored.join(cellrank, ["query_id", "cell"])
        .crossJoin(F.broadcast(npdf))
        .filter(F.col("cell_rank") <= F.col("nprobe"))
    )
    w_qn = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    ivf_top = (
        cand.withColumn("rn", F.row_number().over(w_qn))
        .filter(F.col("rn") <= _RECALL_K)
        .select("nprobe", "query_id", "neighbor_id")
    )

    per_np = (
        ivf_top.join(
            exact.withColumn("is_exact", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ivf_results"),
            F.sum(F.coalesce("is_exact", F.lit(0))).cast("long").alias(
                "n_recalled"
            ),
        )
    )
    exn = exact.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_results")
    )
    return (
        per_np.crossJoin(F.broadcast(exn))
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_exact_results",
            "n_ivf_results",
            "n_recalled",
            F.expr(
                "CAST(CASE WHEN n_exact_results > 0 THEN "
                "(n_recalled * 1000000L) div n_exact_results "
                "ELSE 0 END AS BIGINT)"
            ).alias("recall_micro"),
        )
    )
