"""Sketch-based near-dup detection: SimHash + MinHash-LSH — SURVEY.md §2.11.

Both sketches are built from md5-derived integer hashes, which Spark
and DuckDB compute identically (verified: same hex, same hex→int
parse) — so unlike typical LSH implementations these get the STRONG
oracle check: the whole pipeline (hash → signature → banding →
candidate join → verify) is bit-deterministic across engines.

Scale story (the reason these exist next to the exact shingle-Jaccard
join in text.py):
  - SimHash: each doc compresses to one 32-bit signature; candidate
    generation is an equi-join on 8-bit bands (4 bands ⇒ lossless for
    hamming ≤ 3 by pigeonhole). Shuffle volume = O(docs), not
    O(shared-shingle pairs).
  - MinHash: k=16 min-hashes per doc, banded 4×4; two docs collide in
    a band with probability ≈ j^4 per band — the knob that bounds
    candidate pairs at 100 TB. Candidates are then verified with the
    EXACT Jaccard, so precision is 1.0 and only recall is
    probabilistic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_flight_spark.io import fan_out, table
from big_data_flight_spark.operators.text import (
    JACCARD_PAIRS_ORACLE,
    SQL_SHINGLES,
    _pair_rows,
    _sql_pairs,
    near_dup_pairs,
    shingle_jaccard,
    shingles,
)
from big_data_flight_spark.registry import gate_query

SIMHASH_BITS = 32
HAMMING_MAX = 3
N_BANDS = 4  # 4 bands × 8 bits; lossless for hamming ≤ N_BANDS - 1

MINHASH_K = 16
MINHASH_BANDS = 4  # 4 bands × 4 rows


def _md5_int(col: Column, chars: int) -> Column:
    """First `chars` hex chars of md5 as a non-negative BIGINT —
    identical in DuckDB via ('0x' || substring(md5(x),1,chars))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, chars), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig): 32-bit SimHash over distinct 3-word shingles.
    bit b of sig = majority vote of bit b across shingle hashes
    (ties → 0). Bit extraction uses floor(v / 2^b) % 2 — exact double
    arithmetic below 2^53, identical in both engines."""
    sh = shingles(docs, 3).select("doc_id", _md5_int(F.col("shingle"), 8).alias("v"))
    bits = sh.select(
        "doc_id",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
    ).select(
        "doc_id",
        "b",
        F.when(
            (F.floor(F.col("v") / F.pow(F.lit(2.0), F.col("b"))).cast("long") % 2) == 1, 1
        ).otherwise(-1).alias("vote"),
    )
    return (
        bits.groupBy("doc_id", "b")
        .agg(F.sum("vote").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("b")).cast("long")).otherwise(0)
            ).alias("sig")
        )
    )


# (doc_id, shingle) rows of every document's distinct shingles.
_SQL_SHINGLE_ROWS = f"""
  sh AS MATERIALIZED (
    SELECT doc_id, unnest(shingles) AS shingle FROM ({SQL_SHINGLES})
  )"""

_SIMHASH_SQL_CTE = f"""{_SQL_SHINGLE_ROWS},
  hv AS (
    SELECT doc_id, ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS v FROM sh
  ),
  votes AS (
    SELECT doc_id, b,
           SUM(CASE WHEN CAST(floor(v / pow(2.0, b)) AS BIGINT) % 2 = 1
                    THEN 1 ELSE -1 END) AS s
    FROM hv CROSS JOIN range({SIMHASH_BITS}) t(b)
    GROUP BY doc_id, b
  ),
  sigs AS MATERIALIZED (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS sig
    FROM votes GROUP BY doc_id
  )
"""


@gate_query(
    "text_simhash_dedup",
    oracle=f"""
    WITH {_SIMHASH_SQL_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {HAMMING_MAX}
    """,
    tags=("text", "dedup", "sketch"),
)
def text_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 over 32-bit signatures).

    Candidate generation is banded — 4×8-bit bands, equi-join per
    band — which is lossless for hamming ≤ 3 (pigeonhole: 3 flipped
    bits can dirty at most 3 of 4 bands). The oracle does the plain
    quadratic join; both produce the identical pair set, but the
    banded plan shuffles O(n) rows instead of materializing O(n²)
    comparisons — the 100 TB shape."""
    docs = fan_out(table(spark, sf_dir, "documents"), "doc_id")
    return simhash_pairs(docs)


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) near-dup pairs, hamming ≤ HAMMING_MAX,
    via the lossless 4×8-bit band equi-join (see text_simhash_dedup).
    Shared by the dedup gate and the split-leakage composition so both
    exercise the identical banded pipeline."""
    sigs = simhash_signatures(docs)

    band = F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band_idx")
    banded = sigs.select("doc_id", "sig", band).select(
        "doc_id",
        "sig",
        "band_idx",
        (
            F.floor(F.col("sig") / F.pow(F.lit(2.0), F.col("band_idx") * 8)).cast("long") % 256
        ).alias("band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band_idx", "band_val"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band_idx", "band_val"
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


@gate_query(
    "text_split_leakage_simhash",
    oracle=f"""
    WITH {_SIMHASH_SQL_CTE},
    ordered AS (
      SELECT doc_id,
             row_number() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    ),
    sp AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN rn <= ceil(n_lang * 0.9) THEN 'train' ELSE 'val' END
               AS split
      FROM ordered
    ),
    j AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sa.split AS split_a, sb.split AS split_b
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      JOIN sp sa ON a.doc_id = sa.doc_id
      JOIN sp sb ON b.doc_id = sb.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= {HAMMING_MAX}
    )
    SELECT
      CAST((SELECT COUNT(*) FROM sp WHERE split = 'train') AS BIGINT) AS n_train,
      CAST((SELECT COUNT(*) FROM sp WHERE split = 'val') AS BIGINT) AS n_val,
      CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS n_pairs,
      CAST((SELECT COUNT(*) FROM j WHERE split_a <> split_b) AS BIGINT)
        AS n_leaked_pairs,
      CAST((SELECT COUNT(DISTINCT d) FROM (
              SELECT doc_a AS d FROM j WHERE split_a <> split_b
              UNION
              SELECT doc_b FROM j WHERE split_a <> split_b)) AS BIGINT)
        AS n_leaked_docs
    """,
    tags=("text", "dedup", "sketch", "sampling"),
)
def text_split_leakage_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-CONTAMINATION audit, SECOND modality (VERDICT r7 #6): the
    split-leakage composition with a PLUGGABLE near-dup group key —
    here the banded SimHash pair relation (hamming ≤ 3) instead of
    text_split_leakage_audit's 40-char-prefix template key. Same
    deterministic per-language hash-quota split (expressions inlined
    from text_stratified_split, identical to the first audit); a
    LEAKED pair is a near-dup pair that straddles the train/val
    boundary — its val member's eval score is inflated by its train
    twin. Reported: split sizes, total near-dup pairs, leaked pairs,
    and distinct docs touched by any leaked pair. Pair semantics
    (rather than connected groups) keeps the composition loop-free in
    both engines while auditing the exact relation the simhash dedup
    gate would delete over; measured non-vacuous at every scale
    (pairs/leaked: 26/2 at sf0.001, 20/5 at sf0.01, 234/39 at sf0.1).

    Scale: signatures are one 32-bit int per doc; the banded candidate
    join shuffles O(docs) band rows (lossless for hamming ≤ 3 —
    text_simhash_dedup's pigeonhole argument), split assignment joins
    on doc_id, and only three 1-row aggregate frames cross-join at the
    end (broadcast, the sanctioned 1-row-state pattern). The oracle
    does the plain quadratic signature join — identical pair set."""
    docs = fan_out(table(spark, sf_dir, "documents"), "doc_id")
    pairs = simhash_pairs(docs)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    split = docs.select(
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_lang"),
    ).select(
        "doc_id",
        F.when(
            F.col("rn") <= F.ceil(F.col("n_lang") * 0.9), F.lit("train")
        ).otherwise(F.lit("val")).alias("split"),
    )
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    j = pairs.join(sa, "doc_a").join(sb, "doc_b")
    leak = F.col("split_a") != F.col("split_b")
    s_agg = split.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
    )
    p_agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(leak, 1).otherwise(0)).cast("long").alias("n_leaked_pairs"),
    )
    d_agg = (
        j.filter(leak)
        .select(F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaked_docs"))
    )
    return s_agg.crossJoin(F.broadcast(p_agg)).crossJoin(F.broadcast(d_agg))


# ---------------------------------------------------------------------------
# MinHash + LSH banding, DataFrame-native
# ---------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, i, mh): k min-hash values per doc over 3-word shingles.
    Hash family: md5(shingle || ':' || i) → 60-bit int; min per doc."""
    sh = shingles(docs, 3)
    seeded = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
        F.col("shingle"),
    ).select(
        "doc_id",
        "i",
        _md5_int(F.concat_ws(":", F.col("shingle"), F.col("i")), 15).alias("h"),
    )
    return seeded.groupBy("doc_id", "i").agg(F.min("h").alias("mh"))


def minhash_band_candidates(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from 4×4 LSH banding of the
    MinHash signatures: a pair collides iff some band's 4 min-hashes
    all agree — P(collide | jaccard j) = 1 - (1 - j^4)^4, the curve
    asserted by tests/test_text_similarity.py's planted-pair property
    test. Shared by the text_minhash_lsh gate and that test so they
    exercise the identical pipeline."""
    mh = minhash_signatures(docs)
    rows_per_band = MINHASH_K // MINHASH_BANDS
    bands = (
        mh.withColumn("band_idx", (F.col("i") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band_idx")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("i", "mh"))), lambda s: s.mh),
                ":",
            ).alias("band_val")
        )
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_val")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


_MINHASH_SQL_CTE = f"""{_SQL_SHINGLE_ROWS},
  mh AS (
    SELECT doc_id, i,
           MIN(('0x' || substring(md5(shingle || ':' || i), 1, 15))::BIGINT) AS mh
    FROM sh CROSS JOIN range({MINHASH_K}) t(i)
    GROUP BY doc_id, i
  ),
  bands AS MATERIALIZED (
    SELECT doc_id, i // {MINHASH_K // MINHASH_BANDS} AS band_idx,
           string_agg(mh::VARCHAR, ':' ORDER BY i) AS band_val
    FROM mh GROUP BY doc_id, band_idx
  ),
  cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
  ),
  sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
  verified AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
    FROM cands c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
    GROUP BY c.doc_a, c.doc_b
  )
"""


@gate_query(
    "text_minhash_lsh",
    oracle=f"WITH {_MINHASH_SQL_CTE}{_sql_pairs('verified')}",
    tags=("text", "dedup", "sketch"),
)
def text_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) → LSH banding (4×4) → candidate pairs → EXACT
    Jaccard verification ≥ 0.5 (shingle_jaccard restricted to the
    candidates). The deterministic md5 hash family makes even this LSH
    strong-oracle-checkable.

    The banding bounds work at scale: two docs become a candidate only
    if one 4-hash band matches entirely (P ≈ j⁴ per band), so shuffle
    volume tracks the number of true near-dup clusters, not n². The
    final exact-Jaccard verify runs only on candidates — precision 1,
    recall ≈ 1-(1-j⁴)⁴ (≈ 0.88 at j=0.8, ≈ 0.99 at j=0.9)."""
    docs = fan_out(table(spark, sf_dir, "documents"), "doc_id")
    cands = minhash_band_candidates(docs)
    return _pair_rows(shingle_jaccard(shingles(docs, 3), candidates=cands))


# text_minhash_mllib's recall bar against the exact pair set. Measured
# 1.0 on every fixture; tests/test_fixture_drift.py runs the gate with
# it raised to 1.0, so a fixture that costs the L=2 tables a pair fails.
_MLLIB_MIN_RECALL = 0.95


@gate_query(
    "text_minhash_mllib",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS recall_ok
    FROM ({JACCARD_PAIRS_ORACLE})
    """,
    tags=("text", "dedup", "sketch", "approx"),
)
def text_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH twin (API-surface demo): HashingTF token-set
    vectors → approxSimilarityJoin on Jaccard distance.

    STRONG oracle via the deterministic-audit pattern: MLlib's hash
    family is JVM-seeded (not oracle-reproducible), so the output
    exposes only the exact shingle-Jaccard ≥0.5 pair count (DuckDB
    recomputes it) plus a boolean — recall ≥ _MLLIB_MIN_RECALL against
    that truth set (measured 1.0 at sf0.001, sf0.01 and sf0.1; seed=42
    makes the candidate set data-deterministic;
    tests/test_fixture_drift.py re-probes it at 1.0). No
    candidate-count bound is asserted: approxSimilarityJoin's filter is
    exact token-SET Jaccard ≥ 0.4, which admits ~85% of prose doc pairs
    (whole-doc token sets share most vocabulary) — measured, and
    inherent to this API's OR-construction + whole-doc tokens, which is
    exactly why the banded shingle form (text_minhash_lsh,
    j^4-per-band admission) is the 100 TB path and this gate is the
    API-surface demo.

    numHashTables = 2: approxSimilarityJoin explodes every doc ONCE PER
    TABLE carrying its full sparse vector into the hash-bucket
    self-join, so the exploded-join volume (the gate's dominant cost)
    scales linearly with L while the verification power does not —
    recall of the exact-truth audit MEASURED 1.0 at L=1, 2, 4 and 8
    at sf0.001/sf0.01/sf0.1 (whole-doc token sets of true near-dup
    pairs are nearly identical, so a single minhash already collides;
    MinHashLSH draws its hash family sequentially from seed=42, so the
    L=2 candidate set CONTAINS the L=1 set). Candidate counts barely
    move (10.26M → 9.15M of 12.5M possible at sf0.1 from L=8 to L=2)
    because the OR-construction admits ~everything; the candidate stage
    measured 26.1 → 3.8 s."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = fan_out(table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("tokens"))
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 18, binary=True)
    feat = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=2, seed=42)
    model = lsh.fit(feat)
    pairs = (
        model.approxSimilarityJoin(feat, feat, threshold=0.6, distCol="jaccard_dist")
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    # truth is read twice below (count + broadcast build): materialize
    # the shingle-Jaccard pipeline ONCE (bounded: true near-dup pairs).
    truth = near_dup_pairs(shingles(docs, 3)).select("doc_a", "doc_b").localCheckpoint()
    # Audit via broadcast semi-join: a full-outer join would shuffle
    # ALL ~10M candidate pairs through an SMJ against the ~hundreds-row
    # truth table just to count the overlap. Both sides are distinct
    # (doc_a < doc_b) pair sets, so |intersection| = count of
    # candidates surviving a LEFT SEMI join against the BROADCAST
    # truth; the .distinct() shuffle of all candidate pairs remains.
    # n_true_pairs counts truth alone. COUNT over zero rows is 0 (never
    # NULL), matching the oracle's COUNT(*) on an all-empty fixture.
    recalled = pairs.join(F.broadcast(truth), ["doc_a", "doc_b"], "left_semi")
    agg = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs")
    ).crossJoin(
        recalled.agg(F.count(F.lit(1)).cast("long").alias("n_recalled"))
    )
    return agg.select(
        "n_true_pairs",
        (
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_recalled") / F.col("n_true_pairs") >= _MLLIB_MIN_RECALL,
            ).otherwise(F.lit(True))
        ).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch — frequency estimation
# ---------------------------------------------------------------------------

CMS_DEPTH = 4    # independent hash rows
CMS_WIDTH = 64   # buckets per row


def cms_keyed(df: DataFrame, *extra_cols: str) -> DataFrame:
    """(user_id, seed, bucket [, extra…]) — one row per input row per
    hash row, bucket = md5(seed:user_id) % width. Shared by the batch
    gate, its probe side, and the streaming twin so all three hash
    identically."""
    seeds = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("seed")
    return df.select("user_id", *extra_cols, seeds).select(
        "user_id",
        *extra_cols,
        "seed",
        (
            _md5_int(F.concat_ws(":", F.col("seed"), F.col("user_id")), 8)
            % CMS_WIDTH
        ).alias("bucket"),
    )


def cms_counters(df: DataFrame) -> DataFrame:
    """The depth×width counter table for a batch of keyed rows."""
    return cms_keyed(df).groupBy("seed", "bucket").agg(F.count(F.lit(1)).alias("c"))


@gate_query(
    "agg_count_min",
    oracle=f"""
    WITH hashed AS (
      SELECT user_id, seed,
             ('0x' || substring(md5(seed || ':' || user_id), 1, 8))::BIGINT
               % {CMS_WIDTH} AS bucket
      FROM events CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS seed)
    ),
    cms AS (
      SELECT seed, bucket, COUNT(*) AS c
      FROM hashed GROUP BY seed, bucket
    ),
    truth AS MATERIALIZED (
      SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id
    ),
    est AS (
      SELECT t.user_id, MIN(c) AS est_n
      FROM truth t
      CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS probe_seed)
      JOIN cms ON cms.seed = probe_seed
             AND cms.bucket = ('0x' || substring(md5(probe_seed || ':' || t.user_id), 1, 8))::BIGINT
                              % {CMS_WIDTH}
      GROUP BY t.user_id
    )
    SELECT truth.user_id, true_n, est_n,
           CAST(est_n - true_n AS BIGINT) AS overestimate
    FROM truth JOIN est ON truth.user_id = est.user_id
    """,
    tags=("sketch", "aggregate"),
)
def agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over user_id frequencies, with its one-sided
    error audited in-row: est_n ≥ true_n always (collisions only ever
    ADD), and est_n = min over {CMS_DEPTH} md5-derived hash rows of
    {CMS_WIDTH} buckets. The sketch table is depth×width = 256 counters
    no matter how many events — THE mergeable, constant-size frequency
    summary for 100 TB streams; the md5 hash family makes the whole
    construction reproducible in the oracle engine bit-for-bit."""
    e = table(spark, sf_dir, "events")
    cms = cms_counters(e)
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    probes = cms_keyed(truth, "true_n")
    est = (
        probes.join(F.broadcast(cms), ["seed", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.select(
        "user_id", "true_n", "est_n",
        (F.col("est_n") - F.col("true_n")).cast("long").alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters — sketch-pruned EXACT frequent keys
# ---------------------------------------------------------------------------

# Own constants and an own 'h'-prefixed md5 family — agg_count_min's
# CMS_DEPTH/CMS_WIDTH stay untouched (the session-3 lesson: a second
# sketch gate must never re-bind the first one's module constants).
# Width 4096 keeps the expected bucket load well under the threshold at
# both fixture scales, so the candidate set is genuinely discriminative
# (~54 of 150 keys at sf0.01, ~530 of 1500 at sf0.1), while 3×4096
# counters is still a constant-size summary at 100 TB.
_HH_DEPTH = 3
_HH_WIDTH = 4096
_HH_THRESHOLD = 70


def _hh_bucket_sql(key: str, seed: str = "seed") -> str:
    return (
        f"('0x' || substring(md5('h:' || {seed} || ':' || {key}), 1, 8))::BIGINT"
        f" % {_HH_WIDTH}"
    )


def _hh_keyed(df: DataFrame) -> DataFrame:
    seeds = F.explode(F.sequence(F.lit(0), F.lit(_HH_DEPTH - 1))).alias("seed")
    return df.select("user_id", seeds).select(
        "user_id",
        "seed",
        (
            _md5_int(F.concat_ws(":", F.lit("h"), F.col("seed"), F.col("user_id")), 8)
            % _HH_WIDTH
        ).alias("bucket"),
    )


@gate_query(
    "agg_heavy_hitters",
    oracle=f"""
    WITH seeds AS (SELECT unnest(range(0, {_HH_DEPTH})) AS seed),
    cms AS MATERIALIZED (
      SELECT seed, {_hh_bucket_sql('user_id')} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events CROSS JOIN seeds
      GROUP BY seed, bucket
    ),
    est AS MATERIALIZED (
      SELECT k.user_id, MIN(c) AS est_n
      FROM (SELECT DISTINCT user_id FROM events) k
      CROSS JOIN (SELECT unnest(range(0, {_HH_DEPTH})) AS pseed)
      JOIN cms ON cms.seed = pseed
             AND cms.bucket = {_hh_bucket_sql('k.user_id', 'pseed')}
      GROUP BY k.user_id
    ),
    cand AS MATERIALIZED (
      SELECT user_id, est_n FROM est WHERE est_n >= {_HH_THRESHOLD}
    ),
    exact AS (
      SELECT e.user_id, cand.est_n, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events e JOIN cand ON e.user_id = cand.user_id
      GROUP BY e.user_id, cand.est_n
    )
    SELECT user_id, exact_n, est_n,
           CAST(est_n - exact_n AS BIGINT) AS overestimate,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates
    FROM exact WHERE exact_n >= {_HH_THRESHOLD}
    """,
    tags=("sketch", "aggregate"),
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-pruned EXACT heavy hitters — the two-pass pipeline that
    replaces a full-keyspace groupBy at 100 TB: pass 1 builds a
    constant-size count-min table ({_HH_DEPTH}×{_HH_WIDTH} counters,
    mergeable map-side) and probes it with the distinct keys; because
    CMS never underestimates, the keys whose estimate clears the
    threshold are a SUPERSET of the true frequent keys, so pass 2
    exact-counts ONLY candidate rows (a broadcast semi-prune — the
    second shuffle carries candidate-key rows, not the keyspace).
    The final filter on the exact count removes the sketch's false
    positives, making the output deterministic and independent of
    collision noise — the oracle rebuilds the identical md5 sketch and
    the audit columns expose it (overestimate ≥ 0 per key;
    n_candidates = the pruned-set size both engines derive from their
    own sketch, so a single divergent counter flips the hash)."""
    e = table(spark, sf_dir, "events")
    counters = (
        _hh_keyed(e)
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    keys = e.select("user_id").distinct()
    est = (
        _hh_keyed(keys)
        .join(F.broadcast(counters), ["seed", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_n"))
    )
    cand = est.filter(F.col("est_n") >= _HH_THRESHOLD)
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    exact = (
        e.join(F.broadcast(cand), "user_id")
        .groupBy("user_id", "est_n")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    )
    return (
        exact.filter(F.col("exact_n") >= _HH_THRESHOLD)
        .crossJoin(F.broadcast(n_cand))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).cast("long").alias("overestimate"),
            "n_candidates",
        )
    )


# ---------------------------------------------------------------------------
# Bitmap exact distinct — the roaring-bitmap aggregation pattern
# ---------------------------------------------------------------------------

BITMAP_WORD_BITS = 32  # 32-bit words: every word value < 2^32 fits a BIGINT
                       # with no sign-bit hazard in either engine


@gate_query(
    "agg_bitmap_distinct",
    oracle=f"""
    WITH words AS (
      SELECT l_returnflag, l_partkey // {BITMAP_WORD_BITS} AS w,
             bit_or(CAST(pow(2.0, l_partkey % {BITMAP_WORD_BITS}) AS BIGINT)) AS word
      FROM lineitem
      GROUP BY l_returnflag, l_partkey // {BITMAP_WORD_BITS}
    ),
    bm AS (
      SELECT l_returnflag,
             CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct_bitmap,
             COUNT(*) AS n_words
      FROM words GROUP BY l_returnflag
    ),
    ex AS (
      SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct_exact
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT bm.l_returnflag, n_distinct_bitmap, n_words, n_distinct_exact
    FROM bm JOIN ex ON bm.l_returnflag = ex.l_returnflag
    """,
    tags=("sketch", "aggregate"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) as a two-level bitmap aggregation — the
    roaring-bitmap pattern (Doris BITMAP_UNION / ClickHouse
    groupBitmap) expressed in pure DataFrame ops: level 1 groups rows
    by (group, key div 32) and bit_or's 32-bit words (one bit per key,
    word value < 2^32 so the BIGINT sign bit is never touched in
    either engine), level 2 sums bit_count(word). Both levels partial-
    aggregate map-side, so the shuffle carries at most
    groups x keyspace/32 words instead of every raw row — unlike
    countDistinct, whose expand doubles the input and shuffles every
    distinct (group, key) pair. The exact countDistinct rides along as
    an in-row audit column: the gate proves bitmap == exact on every
    group. At 100 TB this is the dense-keyspace exact-distinct
    strategy (HLL in agg_approx_distinct is the sparse/approximate
    one; KMV below is the mergeable-sample one)."""
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    words = (
        li.groupBy(
            "l_returnflag",
            F.floor(F.col("l_partkey") / BITMAP_WORD_BITS).cast("long").alias("w"),
        )
        .agg(
            F.bit_or(
                F.pow(F.lit(2.0), F.col("l_partkey") % BITMAP_WORD_BITS).cast("long")
            ).alias("word")
        )
    )
    bm = words.groupBy("l_returnflag").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_distinct_bitmap"),
        F.count(F.lit(1)).alias("n_words"),
    )
    ex = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_distinct_exact")
    )
    return bm.join(F.broadcast(ex), "l_returnflag").select(
        "l_returnflag", "n_distinct_bitmap", "n_words", "n_distinct_exact"
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — mergeable by construction
# ---------------------------------------------------------------------------

KMV_K = 64
KMV_SHARDS = 4
_KMV_SPACE = float(2**32)  # md5 8-hex-char hash space


@gate_query(
    "agg_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT o_orderkey % {KMV_SHARDS} AS shard,
             ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM orders
    ),
    sk AS MATERIALIZED (
      SELECT shard, h FROM (
        SELECT shard, h, row_number() OVER (PARTITION BY shard ORDER BY h) AS r
        FROM h
      ) WHERE r <= {KMV_K}
    ),
    m AS (SELECT DISTINCT h FROM sk),
    g AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS r FROM m
      ) WHERE r <= {KMV_K}
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sketch, MAX(h) AS hk,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM sk) AS n_shard_rows
      FROM g
    ),
    ex AS (SELECT COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders)
    SELECT CAST({KMV_SHARDS} AS BIGINT) AS n_shards,
           CAST({KMV_K} AS BIGINT) AS k,
           n_shard_rows,
           CASE WHEN n_sketch < {KMV_K} THEN n_sketch
                ELSE CAST(floor({KMV_K - 1} * {_KMV_SPACE!r} / hk) AS BIGINT)
           END AS est_distinct,
           exact_distinct,
           CASE WHEN n_sketch < {KMV_K} THEN n_sketch ELSE
             CAST(floor({KMV_K - 1} * {_KMV_SPACE!r} / hk) AS BIGINT)
           END BETWEEN CAST(floor(0.5 * exact_distinct) AS BIGINT)
                   AND CAST(floor(2.0 * exact_distinct) AS BIGINT) AS within_2x
    FROM agg CROSS JOIN ex
    """,
    tags=("sketch", "aggregate"),
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch with the MERGE path exercised:
    each of {KMV_SHARDS} orderkey shards builds its own sketch (the k
    smallest distinct md5 hashes of o_custkey), the shard sketches are
    unioned and re-minimized — the KMV merge operation, k smallest of
    a union of per-shard k-smallests == the global k smallest — and
    the estimate is (k-1) * 2^32 / h_k (Bar-Yossef et al.'s unbiased
    KMV estimator). Everything is deterministic: the md5 hash family
    is engine-identical, and the one division is the same IEEE double
    division on identical BIGINT inputs in both engines before the
    floor (the pagerank parity construction). If the sketch never
    fills (distinct < k) the estimate degrades to the EXACT distinct
    count — the sketch IS the value set. Exact distinct + a 2x audit
    bound ride along in-row. At 100 TB: per-shard sketches are built
    map-side (k rows each), merge cost is shards x k rows — the
    pattern HLL/theta sketches industrialize; KMV is the version whose
    every intermediate an oracle can replay bit-for-bit."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    keyed = o.select(
        (F.col("o_orderkey") % KMV_SHARDS).alias("shard"),
        F.col("o_custkey").alias("key"),
    )
    return kmv_distinct_estimate(keyed)


def kmv_distinct_estimate(keyed: DataFrame) -> DataFrame:
    """KMV sketch build + merge + estimate over (shard, key) rows —
    split from the gate so tests can drive the underfull branch
    (distinct < k) with inline frames."""
    h = (
        keyed.select(
            "shard",
            _md5_int(F.col("key").cast("string"), 8).alias("h"),
        )
        .distinct()
    )
    per_shard = Window.partitionBy("shard").orderBy("h")
    sk = (
        h.withColumn("r", F.row_number().over(per_shard))
        .filter(F.col("r") <= KMV_K)
        .select("shard", "h")
    )
    merged = sk.select("h").distinct()
    glob = Window.orderBy("h")
    g = (
        merged.withColumn("r", F.row_number().over(glob))
        .filter(F.col("r") <= KMV_K)
        .select("h")
    )
    agg = g.agg(
        F.count(F.lit(1)).alias("n_sketch"),
        F.max("h").alias("hk"),
    ).crossJoin(F.broadcast(sk.agg(F.count(F.lit(1)).alias("n_shard_rows"))))
    ex = keyed.agg(F.countDistinct("key").alias("exact_distinct"))
    est = F.when(
        F.col("n_sketch") < KMV_K, F.col("n_sketch")
    ).otherwise(
        F.floor(F.lit(float(KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col("hk")).cast("long")
    )
    return (
        agg.crossJoin(F.broadcast(ex))
        .select(
            F.lit(KMV_SHARDS).cast("long").alias("n_shards"),
            F.lit(KMV_K).cast("long").alias("k"),
            "n_shard_rows",
            est.alias("est_distinct"),
            "exact_distinct",
            # floor() explicitly on BOTH engines: DuckDB CAST(double AS
            # BIGINT) rounds while Spark's cast truncates, so a bare
            # cast of 0.5 * <odd exact count> diverges by 1.
            est.between(
                F.floor(F.lit(0.5) * F.col("exact_distinct")).cast("long"),
                F.floor(F.lit(2.0) * F.col("exact_distinct")).cast("long"),
            ).alias("within_2x"),
        )
    )


# ---------------------------------------------------------------------------
# KMV set algebra — union / intersection estimates from mergeable sketches
# ---------------------------------------------------------------------------


def _kmv_topk(hashed: DataFrame, k: int) -> DataFrame:
    """k smallest distinct hashes as a DataFrame — TakeOrdered (per-
    partition top-k then merge), NOT a global single-partition window:
    the build stays distributed no matter how large the base set is."""
    return hashed.distinct().orderBy("h").limit(k)


@gate_query(
    "agg_kmv_set_ops",
    oracle=f"""
    WITH a AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS key FROM orders WHERE o_orderkey % 2 = 0
    ),
    b AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'
    ),
    ha AS MATERIALIZED (
      SELECT ('0x' || substring(md5(CAST(key AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM a
    ),
    hb AS MATERIALIZED (
      SELECT ('0x' || substring(md5(CAST(key AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM b
    ),
    sa AS MATERIALIZED (SELECT h FROM ha ORDER BY h LIMIT {KMV_K}),
    sb AS MATERIALIZED (SELECT h FROM hb ORDER BY h LIMIT {KMV_K}),
    su AS MATERIALIZED (
      SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
      ORDER BY h LIMIT {KMV_K}
    ),
    uagg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_u, MAX(h) AS hk FROM su
    ),
    common AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_common
      FROM su JOIN sa USING (h) JOIN sb USING (h)
    ),
    eu AS (
      SELECT CASE WHEN n_u < {KMV_K} THEN n_u
                  ELSE CAST(floor({KMV_K - 1} * {_KMV_SPACE!r} / hk) AS BIGINT)
             END AS est_union, n_u
      FROM uagg
    ),
    ex AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                SELECT key FROM a UNION SELECT key FROM b)) AS exact_union,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                SELECT key FROM a INTERSECT SELECT key FROM b))
               AS exact_intersection
    )
    SELECT CAST({KMV_K} AS BIGINT) AS k,
           est_union,
           exact_union,
           CAST(floor(1.0 * n_common * est_union / n_u) AS BIGINT)
             AS est_intersection,
           exact_intersection,
           n_common
    FROM eu CROSS JOIN common CROSS JOIN ex
    """,
    tags=("sketch", "aggregate", "set"),
)
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on KMV sketches — the operation that makes distinct
    sketches USEFUL at 100 TB: estimate |A ∪ B| and |A ∩ B| from two
    k=64 sketches without ever co-scanning A and B. A = custkeys of
    even orders, B = custkeys of open ('O') orders (overlapping by
    construction). Union sketch = k smallest of sa ∪ sb (KMV's merge,
    proved in agg_kmv_distinct); |A ∪ B| from the union sketch's k-th
    value; |A ∩ B| via the standard KMV Jaccard estimator rho =
    |su ∩ sa ∩ sb| / |su|, est_inter = floor(rho * est_union) — one
    IEEE double multiply/divide on identical BIGINT inputs in both
    engines before the floor (the pagerank parity convention). Sketch
    builds are TakeOrdered top-k (distributed, per-partition k-mins
    then merge), never a global single-partition window. Exact union
    and intersection ride along as the in-row audit; everything is
    md5-deterministic, so the oracle replays every intermediate."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    a = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    b = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    ha = a.select(_md5_int(F.col("key").cast("string"), 8).alias("h"))
    hb = b.select(_md5_int(F.col("key").cast("string"), 8).alias("h"))
    sa = _kmv_topk(ha, KMV_K)
    sb = _kmv_topk(hb, KMV_K)
    su = _kmv_topk(sa.union(sb), KMV_K)
    uagg = su.agg(
        F.count(F.lit(1)).alias("n_u"), F.max("h").alias("hk")
    )
    common = (
        su.join(F.broadcast(sa), "h").join(F.broadcast(sb), "h")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exact = (
        a.union(b).distinct().agg(F.count(F.lit(1)).alias("exact_union"))
        .crossJoin(
            F.broadcast(
                a.intersect(b).agg(
                    F.count(F.lit(1)).alias("exact_intersection")
                )
            )
        )
    )
    est_union = F.when(F.col("n_u") < KMV_K, F.col("n_u")).otherwise(
        F.floor(F.lit(float(KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col("hk")).cast(
            "long"
        )
    )
    return (
        uagg.crossJoin(F.broadcast(common))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(KMV_K).cast("long").alias("k"),
            est_union.alias("est_union"),
            "exact_union",
            F.floor(
                F.lit(1.0) * F.col("n_common") * est_union / F.col("n_u")
            ).cast("long").alias("est_intersection"),
            "exact_intersection",
            "n_common",
        )
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantile sketch — the mergeable quantile summary
# ---------------------------------------------------------------------------

HIST_BIN_W = 1024          # dollars per bin (integer width)
HIST_QS_BP = (2500, 5000, 9000, 9900)  # probed quantiles, basis points


@gate_query(
    "agg_histogram_quantile",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT CAST(floor(l_extendedprice) AS BIGINT) AS d FROM lineitem
    ),
    hist AS MATERIALIZED (
      SELECT d // {HIST_BIN_W} AS b, CAST(COUNT(*) AS BIGINT) AS c
      FROM d GROUP BY d // {HIST_BIN_W}
    ),
    cum AS MATERIALIZED (
      SELECT b, c, SUM(c) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM hist
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
    qs AS (
      SELECT unnest([{", ".join(str(q) for q in HIST_QS_BP)}]) AS q_bp
    ),
    ks AS (
      SELECT q_bp, n, (n * q_bp + 9999) // 10000 AS k
      FROM qs CROSS JOIN tot
    ),
    est AS (
      SELECT ks.q_bp, ks.n, ks.k, MIN(cum.b) AS b
      FROM ks JOIN cum ON cum.cum >= ks.k
      GROUP BY ks.q_bp, ks.n, ks.k
    ),
    bounds AS (
      SELECT q_bp, n, k, b,
             b * {HIST_BIN_W} AS lo,
             b * {HIST_BIN_W} + {HIST_BIN_W - 1} AS hi
      FROM est
    )
    SELECT bo.q_bp, bo.n, bo.k, bo.b, bo.lo, bo.hi,
           CAST(SUM(CASE WHEN d.d < bo.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(CASE WHEN d.d <= bo.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_thru,
           (SUM(CASE WHEN d.d < bo.lo THEN 1 ELSE 0 END) < bo.k
            AND SUM(CASE WHEN d.d <= bo.hi THEN 1 ELSE 0 END) >= bo.k)
             AS contains_quantile
    FROM d CROSS JOIN bounds bo
    GROUP BY bo.q_bp, bo.n, bo.k, bo.b, bo.lo, bo.hi
    """,
    tags=("sketch", "aggregate"),
)
def agg_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram quantile sketch — the summary that
    answers percentile queries over 100 TB without a global sort:
    FIXED integer bin bounds ({HIST_BIN_W}-dollar equi-width over
    floor(price)) mean partial histograms merge by cell-wise SUM
    across partitions, days, or streams with NO data-dependent
    codebook to re-negotiate (the practical t-digest/KLL alternative
    when the domain is known; log-scaled bins are the same pattern
    for heavy-tailed domains). The quantile-q estimate is the first
    bin whose cumulative count reaches k = ceil(q*N) (integer
    (n*q_bp + 9999) DIV 10000, exact in both engines); the ±1-bin
    error guarantee is then AUDITED from the base data: a second
    conditional-aggregation scan recomputes n_below(lo) and
    n_thru(hi) and proves n_below < k <= n_thru — the true rank-k
    value provably lies inside the reported [lo, hi] window. The
    cumulative window runs over <=600 bin rows (bounded by the
    domain/width constants, same class as KMV's 256-row merge
    window); the only full-data operations are the two scans, both
    partial-aggregate map-side. All-integer end to end — floor(price)
    is the one float touch, identical in both engines."""
    li = table(spark, sf_dir, "lineitem")
    d = fan_out(li.select(F.floor("l_extendedprice").cast("long").alias("d")), "d")
    hist = (
        d.select(F.expr(f"d DIV {HIST_BIN_W}").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = hist.select(
        "b",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum"),
    )
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    ks = tot.select(
        F.explode(F.array(*[F.lit(q) for q in HIST_QS_BP])).alias("q_bp"),
        "n",
    ).select(
        "q_bp", "n", F.expr("(n * q_bp + 9999) DIV 10000").alias("k")
    )
    est = (
        ks.join(F.broadcast(cum), F.col("cum") >= F.col("k"))
        .groupBy("q_bp", "n", "k")
        .agg(F.min("b").alias("b"))
    )
    bounds = est.select(
        "q_bp",
        "n",
        "k",
        "b",
        (F.col("b") * HIST_BIN_W).alias("lo"),
        (F.col("b") * HIST_BIN_W + (HIST_BIN_W - 1)).alias("hi"),
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .groupBy("q_bp", "n", "k", "b", "lo", "hi")
        .agg(
            F.sum(F.when(F.col("d") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_below"),
            F.sum(F.when(F.col("d") <= F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_thru"),
        )
        .select(
            "q_bp",
            "n",
            "k",
            "b",
            "lo",
            "hi",
            "n_below",
            "n_thru",
            (
                (F.col("n_below") < F.col("k"))
                & (F.col("n_thru") >= F.col("k"))
            ).alias("contains_quantile"),
        )
    )


@gate_query(
    "agg_bitmap_rolling_distinct",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM e),
    roll AS (
      SELECT days.d, CAST(COUNT(DISTINCT e.user_id) AS BIGINT)
               AS n_active_users_7d
      FROM days JOIN e
        ON e.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
      GROUP BY days.d
    ),
    today AS (
      SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_today
      FROM e GROUP BY d
    )
    SELECT strftime(roll.d, '%Y-%m-%d') AS day_str,
           n_active_users_7d, n_users_today
    FROM roll JOIN today ON roll.d = today.d
    """,
    tags=("sketch", "aggregate", "event"),
)
def agg_bitmap_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users from MERGED day-level
    bitmaps — the pre-aggregated rollup pattern every 100 TB metrics
    stack runs (Doris BITMAP_UNION over partitions / ClickHouse
    groupBitmapMerge): raw events compact ONCE into per-(day, word)
    32-bit bitmap words (the agg_bitmap_distinct construction — one
    bit per user, both aggregation levels partial map-side), and the
    rolling window then merges ONLY the word table: each word row
    scatters to the <=7 trailing windows it serves (the sliding-window
    fan-out, but applied to the compacted pre-aggregate — days x
    keyspace/32 rows — instead of the raw event stream), bit_or
    re-merges per (window day, word), bit_count sums. Exactness is
    the point: bitmaps are lossless, so the oracle recomputes both
    columns as direct COUNT(DISTINCT) over the raw trailing range — a
    value match proves the compact-merge path loses nobody. The
    scatter is semi-joined to the 30-row broadcast day list so no
    phantom windows appear past the data's edge; leading days
    naturally aggregate shorter windows on both engines.

    At 100 TB: the events table is scanned ONCE (the word table and
    the per-day audit both derive from the same compacted aggregate);
    re-answering any window size reuses the stored words — the whole
    reason metric stores persist bitmap columns instead of raw ids."""
    e = table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    )
    words = e.groupBy(
        "d",
        F.floor(F.col("user_id") / BITMAP_WORD_BITS).cast("long").alias("w"),
    ).agg(
        F.bit_or(
            F.pow(F.lit(2.0), F.col("user_id") % BITMAP_WORD_BITS).cast("long")
        ).alias("word")
    ).localCheckpoint()  # the compacted pre-aggregate: scanned by the
    # scatter AND the per-day audit — one raw-events pass total.
    days = words.select("d").distinct()
    scattered = words.select(
        F.explode(
            F.sequence(
                F.col("d"), F.col("d") + F.expr("INTERVAL 6 DAY"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("td"),
        "w",
        "word",
    )
    rolled = (
        scattered.join(F.broadcast(days.withColumnRenamed("d", "td")), "td")
        .groupBy("td", "w")
        .agg(F.bit_or("word").alias("mword"))
        .groupBy("td")
        .agg(F.sum(F.bit_count("mword")).cast("long").alias("n_active_users_7d"))
    )
    today = words.groupBy("d").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_users_today")
    )
    return (
        rolled.withColumnRenamed("td", "d")
        .join(today, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day_str"),
            "n_active_users_7d",
            "n_users_today",
        )
    )
