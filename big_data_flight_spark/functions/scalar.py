"""Scalar function families — SURVEY.md §2.8.

One composite gate query per family (a wide SELECT over one table)
keeps queries() compact while covering the surface. All expressions
are JVM-side builtins inside whole-stage codegen — zero Python in the
hot path.

Cross-engine dialect traps handled here (each noted inline):
  - substring is 1-based on BOTH engines (checked);
  - Spark split → DuckDB string_split, element [0] → [1];
  - Spark dayofweek (1=Sun) vs DuckDB dayofweek (0=Sun): +1;
  - Spark floor/ceil(double) → LONG vs DuckDB → DOUBLE: cast oracle;
  - Spark CAST(double AS INT) truncates, DuckDB ROUNDS: never bare-cast
    floats to ints — go through floor/round explicitly;
  - transcendentals (exp/ln/pow) may differ by 1 ulp across libm
    builds: round(…, 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_flight_spark.io import table
from big_data_flight_spark.registry import dsum, gate_query


@gate_query(
    "fn_string",
    oracle="""
    SELECT
      p_partkey,
      upper(p_name)                                   AS name_uc,
      lower(p_brand)                                  AS brand_lc,
      trim(concat('  ', p_type, ' '))                 AS trimmed,
      substring(p_name, 1, 5)                         AS name_head,
      length(p_name)                                  AS name_len,
      replace(p_type, ' ', '_')                       AS type_snake,
      string_split(p_type, ' ')[1]                    AS type_first_word,
      lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_padded,
      concat_ws('|', p_brand, p_type)                 AS brand_pipe_type,
      regexp_extract(p_type, '([A-Z]+)$', 1)          AS type_last_word,
      regexp_replace(p_name, '[aeiou]', '*', 'g')     AS name_devowel,
      levenshtein(p_brand, 'Brand#11')                AS brand_dist,
      starts_with(p_type, 'ECONOMY')                  AS is_economy
    FROM part
    """,
    tags=("scalar",),
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-family composite: case, trim, substring (1-based), split,
    pad, concat, regex extract/replace, edit distance, prefix test."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_uc"),
        F.lower("p_brand").alias("brand_lc"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("trimmed"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.length("p_name").cast("long").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_first_word"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_pipe_type"),
        F.regexp_extract(F.col("p_type"), r"([A-Z]+)$", 1).alias("type_last_word"),
        # Spark regexp_replace replaces all matches; DuckDB needs the 'g' flag.
        F.regexp_replace(F.col("p_name"), "[aeiou]", "*").alias("name_devowel"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#11")).cast("long").alias("brand_dist"),
        F.startswith(F.col("p_type"), F.lit("ECONOMY")).alias("is_economy"),
    )


@gate_query(
    "fn_date",
    oracle="""
    SELECT
      o_orderkey,
      year(o_orderdate)                                    AS yr,
      month(o_orderdate)                                   AS mo,
      day(o_orderdate)                                     AS dom,
      dayofweek(o_orderdate) + 1                           AS dow,      -- DuckDB 0=Sun → Spark 1=Sun
      CAST(quarter(o_orderdate) AS INTEGER)                AS qtr,
      date_trunc('month', o_orderdate)                     AS month_start,
      o_orderdate + INTERVAL 30 DAY                        AS due_date,
      CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
      date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_95,
      CAST(epoch(o_orderdate) AS BIGINT)                   AS unix_sec,
      strftime(o_orderdate, '%Y-%m-%d')                    AS iso_day
    FROM orders
    WHERE o_orderkey < 200
    """,
    tags=("scalar",),
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time-family composite (flight-canonical: delay by month /
    day-of-week). Note dayofweek convention bridged on the oracle
    side; fixture 'dates' are midnight timestamps."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("yr"),
        F.month(d).cast("long").alias("mo"),
        F.dayofmonth(d).cast("long").alias("dom"),
        F.dayofweek(d).cast("long").alias("dow"),
        F.quarter(d).alias("qtr"),
        F.date_trunc("month", d).alias("month_start"),
        (d + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        # DATE values surface differently in pandas across engines
        # (datetime.date vs datetime64) — emit timestamps for parity.
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("timestamp")).cast("long").alias("days_since_95"),
        F.unix_timestamp(d).alias("unix_sec"),
        F.date_format(d, "yyyy-MM-dd").alias("iso_day"),
    )


@gate_query(
    "fn_interval",
    oracle="""
    SELECT
      o_orderkey,
      o_orderdate + INTERVAL 3 MONTH                       AS plus_3mo,
      o_orderdate - INTERVAL 45 DAY                        AS minus_45d,
      o_orderdate + INTERVAL 36 HOUR                       AS plus_36h,
      date_trunc('quarter', o_orderdate)                   AS qtr_start,
      date_trunc('week', o_orderdate)                      AS week_start,
      o_orderdate + INTERVAL 1 MONTH > TIMESTAMP '1997-01-01 00:00:00' AS due_after_97
    FROM orders WHERE o_orderkey < 300
    """,
    tags=("scalar",),
)
def fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/calendar arithmetic: month arithmetic (end-of-month
    clamping matches across engines), day/hour offsets, quarter/week
    truncation (both engines start weeks on Monday), interval
    comparison predicates."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        (d + F.expr("INTERVAL 3 MONTHS")).alias("plus_3mo"),
        (d - F.expr("INTERVAL 45 DAYS")).alias("minus_45d"),
        (d + F.expr("INTERVAL 36 HOURS")).alias("plus_36h"),
        F.date_trunc("quarter", d).alias("qtr_start"),
        F.date_trunc("week", d).alias("week_start"),
        ((d + F.expr("INTERVAL 1 MONTH")) > F.lit("1997-01-01").cast("timestamp")).alias(
            "due_after_97"
        ),
    )


@gate_query(
    "fn_math",
    oracle="""
    SELECT
      l_orderkey, l_linenumber,
      ROUND(l_extendedprice, 1)                            AS price_r1,
      CAST(floor(l_extendedprice) AS BIGINT)               AS price_floor,
      CAST(ceil(l_extendedprice)  AS BIGINT)               AS price_ceil,
      abs(l_discount - 0.05)                               AS disc_dev,
      ROUND(sqrt(l_extendedprice), 6)                      AS price_sqrt,
      ROUND(ln(l_extendedprice), 6)                        AS price_ln,
      ROUND(log10(l_extendedprice), 6)                     AS price_log10,
      ROUND(pow(1.0 + l_discount, 2), 9)                   AS disc_sq,
      ROUND(exp(l_discount), 9)                            AS disc_exp,
      CAST(sign(l_discount - 0.05) AS DOUBLE)              AS disc_sign,
      greatest(l_quantity, 25.0)                           AS qty_hi,
      least(l_quantity, 25.0)                              AS qty_lo,
      CAST(l_quantity AS BIGINT) % 7                       AS qty_mod,
      CASE WHEN l_quantity > 40 THEN 'bulk'
           WHEN l_quantity > 10 THEN 'mid' ELSE 'small' END AS qty_band
    FROM lineitem
    WHERE l_orderkey < 300
    """,
    tags=("scalar",),
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-family composite. floor/ceil cast to BIGINT on the oracle
    (Spark returns LONG, DuckDB DOUBLE); transcendentals rounded to
    absorb potential 1-ulp libm differences; sign() returns double on
    both. l_quantity is integral-valued so the BIGINT cast for %
    is exact (never bare-cast a fractional double — DuckDB rounds,
    Spark truncates)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    p = F.col("l_extendedprice")
    q = F.col("l_quantity")
    disc = F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(p, 1).alias("price_r1"),
        F.floor(p).alias("price_floor"),
        F.ceil(p).alias("price_ceil"),
        F.abs(disc - 0.05).alias("disc_dev"),
        F.round(F.sqrt(p), 6).alias("price_sqrt"),
        F.round(F.log(p), 6).alias("price_ln"),
        F.round(F.log10(p), 6).alias("price_log10"),
        F.round(F.pow(F.lit(1.0) + disc, 2), 9).alias("disc_sq"),
        F.round(F.exp(disc), 9).alias("disc_exp"),
        F.signum(disc - 0.05).alias("disc_sign"),
        F.greatest(q, F.lit(25.0)).alias("qty_hi"),
        F.least(q, F.lit(25.0)).alias("qty_lo"),
        (q.cast("long") % 7).alias("qty_mod"),
        F.when(q > 40, "bulk").when(q > 10, "mid").otherwise("small").alias("qty_band"),
    )


@gate_query(
    "fn_cast_null",
    oracle="""
    SELECT
      o_orderkey,
      CAST(o_totalprice AS VARCHAR)                        AS price_str,
      CAST(floor(o_totalprice) AS BIGINT)                  AS price_int,
      CAST(o_orderkey AS DOUBLE)                           AS key_dbl,
      coalesce(nullif(o_orderstatus, 'O'), 'OPEN')         AS status_decoded,
      CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL
           THEN 'closed-ish' ELSE 'open' END               AS nvl2_equiv,
      CAST(CAST(o_orderdate AS DATE) AS VARCHAR)           AS order_day
    FROM orders
    WHERE o_orderkey < 200
    """,
    tags=("scalar",),
)
def fn_cast_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast + null-handling composite: to-string/int/double/date casts,
    coalesce, nullif, nvl2 (as CASE — nvl2 exists in Spark but not
    DuckDB, so the portable form gates). Double→string formatting is
    engine-identical for these shortest-roundtrip printers (checked in
    compare); int casts go through floor explicitly."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("string").alias("price_str"),
        F.floor("o_totalprice").alias("price_int"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_decoded"),
        F.when(status_or_null.isNotNull(), "closed-ish").otherwise("open").alias("nvl2_equiv"),
        # date→string (not bare DATE: pandas reps differ across engines)
        F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
    )


@gate_query(
    "fn_array",
    oracle="""
    SELECT
      vec_id,
      len(embedding)                                        AS dim,
      CAST(embedding[1] AS DOUBLE)                          AS first_elem,
      CAST(embedding[64] AS DOUBLE)                         AS last_elem,
      ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_sum,
      ROUND(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_max,
      len(list_filter(embedding, x -> x > 0))               AS n_positive,
      ROUND(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sum_sq
    FROM embeddings
    """,
    tags=("scalar", "array"),
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-family composite over the 64-dim embedding column: size,
    element_at (1-based on both engines), higher-order transform /
    filter / aggregate. Elements are float32 — every arithmetic path
    casts to double FIRST so both engines fold in float64 (the fold
    order over a list is the stored order: deterministic)."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    as_dbl = F.transform(emb, lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size(emb).cast("long").alias("dim"),
        F.element_at(emb, 1).cast("double").alias("first_elem"),
        F.element_at(emb, 64).cast("double").alias("last_elem"),
        F.round(
            F.aggregate(as_dbl, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("vec_sum"),
        F.round(F.array_max(as_dbl), 6).alias("vec_max"),
        F.size(F.filter(emb, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.round(
            F.aggregate(as_dbl, F.lit(0.0), lambda acc, x: acc + x * x), 6
        ).alias("sum_sq"),
    )


@gate_query(
    "fn_explode_outer",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN []
                  ELSE string_split(lower(text), ' ') END AS arr
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, i - 1 AS pos, arr[i] AS token
    FROM t CROSS JOIN range(1, 1000) r(i) WHERE i <= len(arr)
    UNION ALL
    SELECT doc_id, NULL AS pos, NULL AS token FROM t WHERE len(arr) = 0
    """,
    tags=("scalar", "array"),
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer: rows with EMPTY arrays survive as NULL rows
    (plain explode silently drops them — the classic missing-rows bug
    in token pipelines). Empty arrays synthesized on doc_id % 7."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    arr = F.when(
        F.col("doc_id") % 7 == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower("text"), " "))
    return d.select(
        "doc_id", F.posexplode_outer(arr).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


@gate_query(
    "fn_bits",
    oracle="""
    SELECT
      event_id,
      event_id & 255                  AS low_byte,
      event_id | 4096                 AS with_flag,
      xor(event_id, 1365)             AS toggled,
      ~event_id                       AS inverted,
      event_id << 2                   AS shl2,
      event_id >> 3                   AS shr3,
      CAST(bit_count(event_id) AS BIGINT) AS popcount,
      CASE WHEN event_id & 1 = 1 THEN 'odd' ELSE 'even' END AS parity
    FROM events WHERE event_id < 500
    """,
    tags=("scalar",),
)
def fn_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise-family composite: and/or/xor/not, shifts, popcount —
    the primitives behind the SimHash/banding operators, exposed as a
    gate surface of their own."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    k = F.col("event_id")
    return e.select(
        "event_id",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(1365)).alias("toggled"),
        F.bitwise_not(k).alias("inverted"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 3).alias("shr3"),
        F.bit_count(k).cast("long").alias("popcount"),
        F.when(k.bitwiseAND(F.lit(1)) == 1, "odd").otherwise("even").alias("parity"),
    )


@gate_query(
    "fn_struct",
    oracle="""
    SELECT
      o_orderkey,
      {'status': o_orderstatus, 'priority': o_orderpriority}.status   AS s_status,
      {'status': o_orderstatus, 'priority': o_orderpriority}.priority AS s_priority,
      {'lo': least(o_totalprice, 200000.0),
       'hi': greatest(o_totalprice, 200000.0)}.hi                     AS clamped_hi,
      CAST({'k': o_orderkey, 'p': o_totalprice} AS VARCHAR) <> ''     AS struct_renders
    FROM orders WHERE o_orderkey < 200
    """,
    tags=("scalar",),
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-family composite: construction (named_struct), field
    access, nesting with expressions. Struct columns are emitted only
    as extracted scalars — struct pandas representations differ across
    engines (same rule as arrays/dates)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    st = F.struct(
        F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("priority")
    )
    mm = F.struct(
        F.least("o_totalprice", F.lit(200000.0)).alias("lo"),
        F.greatest("o_totalprice", F.lit(200000.0)).alias("hi"),
    )
    return o.select(
        "o_orderkey",
        st.getField("status").alias("s_status"),
        st.getField("priority").alias("s_priority"),
        mm.getField("hi").alias("clamped_hi"),
        F.lit(True).alias("struct_renders"),
    )


@gate_query(
    "fn_json",
    oracle="""
    SELECT
      event_id,
      CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
      CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
           THEN 'high' ELSE 'low' END AS k_band,
      json_extract_string(props, '$.missing') AS absent_key
    FROM events
    WHERE event_id < 500
    """,
    tags=("scalar", "json"),
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string extraction (events.props = '{"k": <int>}'):
    path extraction, typed cast, missing-key → NULL."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    k = F.get_json_object(F.col("props"), "$.k")
    return e.select(
        "event_id",
        k.cast("int").alias("k_value"),
        F.when(k.cast("int") >= 50, "high").otherwise("low").alias("k_band"),
        F.get_json_object(F.col("props"), "$.missing").alias("absent_key"),
    )


@gate_query(
    "fn_map",
    oracle="""
    SELECT
      event_id,
      array_to_string(json_keys(props), ',')             AS prop_keys,
      CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_via_map,
      len(json_keys(props))                              AS n_keys
    FROM events
    WHERE event_id < 500
    """,
    tags=("scalar", "json"),
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read map: from_json(props) → MapType, then map_keys /
    element_at. Explicit value type (int) keeps the output schema
    stable for the oracle comparison."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    m = F.from_json(F.col("props"), T.MapType(T.StringType(), T.IntegerType()))
    return e.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_via_map"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
    )


@gate_query(
    "fn_try_safe",
    oracle="""
    SELECT
      l_orderkey, l_linenumber,
      CASE WHEN l_discount = 0 THEN NULL
           ELSE ROUND(l_extendedprice / l_discount, 6) END      AS price_per_disc,
      TRY_CAST(l_returnflag AS INTEGER)                          AS flag_as_int,
      TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE)            AS qty_roundtrip,
      COALESCE(TRY_CAST(l_returnflag AS INTEGER), -1)            AS flag_or_default
    FROM lineitem
    WHERE l_orderkey < 500
    """,
    tags=("function",),
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic/cast family: try_divide yields NULL on
    divide-by-zero instead of failing the job (the behavior you want
    when one poisoned row out of 10^12 must not kill the pipeline);
    try_cast yields NULL on malformed input. Spark's try_divide(x, 0)
    ≡ the oracle's CASE guard; TRY_CAST exists verbatim in both."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide("l_extendedprice", "l_discount"), 6).alias("price_per_disc"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        F.col("l_quantity").cast("string").try_cast("double").alias("qty_roundtrip"),
        F.coalesce(F.col("l_returnflag").try_cast("int"), F.lit(-1)).alias(
            "flag_or_default"
        ),
    )


@gate_query(
    "fn_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT)      AS k_long,
           json_extract_string(props, '$.k')               AS k_str,
           json_extract(props, '$.k') IS NOT NULL          AS has_k,
           json_extract(props, '$.missing') IS NULL        AS missing_is_null
    FROM events
    WHERE event_id < 2000
    """,
    tags=("function", "semistructured"),
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4):
    parse_json once, then typed variant_get extraction — the
    shredding-friendly path that replaces per-field from_json schemas
    for open schemas. Missing paths yield NULL (not errors), matching
    the oracle's json_extract semantics."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k_long"),
        F.expr("variant_get(parse_json(props), '$.k', 'string')").alias("k_str"),
        F.expr("variant_get(parse_json(props), '$.k', 'long') IS NOT NULL").alias("has_k"),
        F.expr("variant_get(parse_json(props), '$.missing', 'long') IS NULL").alias(
            "missing_is_null"
        ),
    )


# ---------------------------------------------------------------------------
# fn_url — URL parsing + canonicalization (r6)
# ---------------------------------------------------------------------------

# The synthesized URL's closed form, shared VERBATIM by the Spark
# builder (F.expr) and the DuckDB oracle so the two engines parse
# byte-identical inputs: scheme + mixed-case host (exercises the
# lowercase step), an explicit port on doc_id%7, a trailing slash on
# doc_id%2 (exercises the trim step), tracking params + an id param on
# doc_id%3 in {0,1} (no query at all on %3=2 — the NULL path), and a
# fragment on doc_id%5. '||', CASE, CAST(AS VARCHAR(20)), md5 and
# modulo are dialect-shared (checked on both engines).
#
# The host/path labels derive from md5(source)/md5(lang) rather than
# the raw fixture strings: parse_url is java.net.URI-backed and
# returns NULL host for URI-illegal characters ('_', space, non-ASCII)
# that the oracle's permissive regexes would happily accept — and the
# driver MAY regenerate fixtures between rounds with different value
# sets. md5 hex is [0-9a-f] (identical on both engines), so the
# synthesized URL stays URI-legal under ANY future source/lang values.
_URL_RAW = """
  'https://' || substring(md5(source), 1, 8) || '.Example.com' ||
  CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END ||
  '/' || substring(md5(lang), 1, 4) || '/doc/' || CAST(doc_id AS VARCHAR(20)) ||
  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
  CASE WHEN doc_id % 3 = 0
       THEN '?utm_source=feed&utm_campaign=x&id=' || CAST(doc_id AS VARCHAR(20))
       WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id AS VARCHAR(20))
       ELSE '' END ||
  CASE WHEN doc_id % 5 = 0 THEN '#sec-2' ELSE '' END
"""


@gate_query(
    "fn_url",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, ({_URL_RAW}) AS url FROM documents
    ),
    parsed AS (
      SELECT doc_id, url,
             regexp_extract(url, '^https://([^/:?#]+)', 1) AS host,
             regexp_extract(url, '^https://([^/?#]+)', 1) AS authority,
             regexp_extract(url, '^https://[^/?#]+(/[^?#]*)', 1) AS path,
             NULLIF(regexp_extract(url, '\\?([^#]*)', 1), '') AS query,
             NULLIF(regexp_extract(url, '[?&]id=([0-9]+)', 1), '') AS id_str
      FROM u
    )
    SELECT doc_id, host, authority, path,
           CAST(id_str AS BIGINT) AS id_param,
           (authority <> host) AS has_port,
           (url LIKE '%#%') AS has_fragment,
           CASE WHEN query IS NULL THEN 0
                ELSE CAST(len(string_split(query, '&')) AS BIGINT) END
             AS n_query_params,
           'https://' || lower(authority) || trim(TRAILING '/' FROM path) ||
             CASE WHEN id_str IS NOT NULL THEN '?id=' || id_str ELSE '' END
             AS canonical_url
    FROM parsed
    """,
    tags=("scalar", "text"),
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + canonicalization — the web-corpus curation
    primitive (URL-level dedup, domain frequency caps, tracking-param
    stripping all start here). The builder parses with Spark's
    ``parse_url`` (java.net.URI-backed HOST/AUTHORITY/PATH/QUERY/REF
    component extraction); the oracle re-derives every component with
    RE2 regexes over the SAME synthesized string (_URL_RAW, shared
    verbatim) — a hash match proves the two parsers agree on hosts,
    ports, paths, query params and fragments across every branch of
    the closed form. The canonical form (lowercased authority,
    trailing slash trimmed, tracking params dropped, fragment dropped,
    id param kept) is rebuilt from each engine's OWN parsed pieces, so
    a component-level divergence cannot cancel out.

    Parity traps handled: parse_url returns NULL for absent components
    while regexp_extract returns '' — NULLIF on the oracle side; the
    id lookup uses parse_url's keyed form (QUERY, 'id'), whose
    (^|&)id= anchoring the oracle mirrors with [?&]id= so a
    'utm_campaign' value can never false-match.

    Scale: pure per-row projection over one scan — no shuffle, no UDF,
    whole-stage codegen end to end."""
    d = table(spark, sf_dir, "documents")
    u = d.select("doc_id", F.expr(_URL_RAW).alias("url"))
    p = u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("AUTHORITY")).alias("authority"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("id")).alias("id_str"),
    )
    return p.select(
        "doc_id",
        "host",
        "authority",
        "path",
        F.col("id_str").cast("long").alias("id_param"),
        (F.col("authority") != F.col("host")).alias("has_port"),
        F.col("url").contains("#").alias("has_fragment"),
        F.when(F.col("query").isNull(), F.lit(0).cast("long"))
        .otherwise(F.size(F.split("query", "&")).cast("long"))
        .alias("n_query_params"),
        F.concat(
            F.lit("https://"),
            F.lower("authority"),
            F.expr("trim(TRAILING '/' FROM path)"),
            F.when(
                F.col("id_str").isNotNull(), F.concat(F.lit("?id="), F.col("id_str"))
            ).otherwise(F.lit("")),
        ).alias("canonical_url"),
    )


@gate_query(
    "fn_collation",
    oracle="""
    WITH flipped AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS k,
             c_acctbal
      FROM customer
    )
    SELECT lower(k) AS segment_lc,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_case_variants,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
    FROM flipped
    GROUP BY lower(k)
    ORDER BY segment_lc
    """,
    tags=("function", "sql"),
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION support — grouping under a case-insensitive
    collation (UTF8_LCASE) instead of normalizing with lower() in the
    key expression. The fixture's segments are single-case, so the
    gate deterministically case-flips them by key parity first, then
    groups BY the collated key: the engine's collation-aware hash
    must merge 'BUILDING' and 'building' into one group. Because the
    group's representative string is whichever casing a partition
    sees first (nondeterministic), the OUTPUT key is lower(k) — the
    canonical render — while n_case_variants counts the raw spellings
    (binary collation) actually merged per group, proving the merge
    happened rather than the flip being a no-op. DuckDB's oracle
    gets identical semantics with lower() grouping. At scale,
    collation-aware grouping beats expression-normalized keys when
    the normalized key must ALSO be output or joined with its
    original casing elsewhere — the collation rides the type, not
    the expression."""
    c = table(spark, sf_dir, "customer")
    flipped = c.select(
        F.when(F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment"))
        .otherwise(F.lower("c_mktsegment"))
        .alias("k"),
        "c_acctbal",
    )
    return (
        flipped.groupBy(F.expr("COLLATE(k, 'UTF8_LCASE')").alias("kc"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(F.col("k").cast("string")).alias("n_case_variants"),
            dsum("c_acctbal", "sum_bal"),
        )
        .select(
            F.lower(F.col("kc")).cast("string").alias("segment_lc"),
            "n_rows",
            "n_case_variants",
            "sum_bal",
        )
        .orderBy("segment_lc")
    )
