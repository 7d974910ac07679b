"""Fixture-table catalog and loaders (SURVEY.md §1, FIXTURES.md).

The data model is the ten driver-provisioned parquet tables: a TPC-H-ish
star schema (region→nation→{customer,supplier}, part, orders→lineitem),
an append-only ``events`` stream table, a ``documents`` text corpus and
an ``embeddings`` vector store. Parquet is self-describing, so loaders
trust the footers: ``footer_schema`` reads a table's schema from one
footer on the driver, so no schema-inference job runs, and no casts
happen at scan time (casting at scan would defeat parquet predicate
pushdown).

Scale note: each table is one parquet file at fixture scale; at 100 TB
these become partitioned directories. ``table()`` takes any path Spark
can scan, so nothing here changes — partition pruning and row-group
pushdown come from Catalyst for free when filters are declarative.
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at ANY scale factor (they grow
# slowly or not at all with sf); used by join builders as hint targets.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. SURVEY.md §2.1 `scan_parquet`.

    ``events.ts`` precision varies by fixture generation: TIMESTAMP
    (NANOS) in driver rounds 1-2 (surfaces as int64 under
    ``spark.sql.legacy.parquet.nanosAsLong``, floor-divided here to a
    µs TimestampType — exactly matching the DuckDB oracle's ns→µs
    truncating cast), plain µs TIMESTAMP since round 3 (used as-is;
    both engines read it identically). The dtype guard handles either.
    The ns conversion is a cheap codegen'd projection; min/max
    row-group pruning on ts still works because the int64 ordering
    equals the timestamp ordering.

    The schema comes from ``footer_schema``: one footer read on the
    driver instead of ``spark.read.parquet``'s inference job (the same
    schema while ``spark.sql.parquet.mergeSchema`` is off, Spark's
    default), so a call costs about 20 ms warm at sf0.1 against 86-107
    ms and one job. A directory path reads its first data file's footer.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    reader = spark.read
    reader._jreader = reader._jreader.schema(footer_schema(spark, path))
    df = reader.parquet(path)
    if name == "events":
        df = ts_guard(df)
    return df


def footer_schema(spark: SparkSession, path: str):
    """The Spark schema of the parquet file or directory at ``path``,
    read from one footer on the driver, as a JVM ``StructType`` to hand
    straight to a JVM reader (``table``, ``streaming.twins``).

    ``spark.read.parquet(path)`` resolves the same schema with a Spark
    job, even for one local file. That job runs these same two calls on
    an executor: ``ParquetFooterReader.readFooter``, then
    ``ParquetFileFormat.readSchemaFromFooter`` with a converter built
    from the live session conf, so ``nanosAsLong``,
    ``inferTimestampNTZ`` and the Spark-written schema key all apply.
    Classes are looked up by full name (``JavaClass``): a walk down
    ``spark._jvm.org.apache...`` costs one Py4J round trip per dotted
    segment and made the call about three times slower. Warm, per call,
    sf0.1, 4 cores: ``spark.read.parquet`` 86-107 ms and one job;
    ``footer_schema`` about 5 ms and ``table()`` 19-23 ms (37 ms for
    events, whose ts guard reads the dtypes), no job.

    A directory (the 100 TB layout) gives the footer of its first data
    file in path order, skipping ``_``- and ``.``-prefixed names other
    than ``k=v`` partition directories. That is the file Spark reads
    when ``spark.sql.parquet.mergeSchema`` is off, its default, which
    this package never changes; Spark still adds partition columns
    from the paths. Nothing is cached, so a regenerated fixture is read
    afresh and every call builds a new relation (self-joins need one).
    """

    def jclass(name: str) -> JavaClass:
        return JavaClass(name, spark._jvm._gateway_client)

    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    root = jclass("org.apache.hadoop.fs.Path")(path)
    fs = root.getFileSystem(conf)
    data = _first_data_file(fs, fs.getFileStatus(root))
    if data is None:
        raise FileNotFoundError(f"no parquet data file under {path}")
    footer = jclass(_PARQUET + "ParquetFooterReader").readFooter(
        jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(data, conf),
        jclass("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
    )
    return jclass(_PARQUET + "ParquetFileFormat").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(data.getPath(), footer),
        jclass(_PARQUET + "ParquetToSparkSchemaConverter")(state.conf()),
    )


def _first_data_file(fs, status):
    """The first visible file at or under ``status`` in the order Spark
    sorts leaf paths (as strings), or None. Costs one listing per
    directory on the way down and a few calls per entry listed."""
    if not status.isDirectory():
        return status
    entries = []
    for child in fs.listStatus(status.getPath()):
        name = child.getPath().getName()
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        # a directory's files sort as "<name>/...": "a-b" before "a/x"
        entries.append((name + "/" if child.isDirectory() else name, child))
    for _, child in sorted(entries, key=lambda e: e[0]):
        found = _first_data_file(fs, child)
        if found is not None:
            return found
    return None


def ts_guard(df: DataFrame) -> DataFrame:
    """THE one events.ts dtype guard, shared by the batch reader above
    and streaming/twins.events_stream (r6 review: two verbatim copies
    risked patching the next fixture physical-type change in only one
    place). ts has already changed representation once across driver
    rounds (TIMESTAMP(NANOS) in r1-r2, µs TIMESTAMP_NTZ since r3):

    - int64 nanos (nanosAsLong): truncating ns→µs convert;
    - TIMESTAMP_NTZ: cast to TIMESTAMP(LTZ) — the session tz is
      pinned UTC (session.configure), so the cast is value-preserving,
      keeps the output schema every gate and the driver's schema hash
      have always seen, and satisfies watermarks (which require ltz).
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def scan_bytes(df: DataFrame) -> int:
    """Spark's size estimate of ``df``'s optimized plan, in bytes: the
    summed file sizes for a scan, scaled down by any projection. Read
    from plan statistics, so it launches no job, runs no physical
    planning and sizes a partitioned directory or a remote path by its
    files."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a scan that holds too few data-bearing units to
    fill the cores, so CPU-heavy downstream work (per-row array
    building, tokenizing, the pairs of a nested-loop join) runs on
    every core. This is the package's one read-side
    widening rule: operators call it rather than a literal
    ``repartition(n)``. A BNLJ inherits its streamed side's
    partitioning, so widen that side (the corpus against broadcast
    queries, the left side of a self pair join).

    ``need = max(2, cores // 2)`` units, where a unit is one
    ``spark.sql.files.maxPartitionBytes`` slice of the input or one
    input file (a row group never splits across tasks, so a split
    count overstates the parallelism of a one-row-group file: Spark
    cuts the 10.8 MB sf0.1 lineitem into 3 splits, 2 of them empty).
    The rule, size first:

    - no-op when ``scan_bytes(df) >= need * maxPartitionBytes`` — the
      100 TB case, decided before the driver lists any file;
    - no-op when ``df`` reads ``>= need`` files — the multi-file case;
    - otherwise ``df.repartition(cores, key)``.

    Both tests read plan statistics and the file index, so this
    launches no job and plans nothing physically at build time.

    Hash on a high-cardinality ``key``, not round-robin: Spark sorts
    every row before a round-robin exchange so that task retries
    reproduce it; a hash exchange needs no sort. Only worth it when
    per-row work dominates: shuffle-all-values shapes (collect_list
    percentiles, count-distinct expands) and cheap partial aggregates
    (the long-limb exact sums) lose more to the added exchange than they
    gain — measured, not assumed.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    need = max(2, cores // 2)
    unit = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if scan_bytes(df) >= need * unit or len(df.inputFiles()) >= need:
        return df
    return df.repartition(cores, key)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table (lazy — just plan nodes, no IO yet)."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for the SQL entry path
    (SURVEY.md §2.1 `table_register`, §3.3) — mirrors the DuckDB
    oracle's pre-registered view names."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
