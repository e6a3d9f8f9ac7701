"""Table sources over the TESTDATA star schema (TESTDATA.md).

The reference supports exactly one source — a splittable local text file
(mapreduce.c:19-30; see jobs.letter_counter.read_lines). The engine adds
the full Spark source surface: parquet (primary), csv, json, orc, text.

Scale notes (100 TB):
- Parquet scans get predicate pushdown + column pruning from Catalyst
  for free — verified in plans/audit.py (``PushedFilters``/``ReadSchema``).
- ``spark.sql.files.maxPartitionBytes`` (default 128 MB) governs scan
  parallelism; at 100 TB that is ~800k tasks — AQE coalesces after
  filters. No per-table tuning is hard-coded here on purpose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
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
]


# Analyzed-plan memo, scoped per SparkSession. ``spark.read.parquet``
# re-lists the directory and re-reads footers for schema inference on EVERY call —
# ~120 ms of pure driver time per table reference, which dominated the
# suite's small-scan queries (word_finder spent more time inferring the
# schema than running the job). A DataFrame is an immutable lazy plan, so
# reusing it is semantically identical; the data is still scanned fresh
# at each action. Same idea as a catalog table's cached relation.
#
# STATIC-DATA ASSUMPTION: the memoized plan pins the FILE LISTING taken
# when the table was first referenced. Files added to (or removed from)
# the same sf_dir later in the session are invisible to subsequent
# table() calls — fine for the read-only benchmark dirs this serves, a
# silent staleness hazard for a session that rewrites a table directory.
# Callers that regenerate data mid-session must call
# ``invalidate(spark, sf_dir)`` (or invalidate(spark) for everything)
# to force a re-list on next use.
#
# The memoized frames hold their session, so a weak key would never be
# collected; a stopped session's entry is dropped instead when a new
# session first calls table(). The memo-hit path stays free of JVM calls.
_TABLE_MEMO: dict[SparkSession, dict] = {}


def invalidate(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop memoized table plans so the next ``table()`` call re-lists
    files and re-infers schema. ``sf_dir=None`` clears the whole
    session's memo; otherwise only that directory's tables."""
    memo = _TABLE_MEMO.get(spark)
    if not memo:
        return
    if sf_dir is None:
        memo.clear()
    else:
        for key in [k for k in memo if k[0] == sf_dir]:
            del memo[key]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table (parquet, columnar, splittable)."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    memo = _TABLE_MEMO.get(spark)
    if memo is None:
        # SparkContext.stop() clears _jsc; reading it makes no JVM call
        for stopped in [s for s in _TABLE_MEMO if s.sparkContext._jsc is None]:
            del _TABLE_MEMO[stopped]
        memo = _TABLE_MEMO[spark] = {}
    key = (sf_dir, name)
    if key not in memo:
        if name == "events":
            memo[key] = _events(spark, sf_dir)
        else:
            memo[key] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return memo[key]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped two ``ts`` encodings across dataset
    generations: INT64 TIMESTAMP(NANOS) — which the Spark 4 parquet reader
    rejects outright (PARQUET_TYPE_ILLEGAL) unless read as raw long via the
    legacy conf — and a plain TIMESTAMP(MICROS). Normalize both to a
    microsecond timestamp column, the same value DuckDB sees."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return normalize_events_ts(df)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Map a raw events scan to the canonical ``ts: timestamp`` column,
    whichever physical encoding the parquet carries."""
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # integer DIV, not `/`: double division loses precision at 1e18 ns
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # Watermarks/windows require TIMESTAMP (with zone). Session tz is
        # pinned to UTC (session.py), so the cast preserves the instant.
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text source (the reference's only source, S1/S2)."""
    return spark.read.text(path)


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(header="true", inferSchema="true", **options).csv(path)


def read_json(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row", **options) -> DataFrame:
    """Built-in XML datasource (Spark 4)."""
    return spark.read.format("xml").option("rowTag", row_tag).options(**options).load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row", root_tag: str = "rows") -> None:
    df.write.format("xml").option("rowTag", row_tag).option(
        "rootTag", root_tag
    ).mode("overwrite").save(path)


def avro_available(spark: SparkSession) -> bool:
    """The Avro DataSource lives in the external spark-avro module
    (--packages org.apache.spark:spark-avro_2.13:<ver> on a cluster);
    the bare pyspark wheel ships only the Avro format jars, not the
    datasource, so reads/writes are gated on a cheap probe."""
    try:
        spark.read.format("avro").schema("x int").load("/nonexistent__probe__")
        return True
    except Exception as ex:  # noqa: BLE001 — classify by message
        return "Failed to find data source" not in str(ex)


def read_avro(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.format("avro").options(**options).load(path)


def write_avro(df: DataFrame, path: str) -> None:
    df.write.format("avro").mode("overwrite").save(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table — the co-located-join primitive.

    Two tables bucketed by the same key into the same bucket count join
    WITHOUT a shuffle exchange on either side (asserted in
    tests/test_plans.py): at 100 TB this turns every recurring
    fact-to-fact join on the bucket key into a zero-shuffle map-side
    join, the single biggest cost lever for repeated pipelines. Spark
    bucketing = hive-compatible hash partitioning persisted in the table
    metadata (the reference has no storage layer at all — EXT)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink. ``partition_by`` → hive-style partition pruning on read."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_single_text_file(df: DataFrame, path: str) -> None:
    """Reference-parity sink: ONE text file like mr.rst (mapreduce.c:153-157).

    ``coalesce(1)`` — only for small final results; never on 100 TB paths.
    """
    df.coalesce(1).write.mode("overwrite").text(path)


def zorder_value(col_a, col_b, bits: int = 8) -> "F.Column":
    """Morton (Z-order) interleave of two non-negative ints, JVM-side.

    Each input must already fit in ``bits`` bits; bit i of A lands at
    output bit 2i+1 and bit i of B at 2i — a pure shiftleft/or
    expression tree (no UDF), so codegen fuses it into the write stage.
    """
    a = F.col(col_a).cast("long") if isinstance(col_a, str) else col_a.cast("long")
    b = F.col(col_b).cast("long") if isinstance(col_b, str) else col_b.cast("long")
    mask = (1 << bits) - 1
    a, b = a.bitwiseAND(F.lit(mask)), b.bitwiseAND(F.lit(mask))
    z = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(bit_a, 2 * i + 1)).bitwiseOR(
            F.shiftleft(bit_b, 2 * i)
        )
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 8,
) -> None:
    """Z-order-clustered parquet: range-partition + sort by the Morton
    interleave of two columns, so each output file covers a compact
    rectangle in (A, B) space and its parquet min/max stats are tight on
    BOTH columns.

    Both columns are min/max-normalized onto the full 2^bits grid before
    interleaving — raw interleave lets the wider-domain column dominate
    the high bits and the narrow column degenerates to a full-range span
    in every file (measured here: custkey 0-149 vs orderkey 0-1499 made
    custkey stats useless). The min/max pass is one tiny aggregate (two
    scalars), negligible next to the write.

    Why it matters at 100 TB: hive partitioning prunes on ONE column
    hierarchy; Z-order makes file/row-group skipping effective for point
    and range predicates on EITHER of two correlated access columns
    without duplicating the data. ``repartitionByRange`` samples the z
    values for balanced splits; ``sortWithinPartitions`` tightens
    row-group stats inside each file. (Same layout idea Delta/Iceberg
    expose as OPTIMIZE ZORDER BY — here as a plain-parquet primitive.)
    """
    lo_a, hi_a, lo_b, hi_b = (
        df.agg(
            F.min(col_a).cast("double"),
            F.max(col_a).cast("double"),
            F.min(col_b).cast("double"),
            F.max(col_b).cast("double"),
        ).first()
    )
    grid = float((1 << bits) - 1)

    def norm(col: str, lo: float, hi: float) -> F.Column:
        span = (hi - lo) or 1.0
        return F.round((F.col(col).cast("double") - F.lit(lo)) * grid / span).cast(
            "long"
        )

    z = zorder_value(norm(col_a, lo_a, hi_a), norm(col_b, lo_b, hi_b), bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. Returns the file count written.

    The small-files problem is the classic 100 TB operational failure
    (a streaming sink or over-parallel job leaves millions of KB-scale
    files; every later scan pays per-file open cost and the driver pays
    per-file listing). Sizing uses the actual on-disk bytes — not row
    counts — so compression ratio carries over; the rewrite is one
    scan + one round-robin repartition, no shuffle key needed.
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(path).repartition(n).write.mode("overwrite").parquet(out_path)
    return n
