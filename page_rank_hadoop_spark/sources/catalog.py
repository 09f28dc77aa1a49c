"""Parquet table catalog over the driver's testdata layout.

Analog of the reference's sources (SURVEY.md S1/S2/S6): the reference read
line-oriented text and SequenceFiles (pageRank.scala:342,351 in
/root/reference); we standardize on columnar parquet so Catalyst gets
predicate pushdown, column pruning and vectorized reads for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from page_rank_hadoop_spark.session import _scoped

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


# raw parquet schema per (path, source_fingerprint): inference runs a
# Spark job, so only the first read of each file version pays it
_SCHEMAS: dict[tuple, StructType] = {}


def source_fingerprint(sf_dir: str, table: str = "events") -> tuple:
    """Cheap content fingerprint of the source parquet under sf_dir:
    (file count, total size, max mtime). Keys every memo of data derived
    from a source file (the schema memo here, the replays' stage cache),
    so regenerated data misses the memo instead of serving stale state."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    files = [path]
    if os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
    stats = [os.stat(f) for f in files if os.path.exists(f)]
    return (
        len(stats),
        sum(s.st_size for s in stats),
        max((s.st_mtime_ns for s in stats), default=0),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. A bare parquet read keeps the scan
    declarative so filters/projections from downstream operators reach the
    parquet reader (check ``PushedFilters``/``ReadSchema`` in explain).
    The raw schema is inferred on the first read of each file version
    only (``_SCHEMAS``); later reads pass it to the reader and run no
    Spark job before their action.

    ``events.parquet`` stores TIMESTAMP(NANOS), which the vectorized Spark
    reader rejects; we infer it as long nanos (legacy conf, set inside the
    session's settings lock and restored after) and convert to a
    microsecond timestamp (same truncation DuckDB applies on its ns→µs
    read).

    Timestamps annotated isAdjustedToUTC=false come back as TIMESTAMP_NTZ;
    we normalize those to TIMESTAMP (session tz is pinned UTC, so the
    instant is unchanged) because DuckDB oracles and the time functions
    (unix_micros, window()) expect the LTZ type.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (os.path.abspath(path), source_fingerprint(sf_dir, name))
    schema = _SCHEMAS.get(key)
    if schema is None:
        pins = {"spark.sql.legacy.parquet.nanosAsLong": "true"} if name == "events" else {}
        with _scoped(spark, None, None, pins):
            schema = spark.read.parquet(path).schema
        _SCHEMAS[key] = schema
    df = spark.read.schema(schema).parquet(path)
    return _ltz(normalize_ts(df) if name == "events" else df)


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Schema-adaptive event-time normalization: long nanos → µs timestamp
    (integer div — float division loses precision at 1e18 nanos), NTZ →
    LTZ, plain timestamp untouched. Shared by the batch catalog reader and
    the streaming replay/join sources so every path sees one ts type
    regardless of how the parquet writer annotated it."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn(col, df[col].cast("timestamp"))
    return df


def _ltz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP. With the UTC session
    timezone this is a type-level relabel, not a value shift."""
    ntz = [c for c, d in df.dtypes if d == "timestamp_ntz"]
    if not ntz:
        return df
    return df.withColumns({c: df[c].cast("timestamp") for c in ntz})


def ensure_parallel(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Small-input parallelism guard for map-heavy operators: if the scan
    yields fewer partitions than ``min_fraction × defaultParallelism``
    (e.g. one tiny parquet row group locally), round-robin repartition to
    the full core count so per-row-expensive projections (shingle
    hashing, winnowing, offset scans) use every core.

    At 100 TB this is a no-op: `spark.sql.files.maxPartitionBytes`
    already splits big inputs into >= cores partitions, so the guard
    never fires and no shuffle is added. The repartition only triggers on
    inputs small enough that shuffling them is free (one tiny exchange
    unlocks N-way map parallelism).

    Deliberately applied at the per-operator call sites (not hoisted into
    load_table): scan-purity queries (q_scan_project, q_tokenize_explode)
    pin 'no Exchange' in the plan audit — a projection must not shuffle —
    so only operators whose per-row work dominates scan cost opt in."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, int(target * min_fraction)):
        return df.repartition(target)
    return df


DOCUMENTS_JSONL_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars INT, "
    "_corrupt STRING"
)


def read_documents_jsonl(
    spark: SparkSession, path: str, drop_corrupt: bool = True
) -> DataFrame:
    """Schema-on-read JSONL ingestion for the documents table — the crawl
    dump arrives as JSON lines long before it becomes parquet. Explicit
    schema (never inferSchema: at 100 TB inference is a full extra pass),
    PERMISSIVE mode with a named corrupt-record column so malformed lines
    are quarantined, not fatal; ``drop_corrupt=False`` returns them for a
    dead-letter sink. JSON line reads are splittable, so ingestion
    parallelizes per-block like any text scan.
    """
    df = (
        spark.read.schema(DOCUMENTS_JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    if drop_corrupt:
        return df.filter(df["_corrupt"].isNull()).drop("_corrupt")
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register testdata tables as temp views so operators can be written in
    SQL when that is the clearer form."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
