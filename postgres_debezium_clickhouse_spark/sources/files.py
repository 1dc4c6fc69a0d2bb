"""File-based sources: parquet fixture tables (S9) and typed JSON
object-store ingestion (S2/S6).

The reference's object-store path (minio_cdc_example/) moves JSON files
from a MinIO bucket through an S3 source connector into Kafka
(connect-minio-source.json:4-14) and parses them with a typed
``JSONEachRow`` Kafka table (clickhouse_minio.sql:14-26).  Spark's file
source subsumes the connector: one ``readStream.schema(s).json(path)``
replaces bucket-watch + Kafka hop (SURVEY §3.3).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_session_confs

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


#: inferred parquet schemas keyed on (realpath, st_mtime_ns, st_size) of a
#: regular file: a rewritten file gets a new key, so a hit is never stale
_SCHEMAS: dict[tuple, T.StructType] = {}


def _read_parquet(spark: SparkSession, path: str, immutable: bool = False) -> DataFrame:
    """``spark.read.parquet(path)`` that runs its footer (schema inference)
    job only on the first read of a regular file; later reads pass the
    cached schema.  Non-local paths are always inferred, and so are
    directories — a file rewritten inside one leaves the directory's stat
    unchanged — unless the caller vouches with ``immutable`` that the
    directory is published once and never rewritten (a content-addressed
    cache entry)."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not (stat.S_ISREG(st.st_mode) or immutable):
        return spark.read.parquet(path)
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    if key not in _SCHEMAS:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(_SCHEMAS[key]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S9 — one fixture table (columnar parquet scan; Catalyst pushes
    filters/pruning into the scan automatically).

    Timestamp normalization: the fixtures store ns-precision timestamps
    (illegal for Spark's parquet reader) — read as int64 ns via
    ``nanosAsLong`` (session.py) and truncate to µs TIMESTAMP_NTZ, exactly
    what DuckDB's reader does, so oracle comparisons see identical values.
    Repeated loads of an unchanged fixture file run no Spark job
    (``_read_parquet``).
    """
    # The caller's session (e.g. the driver harness's) may not carry the
    # engine-required confs (ANSI off, nanos read path) — set them here,
    # idempotently, so every query works on any session.
    ensure_session_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col_name, dtype in df.dtypes:
        if name == "events" and col_name == "ts" and dtype == "bigint":
            df = df.withColumn(
                col_name,
                F.timestamp_micros(F.expr(f"{col_name} div 1000")).cast("timestamp_ntz"),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """D1/D4 — expose fixture tables to Spark SQL by name."""
    for t, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(t)


def read_typed_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S2 (batch) — JSONEachRow equivalent: schema-on-write typed parse
    (clickhouse_minio.sql:14-26).  PERMISSIVE mode: malformed rows → nulls
    (kafka_skip_broken_messages equivalent)."""
    return spark.read.schema(schema).json(path)


def read_typed_json_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S6 (stream) — object-store file discovery as a streaming source: new
    JSON objects under ``path`` become micro-batches, replacing the S3
    source connector (connect-minio-source.json:1-18).

    ``max_files_per_trigger`` is the T7 backpressure knob (the
    ``max.batch.size``/``poll.interval.ms`` equivalent,
    abcsvb-connector-secure.json:44-46): bounds per-micro-batch work so a
    backlog of files never produces one giant batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned layout (``path/col=value/…``): the directory
    scheme that makes partition PRUNING possible — a filter on a partition
    column never touches non-matching directories, the single biggest I/O
    lever on a date/tenant-partitioned 100 TB table.  Pair with
    ``cluster_by_key``/``cluster_by_zorder`` INSIDE partitions for
    row-group skipping on the remaining columns."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compute_table_stats(spark: SparkSession, tables: list[str], columns: bool = True) -> None:
    """ANALYZE TABLE for the cost-based optimizer: row counts + (optionally)
    per-column min/max/ndv/null stats.  At 100 TB this is what lets
    Catalyst reorder multi-way joins by true selectivity and pick
    broadcast sides by measured size rather than file-size guesses — run it
    after large loads/compactions, like the reference relies on
    ClickHouse's part-level statistics."""
    for t in tables:
        if columns:
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")
        else:
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
