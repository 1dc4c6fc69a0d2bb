"""SparkSession factory with scale-oriented defaults.

The engine targets large multi-executor clusters (the reference's scenario 2
streams 1M rows, large_dbtable_example/init_postgresql_data_scenario2.sql:143;
production target is ~100 TB).  Everything here is cluster-safe config —
local[N] is only the test harness.

Key choices:
- AQE on with a HIGH initial shuffle partition count (2048): AQE coalescing
  only ever reduces partition counts from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``, it never
  increases them.  A low ceiling (e.g. 32) would mean multi-TB shuffle
  partitions at the 100 TB target.  2048 initial partitions coalesce down to
  a handful on toy scale factors but keep large shuffles parallel.
- UTC session timezone: the reference pins UTC in every timestamp cast
  (basic_example/clickhouse.sql:77-78 ``toDateTime64(..., 6, 'UTC')``).
- Arrow enabled: all Python-boundary work (pandas UDFs, mapInPandas for the
  multimodal/dedup operators) moves via Arrow batches, never row-at-a-time.
- ANSI off: the reference pipeline is permissive (ClickHouse
  ``kafka_skip_broken_messages``, clickhouse.sql:20) — malformed values
  become NULL and are filtered, they do not kill the job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


#: AQE coalesces small shuffles down to ~bytes/minPartitionSize tasks (default
#: floor 1 MB) — right for I/O-bound stages, wrong for compute-bound ones
#: (array dot-products, per-shingle hashing) where a few MB of input is
#: minutes of CPU: measured single-task post-shuffle stages on local[32].
#: 64 KB keeps small-shuffle stages parallel; at the 100 TB target partitions
#: are sized by advisoryPartitionSizeInBytes (64 MB), so the floor is inert.
_MIN_PARTITION_SIZE = "65536b"

#: File-split cost floor.  The 4 MB default makes a ~12 MB compressed table
#: scan as 3 tasks regardless of cores; 256 KB lets small-but-hot tables
#: split to cluster parallelism (measured: star join 2.7→2.1 s at sf0.1).
#: At the 100 TB target, per-table bytes/minPartitionNum dwarfs the floor,
#: so big-table scans are unaffected; the only scale effect is slightly less
#: combining of genuinely tiny files — one task per 256 KB file is fine.
_OPEN_COST = "262144b"

#: File-listing fan-out floor.  Above the default of 32 paths, opening a
#: file DataFrame lists them in a Spark job; silver reads pass the
#: manifest's explicit file list, so on a 64-bucket store that was a job
#: per trigger and per read just to stat known local files.  An
#: object-store port must revisit this: there each stat is a remote call.
_LISTING_THRESHOLD = "1000000"


#: Streaming checkpoint logs (offset WAL, commit log, source logs) go
#: through Spark's FileSystem-based checkpoint manager instead of the
#: default FileContext one: each small log write of a trigger costs ~13 ms
#: instead of ~40 ms on local disk (measured on a 4-core host).  It still
#: writes a temp file and renames it, refusing to overwrite an existing
#: batch file, which is what guards a batch id against a second writer.
_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable confs the engine's semantics depend on, for
    sessions the engine did not create (e.g. the driver harness passes its
    own SparkSession into the query surface):

    - ANSI off — permissive casts (bad value → NULL, the
      ``kafka_skip_broken_messages`` analogue, clickhouse.sql:20); Spark 4
      defaults ANSI on.
    - nanosAsLong — the events fixture stores TIMESTAMP(NANOS), which the
      parquet reader otherwise rejects.
    - the streaming checkpoint manager (see the constant above), unless
      the session names its own: a checkpoint on a store whose ``rename``
      is not atomic needs the default FileContext manager or another.
    """
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", _MIN_PARTITION_SIZE)
    spark.conf.set("spark.sql.files.openCostInBytes", _OPEN_COST)
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", _LISTING_THRESHOLD)
    # cached plans must stay AQE-coalescible (see get_spark) — without it a
    # foreign session with a high initialPartitionNum pays uncoalesced
    # shuffles under every persist() in the foreachBatch merges
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    if spark.conf.get("spark.sql.streaming.checkpointFileManagerClass", None) is None:
        spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER)
    return spark


def get_spark(
    app_name: str = "spark-cdc-analytics",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, ``master`` comes from spark-submit (or the
    ``SPARK_MASTER`` env var, used directly as the master URL); locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.

    Note: if a SparkSession already exists, ``getOrCreate()`` returns it and
    ignores every config passed here — callers wanting different settings
    must stop the existing session first.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = _cpus()
    # Map-side partition count for shuffles.  With AQE coalescing on, the
    # effective knob is initialPartitionNum: start high (scale-safe), let AQE
    # coalesce down for small inputs.  shuffle.partitions stays the non-AQE
    # fallback.
    n_shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus) * 4
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "2048")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", _MIN_PARTITION_SIZE)
        .config("spark.sql.files.openCostInBytes", _OPEN_COST)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", _LISTING_THRESHOLD)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Let AQE coalesce CACHED plans too (default false): with the
        # scale-tuned initialPartitionNum=2048, a persist() upstream of a
        # shuffle otherwise materializes all 2048 reduce tasks uncoalesced
        # — measured r8 on the foreachBatch merges, which persist the
        # per-batch aggregate (20.6s → ~3s at sf0.001).  Trade-off is only
        # that cache consumers may observe AQE-chosen partitioning.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # files.maxPartitionBytes default 128m is right for the 100 TB
        # target (≈800k input splits over 1000 executors); do not shrink it
        # for the toy SFs — AQE coalesces small shuffles instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # pandas-written fixtures carry TIMESTAMP(NANOS) which Spark's
        # reader rejects; read them as raw int64 ns and convert explicitly
        # (sources/files.py) — same µs truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER)
    )
    env_master = os.environ.get("SPARK_MASTER")
    if master:
        builder = builder.master(master)
    elif env_master:
        builder = builder.master(env_master)
    else:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
