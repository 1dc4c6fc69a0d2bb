"""Scratch-and-replay harness for the stream and store queries.

Every stream or store query in ``plans/`` checks one property: replay a
table as a multi-trigger file stream (or publish it as a store), read the
result back, and compare it with a batch oracle.  This module owns that
round trip's lifecycle, so the queries only state their scenario:

* per-run scratch directories, removed on exit even when the body raises;
* the streaming shuffle width for the scope, restored on exit — streaming
  disables AQE, so the session width is the raw state-store and merge
  width of every trigger; at fixture scale its fixed per-partition cost
  dominates (a real deployment sizes it to key cardinality instead);
* the fixture replay: ``files`` files read back ``per_trigger`` per
  micro-batch, so batch boundaries are actually exercised;
* a loud await: a stream that does not finish in time is stopped and
  refused with ``TimeoutError`` — a partial result must never reach the
  oracle compare;
* the single eager materialization of the result, made before the
  scratch directories it reads from are deleted.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: shuffle width of every stream started inside a scratch scope
STREAM_SHUFFLE_PARTITIONS = "8"
#: seconds a started stream may run before it is stopped and refused
AWAIT_TIMEOUT_S = 600
#: bucket count of the stores the queries publish
STORE_BUCKETS = 8


class Scratch:
    """One run's scratch space; open it with :func:`scratch`."""

    def __init__(self, spark: SparkSession, tag: str) -> None:
        self.spark = spark
        self.run = uuid.uuid4().hex[:12]
        self.root = f"{tempfile.gettempdir()}/{tag}_{self.run}"

    def dir(self, name: str) -> str:
        """Path of the run's directory ``name`` (created by its first
        writer, removed with the scope)."""
        return f"{self.root}/{name}"

    def replay(self, df: DataFrame, *, files: int, per_trigger: int,
               fmt: str = "parquet", schema=None, name: str = "src") -> DataFrame:
        """Write ``df`` as ``files`` ``fmt`` files under ``name`` and return
        the file stream over them, ``per_trigger`` files per micro-batch,
        read with ``schema`` (default: ``df``'s).  The stream lists its
        directory when it starts, not here."""
        path = self.dir(name)
        df.repartition(files).write.mode("overwrite").format(fmt).save(path)
        return (
            self.spark.readStream.schema(schema or df.schema)
            .option("maxFilesPerTrigger", str(per_trigger))
            .format(fmt)
            .load(path)
        )

    def drain(self, stream: DataFrame, batch_fn=None, mode: str = "append") -> str:
        """Run ``stream`` to completion (availableNow, checkpoint ``ckpt``)
        through ``batch_fn(batch, epoch)`` when given, else into a parquet
        sink at ``out``; return the ``out`` path."""
        w = stream.writeStream.outputMode(mode).option(
            "checkpointLocation", self.dir("ckpt")
        )
        if batch_fn is None:
            w = w.format("parquet").option("path", self.dir("out"))
        else:
            w = w.foreachBatch(batch_fn)
        self.wait(w.trigger(availableNow=True).start())
        return self.dir("out")

    def wait(self, query: StreamingQuery) -> None:
        """Await ``query``; on timeout stop it (no zombie stream behind the
        error) and raise instead of returning a partial result."""
        if not query.awaitTermination(AWAIT_TIMEOUT_S):
            query.stop()
            raise TimeoutError(
                f"stream did not finish in {AWAIT_TIMEOUT_S}s — refusing "
                "to return a partial result"
            )

    def publish(self, df: DataFrame, keys: list[str], name: str = "store") -> str:
        """Commit ``df`` as the next full version of the run's store
        ``name`` (every bucket rewritten, rows live) and return its path.
        The first call seeds version 0 with ``STORE_BUCKETS`` buckets."""
        from ..streaming.pipeline import _SilverStore

        path = self.dir(name)
        store = _SilverStore.load_or_new(path, STORE_BUCKETS)
        store.publish(df.withColumn("__deleted", F.lit(False)), keys, store.all_buckets)
        return path

    @staticmethod
    def materialize(df: DataFrame) -> DataFrame:
        """The result, computed now: the scope deletes what it reads."""
        return df.localCheckpoint(eager=True)


@contextmanager
def scratch(spark: SparkSession, tag: str) -> Iterator[Scratch]:
    """Open a run's scratch space: directories under ``<tmp>/<tag>_<run>``
    and the streaming shuffle width, both undone on exit."""
    s = Scratch(spark, tag)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)
    try:
        yield s
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(s.root, ignore_errors=True)


def mv_replay(spark: SparkSession, tag: str, source_df: DataFrame,
              transform: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """The registered-MV round trip: replay ``source_df`` (4 files, 2 per
    trigger), register ``transform`` over it as a materialized view, await
    it, and always drop the registration — a stale entry would make a
    same-process retry re-register over a live name."""
    from ..streaming.pipeline import Pipeline

    pipe = Pipeline(spark)
    with scratch(spark, tag) as s:
        name = f"{tag}_mv_{s.run}"
        mv = pipe.register_mv(
            name, s.replay(source_df, files=4, per_trigger=2), transform,
            s.dir("out"), s.dir("ckpt"), available_now=True,
        )
        try:
            s.wait(mv.query)
        finally:
            pipe.drop_mv(name)
        return s.materialize(spark.read.parquet(s.dir("out")))
