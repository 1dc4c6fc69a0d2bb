"""Synthetic Debezium-envelope CDC event generation + envelope parsing.

The reference's CDC source is the Debezium PostgresConnector (S4,
basic_example/debezium-pg-connector.json:1-21): an initial consistent
snapshot (every row emitted with ``op='r'``, ``snapshot.mode=initial``,
line 18) followed by WAL streaming (``op`` c/u/d).  Spark has no WAL
parser, so the engine (a) consumes the same envelope JSON from Kafka in
production and (b) SYNTHESIZES a deterministic envelope stream from the
driver's parquet fixtures for tests/benchmarks — modeled byte-for-byte on
the captured sample message basic_example/value.json:760-842.

The generated log covers, deterministically (no randomness — the driver's
DuckDB oracle must reproduce the final state in pure SQL):

- snapshot reads      op='r', version ts_ms=1_000_000           (T5)
- updates             op='u' for keys %3==0  (ts 2_000_000+key)
- second updates      op='u' for keys %9==0  (ts 3_000_000+key) — proves
                      max-version wins over intermediate versions
- deletes             op='d' for keys %7==0  (ts 4_000_000+key) with a full
                      ``before`` image (REPLICA IDENTITY FULL,
                      init_postgresql_data.sql:73-75)           (T4)
- duplicate delivery  every update is emitted twice at distinct offsets
                      (at-least-once Kafka semantics)           (T1)
- out-of-order        events carry no ordering guarantee; correctness comes
                      from version latest-wins, not arrival order (T3)

Wire conventions mirrored from the reference connectors:
- decimals as strings  (decimal.handling.mode=string,
  debezium-pg-connector.json:19)
- timestamps as µs-epoch int64 (MicroTimestamp, value.json:96-99)
- Kafka record = (key JSON, value JSON, partition, offset), topic
  ``<prefix>.<schema>.<table>`` (clickhouse.sql:17)
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import ts_to_micros
from ..schemas import CUSTOMER_CDC_ROW, ORDERS_CDC_ROW
from ..session import ensure_session_confs
from .files import _read_parquet

N_PARTITIONS = 8  # synthetic topic partition count

#: bumped whenever the generator's OUTPUT SHAPE changes (r15: orders
#: records gained the ``headers`` map, then the ``timestamp`` record
#: plane) — part of the wire-cache key, so a code upgrade can never
#: serve a stale-schema cached log
WIRE_GEN_VERSION = "g3"

#: base fixture each wire log derives from (cache-fingerprint source)
_WIRE_SOURCES = {
    "orders_events": "orders.parquet",
    "customer_events": "customer.parquet",
    "products_events": "part.parquet",
    "passport_events": "customer.parquet",
}


def _wire_cache_root() -> str | None:
    """Directory for the materialized wire log, or None when disabled via
    ``SPARK_GRAFT_WIRE_CACHE=off``."""
    root = os.environ.get("SPARK_GRAFT_WIRE_CACHE", "")
    if root.lower() in {"off", "0", "no"}:
        return None
    return root or os.path.join(tempfile.gettempdir(), "spark_graft_wire")


def _fixture_fingerprint(path: str) -> str:
    """mtime+size fingerprint of a fixture file (or directory of files):
    the cache must invalidate if the driver regenerates the fixtures in
    place — path identity alone would serve stale events silently."""
    entries = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, f))
            entries.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    elif os.path.exists(path):
        st = os.stat(path)
        entries.append(f"{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5("|".join(entries).encode()).hexdigest()[:10]


def materialized_wire_log(
    spark: SparkSession, sf_dir: str, table: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Synthesize the deterministic wire log ONCE per (fixture dir, table),
    persist it as parquet, and serve reads from the persisted copy.

    This mirrors the reference's architecture: the Debezium→Kafka topic is a
    DURABLE log (retention-backed; the raw-archive tables in
    init_clickhouse_raw_tables.sql:28-48 make it permanent) — consumers parse
    it, they never re-create it.  Re-running ``to_json`` over the base
    fixtures on every query would bill fixture *construction* to query time.
    The generator is deterministic (module docstring), so the cache is
    content-stable; the key includes the fixture dir's absolute path (keeps
    scale factors apart) AND an mtime+size fingerprint of the source table
    (invalidates if the fixtures are regenerated in place).  Writes go
    through a temp dir + atomic rename so concurrent callers never see a
    partial log.
    """
    root = _wire_cache_root()
    if root is None:
        return build()
    sf_abs = os.path.abspath(sf_dir)
    src = _WIRE_SOURCES.get(table)
    fp = _fixture_fingerprint(os.path.join(sf_abs, src)) if src else "nosrc"
    tag = hashlib.md5(sf_abs.encode()).hexdigest()[:8]
    path = os.path.join(
        root,
        f"{os.path.basename(sf_abs)}-{tag}",
        f"{table}-{fp}-{WIRE_GEN_VERSION}",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{os.getpid()}"
        # write one file per core: the downstream from_json parse is
        # CPU-bound, and a wide file layout parallelizes it for free at
        # read time (no repartition shuffle in the query plans)
        build().repartition(spark.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            os.rename(tmp, path)
        except OSError:  # lost a race: another process published it first
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    # the published directory is never rewritten: its schema is cached
    return _read_parquet(spark, path, immutable=True)
SNAPSHOT_TS = 1_000_000
UPDATE1_TS = 2_000_000
UPDATE2_TS = 3_000_000
DELETE_TS = 4_000_000


def _orders_after(total_delta: float, status: str | None) -> F.Column:
    """Build the wire-format ``after`` struct for an orders row."""
    return F.struct(
        F.col("o_orderkey").alias("o_orderkey"),
        F.col("o_custkey").alias("o_custkey"),
        (F.lit(status) if status else F.col("o_orderstatus")).alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(total_delta)).cast("string").alias("o_totalprice"),
        ts_to_micros("o_orderdate").alias("o_orderdate"),
        F.col("o_orderpriority").alias("o_orderpriority"),
    )


def _envelope(after: F.Column | None, before: F.Column | None, op: str, ts: F.Column) -> F.Column:
    null_row = F.lit(None).cast(ORDERS_CDC_ROW)
    source = F.struct(
        F.lit("2.4.0.Final").alias("version"),
        F.lit("postgresql").alias("connector"),
        F.lit("poc").alias("name"),
        ts.alias("ts_ms"),
        F.lit("first" if op == "r" else "false").alias("snapshot"),
        F.lit("poc").alias("db"),
        F.lit("public").alias("schema"),
        F.lit("orders").alias("table"),
        (F.col("o_orderkey") + 100).alias("txId"),
        (F.col("o_orderkey") * 1000).alias("lsn"),
    )
    return F.to_json(
        F.struct(
            F.struct(
                (before if before is not None else null_row).alias("before"),
                (after if after is not None else null_row).alias("after"),
                source.alias("source"),
                F.lit(op).alias("op"),
                ts.alias("ts_ms"),
                F.lit(None).cast("struct<id:string,total_order:bigint,data_collection_order:bigint>").alias(
                    "transaction"
                ),
            ).alias("payload")
        )
    )


#: deterministic header-plane values (r15): Kafka record HEADERS, the
#: side channel upstream SMTs park routing/audit metadata in (Debezium's
#: HeaderToValue SMT exists to surface them).  Spark's Kafka source
#: exposes them as key/value pairs with includeHeaders=true; the
#: synthetic log models the decoded form, map<string,string>.
_HEADER_REGIONS = ("us", "eu", "ap", "sa")


def _headers(offset_slot: int) -> F.Column:
    k = F.col("o_orderkey")
    region = F.element_at(
        F.array(*[F.lit(r) for r in _HEADER_REGIONS]),
        (k % 4 + 1).cast("int"),
    )
    return F.map_from_arrays(
        F.array(F.lit("src_region"), F.lit("evt_seq"), F.lit("trace")),
        F.array(
            region,
            F.lit(str(offset_slot)),
            F.concat(F.lit("t-"), (k * 10 + offset_slot).cast("string")),
        ),
    )


def _record(df: DataFrame, value: F.Column, offset_slot: int) -> DataFrame:
    """Shape one event class as Kafka records (S1/S3 virtual columns +
    the r15 header plane + the r15 record-timestamp plane: Kafka's
    per-record CreateTime, which Debezium sets to the change's source
    time — modeled here as the order's event date in epoch-ms, offset
    by the event-class slot so every record's timestamp is distinct
    and closed-form derivable)."""
    return df.select(
        F.to_json(F.struct(F.struct(F.col("o_orderkey")).alias("payload"))).alias("key"),
        value.alias("value"),
        (F.col("o_orderkey") % N_PARTITIONS).cast("int").alias("partition"),
        (F.col("o_orderkey") * 10 + offset_slot).alias("offset"),
        F.lit("poc.public.orders").alias("topic"),
        _headers(offset_slot).alias("headers"),
        (F.floor(ts_to_micros("o_orderdate") / F.lit(1000)) + offset_slot)
        .cast("long")
        .alias("timestamp"),
    )


def orders_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic synthetic CDC log for the ``orders`` table, served
    from the durable materialized wire log (see ``materialized_wire_log``).

    Returns Kafka-shaped records: (key, value, partition, offset, topic).
    """

    def build() -> DataFrame:
        orders = ensure_session_confs(spark).read.parquet(f"{sf_dir}/orders.parquet")
        k = F.col("o_orderkey")
        ts1 = F.lit(SNAPSHOT_TS).cast("long")
        ts2 = (F.lit(UPDATE1_TS) + k).cast("long")
        ts3 = (F.lit(UPDATE2_TS) + k).cast("long")
        ts4 = (F.lit(DELETE_TS) + k).cast("long")

        snap = _record(orders, _envelope(_orders_after(0.0, None), None, "r", ts1), 0)
        upd1 = _record(orders.filter(k % 3 == 0), _envelope(_orders_after(100.0, "U"), _orders_after(0.0, None), "u", ts2), 1)
        # duplicate delivery of update-1: identical payload, distinct offset
        upd1_dup = _record(orders.filter(k % 3 == 0), _envelope(_orders_after(100.0, "U"), _orders_after(0.0, None), "u", ts2), 5)
        upd2 = _record(orders.filter(k % 9 == 0), _envelope(_orders_after(200.0, "V"), _orders_after(100.0, "U"), "u", ts3), 2)
        upd2_dup = _record(orders.filter(k % 9 == 0), _envelope(_orders_after(200.0, "V"), _orders_after(100.0, "U"), "u", ts3), 6)
        dele = _record(orders.filter(k % 7 == 0), _envelope(None, _orders_after(0.0, None), "d", ts4), 3)

        return snap.unionByName(upd1).unionByName(upd1_dup).unionByName(upd2).unionByName(upd2_dup).unionByName(dele)

    return materialized_wire_log(ensure_session_confs(spark), sf_dir, "orders_events", build)


def customer_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-only CDC log for ``customer`` (PII-masking fixture, P8)."""
    return materialized_wire_log(
        ensure_session_confs(spark), sf_dir, "customer_events",
        lambda: _customer_cdc_events_build(spark, sf_dir),
    )


def _customer_cdc_events_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = ensure_session_confs(spark).read.parquet(f"{sf_dir}/customer.parquet")
    after = F.struct(
        F.col("c_custkey"),
        F.col("c_name"),
        F.col("c_nationkey"),
        F.col("c_acctbal").cast("string").alias("c_acctbal"),
        F.col("c_mktsegment"),
    )
    source = F.struct(
        F.lit("2.4.0.Final").alias("version"),
        F.lit("postgresql").alias("connector"),
        F.lit("poc").alias("name"),
        F.lit(SNAPSHOT_TS).cast("long").alias("ts_ms"),
        F.lit("first").alias("snapshot"),
        F.lit("poc").alias("db"),
        F.lit("public").alias("schema"),
        F.lit("customer").alias("table"),
        F.col("c_custkey").alias("txId"),
        (F.col("c_custkey") * 1000).alias("lsn"),
    )
    value = F.to_json(
        F.struct(
            F.struct(
                F.lit(None).cast(CUSTOMER_CDC_ROW).alias("before"),
                after.alias("after"),
                source.alias("source"),
                F.lit("r").alias("op"),
                F.lit(SNAPSHOT_TS).cast("long").alias("ts_ms"),
                F.lit(None).cast("struct<id:string,total_order:bigint,data_collection_order:bigint>").alias(
                    "transaction"
                ),
            ).alias("payload")
        )
    )
    return cust.select(
        F.to_json(F.struct(F.struct(F.col("c_custkey")).alias("payload"))).alias("key"),
        value.alias("value"),
        (F.col("c_custkey") % N_PARTITIONS).cast("int").alias("partition"),
        (F.col("c_custkey") * 10).alias("offset"),
        F.lit("poc.public.customer").alias("topic"),
    )


#: wire-format products row for the products_usable_vw parity path: every
#: field a STRING, as the JSONExtractString route sees them
#: (clickhouse.sql:57-68 extracts strings; casts happen in the view).
PRODUCTS_WIRE_ROW = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.StringType()),        # decimal-as-string
        T.StructField("stock_quantity", T.StringType()),
        T.StructField("created_at", T.StringType()),   # ISO-8601 with 'Z'
    ]
)

PRODUCTS_ENVELOPE_WIRE = T.StructType(
    [
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("before", PRODUCTS_WIRE_ROW),
                    T.StructField("after", PRODUCTS_WIRE_ROW),
                    T.StructField("source", T.StructType([T.StructField("ts_ms", T.LongType())])),
                    T.StructField("op", T.StringType()),
                ]
            ),
        )
    ]
)


def products_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic products CDC log over the ``part`` fixture, emitting the
    reference's wire shapes exactly: price as decimal-string, created_at as
    ISO-8601 with a trailing 'Z' (the ``toDateTime64(trimRight(...))`` input,
    clickhouse.sql:77-78).  Updates for keys %4==0 (price+50, ts 2e6+key);
    deletes (missing ``after``) for keys %11==0 (ts 3e6+key)."""
    return materialized_wire_log(
        ensure_session_confs(spark), sf_dir, "products_events",
        lambda: _products_cdc_events_build(spark, sf_dir),
    )


def _products_cdc_events_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = ensure_session_confs(spark).read.parquet(f"{sf_dir}/part.parquet")
    k = F.col("p_partkey")
    created = F.concat(
        F.date_format(
            F.timestamp_add("SECOND", k.cast("int"), F.to_timestamp(F.lit("2024-01-01 00:00:00"))),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
        ),
        F.lit("Z"),
    )

    def after(price_delta: float) -> F.Column:
        return F.struct(
            k.cast("string").alias("id"),
            F.col("p_name").alias("name"),
            (F.col("p_retailprice") + price_delta).cast("decimal(12,2)").cast("string").alias("price"),
            F.col("p_size").cast("string").alias("stock_quantity"),
            created.alias("created_at"),
        )

    def env(a: F.Column | None, op: str, ts: F.Column) -> F.Column:
        return F.to_json(
            F.struct(
                F.struct(
                    (after(0.0) if op == "d" else F.lit(None).cast(PRODUCTS_WIRE_ROW)).alias("before"),
                    (a if a is not None else F.lit(None).cast(PRODUCTS_WIRE_ROW)).alias("after"),
                    F.struct(ts.alias("ts_ms")).alias("source"),
                    F.lit(op).alias("op"),
                ).alias("payload")
            )
        )

    def rec(df: DataFrame, value: F.Column, slot: int) -> DataFrame:
        return df.select(
            value.alias("value"),
            (k % N_PARTITIONS).cast("int").alias("partition"),
            (k * 10 + slot).alias("offset"),
        )

    snap = rec(part, env(after(0.0), "r", F.lit(1_000_000).cast("long")), 0)
    upd = rec(part.filter(k % 4 == 0), env(after(50.0), "u", (F.lit(2_000_000) + k).cast("long")), 1)
    dele = rec(part.filter(k % 11 == 0), env(None, "d", (F.lit(3_000_000) + k).cast("long")), 2)
    return snap.unionByName(upd).unionByName(dele)


#: wire-format trn_passport row (init_transpassport.sql:42-58): trn_no is the
#: one Int (JSONExtractInt, line 69), everything else JSONExtractString.
PASSPORT_WIRE_ROW = T.StructType(
    [
        T.StructField("trn_no", T.IntegerType()),
        T.StructField("trn_id", T.StringType()),
        T.StructField("nationality", T.StringType()),
        T.StructField("doctype", T.StringType()),
        T.StructField("passport_number", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("birthday", T.StringType()),
        T.StructField("expire_date", T.StringType()),
        T.StructField("surname", T.StringType()),
        T.StructField("given_name", T.StringType()),
        T.StructField("gate_id", T.StringType()),
        T.StructField("site_id", T.StringType()),
        T.StructField("created_by", T.StringType()),
        T.StructField("created_datetime", T.StringType()),
        T.StructField("issuer", T.StringType()),
    ]
)

PASSPORT_ENVELOPE_WIRE = T.StructType(
    [
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("before", PASSPORT_WIRE_ROW),
                    T.StructField("after", PASSPORT_WIRE_ROW),
                    T.StructField("source", T.StructType([T.StructField("ts_ms", T.LongType())])),
                    T.StructField("op", T.StringType()),
                ]
            ),
        )
    ]
)

PASSPORT_SNAPSHOT_TS = 5_000_000
PASSPORT_UPDATE_TS = 4_400_000  # BEFORE the snapshot ts: skewed source clock
PASSPORT_DELETE_TS = 6_000_000


def passport_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ``trn_passport`` CDC log over the ``customer`` fixture
    for the transpassport layered-staging pipeline (init_transpassport.sql).

    The update events deliberately carry a source ``ts_ms`` EARLIER than the
    snapshot's (clock-skewed source) while arriving at LATER offsets: the
    reference's final table is a **version-less** ReplacingMergeTree
    (init_transpassport.sql:60 — no version argument), which keeps the
    last-INSERTED row per key, so the update must win despite the older
    timestamp.  This makes insert-order dedup distinguishable from
    ts-version dedup in the oracles.

    - snapshot  op='r' ts=5e6, offset=key*10   (every customer)
    - update    op='u' ts=4.4e6, offset=key*10+1 for keys %5==0
                (gate re-sync: gate_id→'G99', created_by→'gate-sync')
    - delete    op='d' ts=6e6, offset=key*10+2 for keys %13==0, after=null
                (the MV's JSONHas filter drops these, init_transpassport.sql:90)
    """
    return materialized_wire_log(
        ensure_session_confs(spark), sf_dir, "passport_events",
        lambda: _passport_cdc_events_build(spark, sf_dir),
    )


def _passport_cdc_events_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = ensure_session_confs(spark).read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")

    def after(gate_override: bool) -> F.Column:
        return F.struct(
            k.cast("int").alias("trn_no"),
            F.concat(F.lit("T"), k.cast("string")).alias("trn_id"),
            F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("nationality"),
            F.lit("PASSPORT").alias("doctype"),
            F.concat(F.lit("P"), k.cast("string")).alias("passport_number"),
            F.when(k % 2 == 0, F.lit("F")).otherwise(F.lit("M")).alias("gender"),
            F.concat((F.lit(1950) + k % 50).cast("string"), F.lit("-06-15")).alias("birthday"),
            F.lit("2030-12-31").alias("expire_date"),
            F.col("c_mktsegment").alias("surname"),
            F.col("c_name").alias("given_name"),
            (F.lit("G99") if gate_override else F.concat(F.lit("G"), (k % 10).cast("string"))).alias("gate_id"),
            F.concat(F.lit("S"), (k % 5).cast("string")).alias("site_id"),
            F.lit("gate-sync" if gate_override else "system").alias("created_by"),
            F.date_format(
                F.timestamp_add("SECOND", k.cast("int"), F.to_timestamp(F.lit("2024-03-01 00:00:00"))),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("created_datetime"),
            F.lit("TH-IMM").alias("issuer"),
        )

    def env(a: F.Column | None, before: F.Column | None, op: str, ts: int) -> F.Column:
        return F.to_json(
            F.struct(
                F.struct(
                    (before if before is not None else F.lit(None).cast(PASSPORT_WIRE_ROW)).alias("before"),
                    (a if a is not None else F.lit(None).cast(PASSPORT_WIRE_ROW)).alias("after"),
                    F.struct(F.lit(ts).cast("long").alias("ts_ms")).alias("source"),
                    F.lit(op).alias("op"),
                ).alias("payload")
            )
        )

    def rec(df: DataFrame, value: F.Column, slot: int) -> DataFrame:
        return df.select(
            F.concat(F.lit("T"), k.cast("string")).alias("key"),
            value.alias("value"),
            (k % N_PARTITIONS).cast("int").alias("partition"),
            (k * 10 + slot).alias("offset"),
            F.lit("poc.public.trn_passport").alias("topic"),
        )

    snap = rec(cust, env(after(False), None, "r", PASSPORT_SNAPSHOT_TS), 0)
    upd = rec(cust.filter(k % 5 == 0), env(after(True), after(False), "u", PASSPORT_UPDATE_TS), 1)
    dele = rec(cust.filter(k % 13 == 0), env(None, after(False), "d", PASSPORT_DELETE_TS), 2)
    return snap.unionByName(upd).unionByName(dele)


def parse_envelope(records: DataFrame, envelope: T.StructType) -> DataFrame:
    """S1→P2 — PERMISSIVE ``from_json`` of the value column; malformed
    messages become NULL payloads (the ``kafka_skip_broken_messages``
    equivalent, clickhouse.sql:20 / T2) and are filterable downstream."""
    return records.withColumn("j", F.from_json(F.col("value"), envelope))


def bronze_projection(records: DataFrame) -> DataFrame:
    """S7/P1/P4 — the raw-archive projection with Kafka lineage columns
    (init_clickhouse_raw_tables.sql:42-48): rename value→value_json, keep
    partition/offset, drop null/empty values, stamp ingestion_time."""
    return records.filter(F.col("value").isNotNull() & (F.col("value") != "")).select(
        F.col("value").alias("value_json"),
        F.col("partition").cast("string").alias("partition_str"),
        F.col("offset").alias("offset_num"),
        F.current_timestamp().alias("ingestion_time"),
    )
