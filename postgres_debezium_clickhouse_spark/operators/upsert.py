"""Latest-wins versioned upsert — the ReplacingMergeTree/FINAL equivalent.

This is the single most load-bearing operator of the reference system
(SURVEY §2.6 W1): ``ENGINE = ReplacingMergeTree(ts_ms) ORDER BY id`` +
``SELECT ... FINAL`` (basic_example/clickhouse.sql:51-52,82;
basic_example/init_transpassport.sql:60-61).  Semantics:

- identity = the sort key (primary key columns);
- version  = ``ts_ms`` (payload.source.ts_ms, clickhouse.sql:66);
- conflict = keep the max-version row per key; on EQUAL versions ClickHouse
  keeps the last-INSERTED row (init_transpassport.sql:60 has no version arg
  at all — pure insert order), so we tie-break on Kafka offset /
  monotonically-increasing ingest order (W2);
- deletes  = two modes, both present in the reference:
  * ``drop``    — the basic path filters deletes out entirely
                  (``WHERE JSONHas(value,'payload','after')``, init.sql:63);
  * ``rewrite`` — the secure connector keeps a tombstone row with a
                  ``__deleted`` flag (``delete.handling.mode=rewrite``,
                  abcsvb-connector-secure.json:33-34).

Scale design (100 TB): dedup is one hash shuffle on the key columns —
exactly the shuffle a keyed upsert fundamentally requires, nothing more.
``apply_cdc`` merges *per micro-batch*: it unions the (small) batch with
only the current rows whose keys appear in the batch when
``changed_keys_only=True``, so a 1000-executor cluster never rewrites the
whole table per trigger.  The bucketed silver store is merge-on-read:
its readers apply :func:`merge_touched` of the stored delta rows over the
base rows, and its fold applies it to batch ∪ deltas over the touched
buckets' rows — one aggregate over events ∪ current, no changed-keys
pass.  AQE handles skewed keys (session.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: name of the synthetic insert-order column used for W2 tie-breaks when the
#: source has no Kafka offset.
INGEST_SEQ = "__ingest_seq"
DELETED_FLAG = "__deleted"

#: Debezium's default ``unavailable.value.placeholder``: what Postgres
#: connectors emit for an unchanged TOASTed column when the table's
#: replica identity is not FULL (the reference sets REPLICA IDENTITY
#: FULL, init_postgresql_data.sql:73-75, precisely to dodge this — an
#: engine claiming the envelope contract must handle the default too).
DEBEZIUM_UNAVAILABLE = "__debezium_unavailable_value"


def _latest_wins_carry_forward(
    df: DataFrame,
    keys: list[str],
    version_cols: list[str],
    cf_cols: list[str],
    placeholder: str,
) -> DataFrame:
    """Latest-wins merge with TOAST carry-forward: the winning row per
    key is the max version tuple exactly as :func:`latest_wins` (agg
    strategy, plain-column path), but every ``cf_cols`` column whose
    WINNING value is the Debezium unavailable-value placeholder is
    replaced by that key's latest NON-placeholder value (per-column
    conditional ``max_by`` in the SAME aggregation — one shuffle, no
    second pass).  A key that has never shipped a real value keeps the
    placeholder: fabricating NULL would erase the "exists but
    unavailable" signal Debezium encodes.

    Requires plain string version columns and an orderable payload
    (the same constraints as ``latest_wins``'s struct-max fast path —
    ``apply_cdc`` always satisfies both)."""
    other = [c for c in df.columns if c not in keys]
    rest = [c for c in other if c not in version_cols]
    ver_struct = F.struct(*[F.col(v) for v in version_cols])
    aggs = [F.max(F.struct(*version_cols, *rest)).alias("__row")]
    for c in cf_cols:
        aggs.append(
            F.max_by(
                F.col(c),
                # NULL ordering ⇒ max_by skips the row: placeholder and
                # NULL values never become carry-forward candidates
                F.when(
                    F.col(c).isNotNull() & (F.col(c) != placeholder),
                    ver_struct,
                ),
            ).alias(f"__cf__{c}")
        )
    out_cols = []
    for c in other:
        v = F.col("__row").getField(c)
        if c in cf_cols:
            v = F.when(
                v == placeholder, F.coalesce(F.col(f"__cf__{c}"), v)
            ).otherwise(v)
        out_cols.append(v.alias(c))
    return df.groupBy(*keys).agg(*aggs).select(*keys, *out_cols)


def _all_orderable(schema, names: set[str]) -> bool:
    """True when every named column's type participates in struct ordering
    (MapType — at any nesting depth — is the one unorderable type here)."""
    from pyspark.sql import types as T

    def ok(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return True

    return all(ok(f.dataType) for f in schema.fields if f.name in names)


def latest_wins(
    df: DataFrame,
    keys: list[str],
    version_cols: list[str | Column],
    keep: str = "last",
    strategy: str = "agg",
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """W1/W2 — keep exactly one row per key: max version (then max
    tie-breaker).  ``version_cols`` order = significance; all descending.

    ``extra_aggs`` maps a column of ``df`` to an aggregate computed in the
    same grouping (agg strategy only); that column is output as the
    aggregate instead of the winner's value, and takes no part in picking
    the winner.

    Equivalent to ClickHouse ``FINAL`` on ReplacingMergeTree(version).

    ``strategy='agg'`` (default): a grouped aggregation with MAP-SIDE
    partial combine, so only one candidate row per key per map partition
    crosses the shuffle.  On a CDC log with many versions per key this
    shrinks shuffle bytes by the version multiplicity — the scale-correct
    plan at 100 TB.  Two forms (both SortAggregate — struct buffers are
    not UnsafeRow-mutable, so hash agg is unavailable either way):

    * when every ``version_cols`` entry is a plain column name and all
      columns are orderable, ``max(struct(versions..., payload...))`` —
      ONE struct eval + comparison per row, measured ~40% cheaper than
      max_by on the flagship CDC dedup (BASELINE.md r7).  Ties on the full
      version tuple are broken deterministically by the payload's
      lexicographic order (max_by left them nondeterministic).
    * otherwise ``max_by(struct(row), struct(versions))`` — supports
      expression versions and non-orderable payload columns (maps).

    ``strategy='window'``: ``row_number`` over (key / versions desc) — the
    classic form; shuffles EVERY input row.  Kept for callers that need
    null-version rows to participate with explicit nulls-last order (in agg
    mode a NULL inside the ordering struct sorts smallest, i.e. also loses
    — but only window mode guarantees a winner for keys whose every version
    is NULL in all ordering columns AND preserves their arbitrary-order
    determinism).
    """
    extra = extra_aggs or {}
    if strategy == "agg":
        other = [c for c in df.columns if c not in keys and c not in extra]
        aggs = [a.alias(c) for c, a in extra.items()]
        plain = all(isinstance(c, str) and c in df.columns for c in version_cols)
        if plain and _all_orderable(df.schema, set(other)):
            vnames = list(version_cols)
            rest = [c for c in other if c not in vnames]
            picker = F.max if keep == "last" else F.min
            return (
                df.groupBy(*keys)
                .agg(picker(F.struct(*vnames, *rest)).alias("__row"), *aggs)
                .select(*keys, *[F.col("__row").getField(c).alias(c) for c in other], *extra)
            )
        ver = [(F.col(c) if isinstance(c, str) else c) for c in version_cols]
        picker = F.max_by if keep == "last" else F.min_by
        return (
            df.groupBy(*keys)
            .agg(picker(F.struct(*other), F.struct(*ver)).alias("__row"), *aggs)
            .select(*keys, "__row.*", *extra)
        )
    if extra:
        raise ValueError("extra_aggs needs strategy='agg'")
    order = [
        (F.col(c) if isinstance(c, str) else c).desc_nulls_last()
        if keep == "last"
        else (F.col(c) if isinstance(c, str) else c).asc_nulls_last()
        for c in version_cols
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_cdc(
    events: DataFrame,
    keys: list[str],
    version_col: str = "ts_ms",
    tiebreak_col: str | None = "offset",
    op_col: str = "op",
    delete_mode: str = "drop",
    current: DataFrame | None = None,
    changed_keys_only: bool = True,
    max_broadcast_keys: int = 1_000_000,
    carry_forward_cols: list[str] | None = None,
    unavailable_placeholder: str = DEBEZIUM_UNAVAILABLE,
) -> DataFrame:
    """S8/T3/T4 — apply a batch of CDC events (and optionally merge into an
    existing silver ``current`` state), producing the new current state.

    ``events`` must contain the row columns plus ``op`` (c/u/d/r — value.json
    :721-725), the version column, and (ideally) a tie-break column.
    Order-insensitive: correctness comes from version comparison, not arrival
    order — the reference explicitly relies on this instead of watermarks
    (SURVEY §2.9 T3; init_transpassport.sql:86-89).

    delete_mode='drop'    → deleted keys disappear (init.sql:63).
    delete_mode='rewrite' → deleted keys stay with __deleted=true
                            (abcsvb-connector-secure.json:33-34).

    ``max_broadcast_keys`` bounds the changed-keys semi-join strategy (the
    bucketed silver sinks do not take this path, see :func:`merge_touched`): a
    steady-state micro-batch has few distinct keys, so broadcasting them is
    the right plan — but the T5 snapshot/backfill "batch" is the whole
    table, and an unconditional broadcast of millions of keys OOMs the
    driver.  When the batch's distinct key count exceeds the limit the join
    falls back to a plain (shuffle) semi/anti join.  Set 0 to never
    broadcast.  The deciding ``count()`` is one extra pass over the batch
    keys — trivial per-trigger, and exactly the backfill case where paying
    one scan beats a failed broadcast.

    ``carry_forward_cols`` (r13, T4+) — Debezium TOAST semantics: when
    replica identity is not FULL, Postgres updates carry
    ``__debezium_unavailable_value`` for unchanged TOASTed columns
    (``unavailable.value.placeholder``); a naive merge overwrites the
    real value with the placeholder.  Listing those columns here makes
    the merge carry the latest real value forward (the silver
    ``current`` state participates as a prior version, so steady-state
    streams keep their values across placeholder-only updates).  Same
    single-shuffle plan — the carry-forward argmaxes ride the one
    groupBy."""
    if delete_mode not in ("drop", "rewrite"):
        raise ValueError(f"delete_mode must be drop|rewrite, got {delete_mode!r}")

    batch = events
    if current is not None:
        if changed_keys_only:
            # Touch only silver rows whose key appears in this batch: a
            # broadcast-able semi-join at micro-batch scale, so the merge
            # cost is O(batch), not O(silver).  The untouched remainder is
            # unioned back unchanged (no shuffle on it).
            batch_keys = events.select(*keys).distinct()
            if max_broadcast_keys and batch_keys.count() <= max_broadcast_keys:
                batch_keys = F.broadcast(batch_keys)
            touched = current.join(batch_keys, on=keys, how="left_semi")
            untouched = current.join(batch_keys, on=keys, how="left_anti")
        else:
            touched, untouched = current, None
        batch = _union_evolved(batch, touched)
    else:
        untouched = None

    version_order = _version_order(batch, version_col, tiebreak_col)
    if carry_forward_cols:
        cf = [c for c in carry_forward_cols if c in batch.columns]
        merged = _latest_wins_carry_forward(
            batch, keys, version_order, cf, unavailable_placeholder,
        )
    else:
        merged = latest_wins(batch, keys, version_order)

    # Null-safe: a caller-supplied current state may lack the op column
    # (padded with NULL by schema evolution above); NULL != 'd' evaluates
    # NULL and would silently drop those winning rows under 'drop' / flag
    # them NULL instead of false under 'rewrite'.
    if delete_mode == "drop":
        merged = merged.filter(~F.col(op_col).eqNullSafe(F.lit("d")))
    else:
        merged = merged.withColumn(DELETED_FLAG, F.col(op_col).eqNullSafe(F.lit("d")))

    if untouched is not None:
        if delete_mode == "rewrite" and DELETED_FLAG not in untouched.columns:
            untouched = untouched.withColumn(DELETED_FLAG, F.lit(False))
        merged = merged.unionByName(untouched, allowMissingColumns=True)
    return merged


def _union_evolved(batch: DataFrame, current: DataFrame) -> DataFrame:
    """``batch ∪ current`` under additive schema evolution, both directions
    (Debezium sources add and drop columns over a table's life):

    - column NEW in the batch → current rows get NULL for it;
    - column GONE from the batch → it is preserved (NULL for batch rows),
      never silently dropped — historical data is not discarded because
      the source narrowed.  ``current``'s ``__deleted`` is not carried
      (the merge re-derives it).  Type changes are not coerced
      (additive-only policy; unionByName surfaces them)."""
    cur = current
    cur_dtypes = dict(cur.dtypes)
    for c, t in batch.dtypes:
        if c not in cur.columns:
            cur = cur.withColumn(c, F.lit(None).cast(t))
    for c in cur.columns:
        if c not in batch.columns and c != DELETED_FLAG:
            batch = batch.withColumn(c, F.lit(None).cast(cur_dtypes[c]))
    return batch.unionByName(cur.select(*batch.columns))


def _version_order(df: DataFrame, version_col: str, tiebreak_col: str | None) -> list[str]:
    if tiebreak_col is not None and tiebreak_col in df.columns:
        return [version_col, tiebreak_col]
    return [version_col]


_FROM_BATCH = "__from_batch"
_STORED_DELETED = "__stored_deleted"


def merge_touched(
    events: DataFrame,
    current: DataFrame | None,
    keys: list[str],
    version_col: str = "ts_ms",
    tiebreak_col: str | None = "offset",
    op_col: str = "op",
) -> DataFrame:
    """The keyed silver sinks' merge: ``apply_cdc(delete_mode="rewrite")``
    over ``events ∪ current`` as ONE latest-wins aggregate, with no
    changed-keys split (``current`` is already bounded to the touched
    buckets).  A key with a batch row takes ``__deleted`` from the
    winner's ``op``; a key without one keeps its STORED ``__deleted`` —
    ``mutate_silver`` deletes and legacy stores set the flag without
    changing ``op``, so re-deriving it would resurrect them.  Winners and
    tie-breaks are ``apply_cdc``'s: the stored flag rides last in the row
    struct, and the batch marker is a separate aggregate."""
    if current is None:
        return apply_cdc(events, keys, version_col, tiebreak_col, op_col,
                         delete_mode="rewrite")
    stored = F.col(DELETED_FLAG) if DELETED_FLAG in current.columns else F.lit(False)
    both = _union_evolved(
        events.withColumn(_FROM_BATCH, F.lit(True)),
        current.withColumn(_STORED_DELETED, stored).withColumn(_FROM_BATCH, F.lit(False)),
    )
    merged = latest_wins(
        both, keys, _version_order(both, version_col, tiebreak_col),
        extra_aggs={_FROM_BATCH: F.max(_FROM_BATCH)},
    )
    flag = F.when(
        F.col(_FROM_BATCH), F.col(op_col).eqNullSafe(F.lit("d"))
    ).otherwise(F.col(_STORED_DELETED))
    return merged.withColumn(DELETED_FLAG, flag).drop(_FROM_BATCH, _STORED_DELETED)


def with_ingest_seq(df: DataFrame) -> DataFrame:
    """Attach a monotonically-increasing insert-order column for W2
    tie-breaks when no Kafka offset exists (ReplacingMergeTree with no
    version arg keeps insert order, init_transpassport.sql:60)."""
    return df.withColumn(INGEST_SEQ, F.monotonically_increasing_id())


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """O1/X1 at full scale — persist as a BUCKETED table on the merge key.

    Two tables bucketed identically on the join key sort-merge-join with NO
    Exchange on either side (Spark trusts the bucket layout) — this is how
    the per-trigger silver merge, and any downstream key-join, becomes
    shuffle-free at 100 TB.  Bucketing requires ``saveAsTable`` (catalog
    metadata carries the layout)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def zorder_key(cols: list[str], bits_per_col: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits_per_col`` bits of
    each column so rows close in EVERY dimension get close keys.  Sorting
    by this key clusters a table for multi-dimension data skipping —
    parquet row-group min/max stats then prune on ANY of the columns, where
    single-key clustering (``cluster_by_key``) only prunes on the leading
    key.  The Delta/Iceberg ``OPTIMIZE ZORDER BY`` analogue as a plain
    column expression (pure integer bit ops, whole-stage codegen).

    Columns must be non-negative integers that fit ``bits_per_col`` bits
    (hash or bucketize anything else first)."""
    n = len(cols)
    terms = []
    for i, c in enumerate(cols):
        for b in range(bits_per_col):
            terms.append(
                f"shiftleft(shiftright(cast({c} as bigint), {b}) & 1, {b * n + i})"
            )
    return F.expr(" + ".join(terms))


def cluster_by_zorder(df: DataFrame, cols: list[str], num_partitions: int | None = None) -> DataFrame:
    """Physically cluster by the Morton key: range-partition + sort so both
    partition bounds and row-group stats are tight in every dimension."""
    zk = zorder_key(cols).alias("__zkey")
    with_key = df.withColumn("__zkey", zk)
    parted = (
        with_key.repartitionByRange(num_partitions, "__zkey")
        if num_partitions
        else with_key.repartitionByRange("__zkey")
    )
    return parted.sortWithinPartitions("__zkey").drop("__zkey")


def cluster_by_key(df: DataFrame, keys: list[str], num_partitions: int | None = None) -> DataFrame:
    """O1 — MergeTree ``ORDER BY`` physical clustering
    (clickhouse.sql:52; init_clickhouse_raw_tables.sql:37): hash-partition by
    key and sort within partitions so parquet row-group min/max stats enable
    key-range skipping on read (the sparse-primary-index equivalent)."""
    parted = df.repartition(num_partitions, *keys) if num_partitions else df.repartition(*keys)
    return parted.sortWithinPartitions(*keys)
