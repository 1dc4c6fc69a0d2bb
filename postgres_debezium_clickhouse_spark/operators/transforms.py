"""SMT-style record transforms: envelope unwrap, field masking, field-name
sanitization, CHECK-predicate validation (SURVEY §2.2 P6, P8-P10).

Mirrors the Kafka-Connect single-message-transform chain of the secure
connector (basic_example/abcsvb-connector-secure.json:31-49):

- ``ExtractNewRecordState`` (unwrap): replace the envelope with
  ``payload.after`` plus metadata columns ``__op/__ts_ms/__db/__table``;
  ``delete.handling.mode=rewrite`` keeps deletes as flagged rows (lines
  31-35).
- ``MaskField`` on passport_number/national_id/email/phone_number (lines
  36-37) → here: configurable column list, literal or sha2-hash mask.
- ``sanitize.field.names=true`` (line 49) → non-word chars in column names
  become underscores.
- Postgres CHECK constraints (init_postgresql_data.sql:43-45) → validation
  filters/flags, not enforced DDL.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def apply_triggers(df: DataFrame, recompute: dict[str, Column]) -> DataFrame:
    """D6 — the BEFORE-UPDATE-trigger equivalent
    (``update_updated_at_column()``, init_postgresql_data.sql:55-70): inside
    the upsert batch, recompute the given columns (e.g.
    ``{"updated_at": F.current_timestamp()}``) on every row that flows
    through — exactly when the trigger would have fired."""
    out = df
    for name, expr in recompute.items():
        out = out.withColumn(name, expr)
    return out


def unwrap_envelope(parsed: DataFrame, drop_deletes: bool = True, keep_transaction: bool = False) -> DataFrame:
    """P9 — ExtractNewRecordState (abcsvb-connector-secure.json:31-35).

    ``parsed`` must have a struct column ``j`` (from
    ``sources.cdc.parse_envelope``).  With ``drop_deletes=True`` this is the
    basic path (``WHERE JSONHas(value,'payload','after')``, init.sql:63);
    with False, deletes survive with ``__deleted=true`` and the row image
    taken from ``before`` (rewrite mode).  ``keep_transaction=True`` carries
    the T9 transaction-metadata struct (``provide.transaction.metadata``,
    abcsvb-connector-secure.json:50; value.json:731-754) as ``__txn``.

    The existence filter below references the parsed column, so without a
    barrier Catalyst pushes it under the parse projection and evaluates
    ``from_json`` twice per row (guide §4.4's duplication, r18-opt) —
    ``eval_once_barrier`` pins one evaluation.
    """
    from ..functions import eval_once_barrier

    parsed = eval_once_barrier(parsed, "j")
    p = F.col("j.payload")
    is_delete = p.op == F.lit("d")
    txn_cols = [p.transaction.alias("__txn")] if keep_transaction else []
    if drop_deletes:
        return parsed.filter(p.after.isNotNull()).select(
            "j.payload.after.*",
            p.op.alias("__op"),
            p.source.ts_ms.alias("__ts_ms"),
            p.source.db.alias("__db"),
            p.source.table.alias("__table"),
            *txn_cols,
        )
    row_img = F.when(is_delete, p.before).otherwise(p.after)
    tail = ["__op", "__ts_ms", "__db", "__table", "__deleted"] + (["__txn"] if keep_transaction else [])
    return parsed.filter(p.isNotNull()).select(
        row_img.alias("__row"),
        p.op.alias("__op"),
        p.source.ts_ms.alias("__ts_ms"),
        p.source.db.alias("__db"),
        p.source.table.alias("__table"),
        is_delete.alias("__deleted"),
        *txn_cols,
    ).select("__row.*", *tail)


def with_txn_columns(df: DataFrame, txn_col: str = "__txn") -> DataFrame:
    """r10 (T9) — flatten the carried Debezium transaction struct
    (``unwrap_envelope(keep_transaction=True)`` → ``__txn {id,
    total_order, data_collection_order}``, value.json:731-754) into the
    contract columns of ``silver_txn_upsert_stream``: ``txn_id`` /
    ``txn_order`` / ``txn_total``.  The embedded metadata carries no
    event count — that arrives on the transaction topic's END events —
    so ``txn_total`` is NULL here and :func:`txn_end_markers` supplies
    it.  Rows OUTSIDE any transaction (Debezium omits the struct for
    snapshot reads) come out with NULL ``txn_id`` and would buffer
    forever: pre-split them to the plain upsert sink
    (``df.filter(col("txn_id").isNull())``) — snapshot rows need no
    transactional gating by definition."""
    t = F.col(txn_col)
    return (
        df.withColumn("txn_id", t["id"])
        .withColumn("txn_order", t["total_order"])
        .withColumn("txn_total", F.lit(None).cast("long"))
        .drop(txn_col)
    )


def txn_end_markers(ends: DataFrame, data_df: DataFrame,
                    id_col: str = "id",
                    count_col: str = "event_count") -> DataFrame:
    """Shape Debezium transaction-topic END events (``{id, event_count,
    …}``) into NULL-key marker rows matching ``data_df``'s schema, ready
    to ``unionByName`` into the txn sink's stream: every column NULL
    except ``txn_id`` (from ``id_col``) and ``txn_total`` (from
    ``count_col``) — the completeness declaration
    ``silver_txn_upsert_stream`` waits for."""
    cols = []
    for f in data_df.schema.fields:
        if f.name == "txn_id":
            cols.append(F.col(id_col).cast(f.dataType).alias(f.name))
        elif f.name == "txn_total":
            cols.append(F.col(count_col).cast("long").alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return ends.select(*cols)


def unavailable_value_flags(
    df: DataFrame,
    columns: list[str] | None = None,
    placeholder: str | None = None,
) -> DataFrame:
    """P9+ (r13) — detect Debezium TOAST placeholders in an unwrapped
    row stream: when replica identity is not FULL, Postgres updates
    carry ``__debezium_unavailable_value`` for unchanged TOASTed
    columns (Debezium ``unavailable.value.placeholder``).  Adds one
    boolean ``__unavail_<col>`` per inspected string column plus a
    summary ``__has_unavailable`` — the monitoring/routing half of the
    contract; the merge half is ``apply_cdc(carry_forward_cols=…)``
    (operators/upsert.py), which substitutes the latest real value.
    The reference dodges the whole issue with REPLICA IDENTITY FULL
    (init_postgresql_data.sql:73-75); this is the path its deployers
    hit the moment that DDL is forgotten."""
    from .upsert import DEBEZIUM_UNAVAILABLE

    ph = placeholder or DEBEZIUM_UNAVAILABLE
    cols = columns or [
        f.name for f in df.schema.fields
        if f.dataType.simpleString() == "string"
        and not f.name.startswith("__")
    ]
    out = df
    flags = []
    for c in cols:
        flag = F.col(c).eqNullSafe(F.lit(ph))
        out = out.withColumn(f"__unavail_{c}", flag)
        flags.append(flag)
    summary = flags[0] if flags else F.lit(False)
    for fl in flags[1:]:
        summary = summary | fl
    return out.withColumn("__has_unavailable", summary)


def mask_fields(df: DataFrame, columns: list[str], mode: str = "hash") -> DataFrame:
    """P8 — in-flight PII masking (abcsvb-connector-secure.json:36-37).

    mode='hash'    → sha2-256 hex (irreversible but joinable);
    mode='literal' → constant '***' (the Kafka-Connect MaskField behavior).
    """
    out = df
    for c in columns:
        if c not in df.columns:
            continue
        masked: Column = F.sha2(F.col(c).cast("string"), 256) if mode == "hash" else F.lit("***")
        out = out.withColumn(c, masked)
    return out


def truncate_columns(df: DataFrame, spec: dict[str, int]) -> DataFrame:
    """r15 — Debezium's ``column.truncate.to.N.chars`` connector option
    (public docs, relational connectors): ship only the first N chars
    of oversized/sensitive columns — the bandwidth guard for wide text
    columns that MaskField is too blunt for.  NULL stays NULL, a
    shorter value passes unchanged (the option's contract).
    Map-only."""
    out = df
    for c, n in spec.items():
        if c not in df.columns:
            continue
        out = out.withColumn(c, F.substring(F.col(c).cast("string"), 1, int(n)))
    return out


def mask_columns_fixed(df: DataFrame, spec: dict[str, int]) -> DataFrame:
    """r15 — Debezium's ``column.mask.with.N.chars`` connector option:
    replace the value with N ``*`` characters — LENGTH-HIDING, unlike
    truncate (every non-NULL value masks to the same fixed string, so
    even the length leaks nothing).  NULL stays NULL.  Map-only."""
    out = df
    for c, n in spec.items():
        if c not in df.columns:
            continue
        out = out.withColumn(
            c,
            F.when(F.col(c).isNotNull(), F.lit("*" * int(n))),
        )
    return out


def sanitize_field_names(df: DataFrame) -> DataFrame:
    """P10 — ``sanitize.field.names=true`` (abcsvb-connector-secure.json:49):
    replace non-word characters with '_' so names are safe everywhere."""
    return df.toDF(*[re.sub(r"\W", "_", c) for c in df.columns])


def check_violations(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """P6 — row-level CHECK predicates (init_postgresql_data.sql:43-45:
    ``quantity > 0``, ``unit_price >= 0``, ``discount_amount >= 0``).

    Returns the input with one boolean column per check plus an overall
    ``__valid`` flag — callers either filter or route invalid rows to a
    dead-letter sink.
    """
    out = df
    valid = F.lit(True)
    for name, predicate in checks.items():
        out = out.withColumn(name, predicate)
        valid = valid & F.coalesce(predicate, F.lit(False))
    return out.withColumn("__valid", valid)


def diff_states(
    prev: DataFrame,
    next: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-feed between two keyed states: full-outer join on the
    keys, classify each key as 'c' (new), 'u' (any compared column
    changed), or 'd' (gone); unchanged keys drop out.  This is the
    downstream-incrementality primitive ClickHouse gets from cascading
    materialized views — feed the emitted delta to the next layer instead
    of recomputing it from the full state.

    One hash shuffle on the keys (the join); at 100 TB run it per
    partition/bucket so only co-located state compares.  Output: keys +
    ``change_op`` + the NEXT image of the compared columns (NULL for 'd').
    """
    cols = compare_cols or [c for c in next.columns if c not in keys]
    p = prev.select(*keys, F.struct(*cols).alias("__prev"))
    n = next.select(*keys, F.struct(*cols).alias("__next"))
    joined = p.join(n, keys, "full_outer")
    op = (
        F.when(F.col("__prev").isNull(), "c")
        .when(F.col("__next").isNull(), "d")
        .when(~F.col("__prev").eqNullSafe(F.col("__next")), "u")
    )
    return (
        joined.withColumn("change_op", op)
        .filter(F.col("change_op").isNotNull())
        .select(*keys, "change_op", *[F.col(f"__next.{c}").alias(c) for c in cols])
    )


def apply_change_feed(prev: DataFrame, changes: DataFrame, keys: list[str]) -> DataFrame:
    """Inverse of ``diff_states``: apply a c/u/d delta to a keyed state.
    Deleted keys drop, created/updated keys take the delta's image,
    untouched keys pass through — ``apply_change_feed(prev,
    diff_states(prev, next, keys), keys) == next`` by construction.

    One broadcast-able semi/anti join pair on the (small) delta plus a
    union: O(delta) work against the big state, the same
    touch-only-changed-keys shape as the silver merge."""
    changed_keys = changes.select(*keys)
    untouched = prev.join(F.broadcast(changed_keys), keys, "left_anti")
    replacements = changes.filter(F.col("change_op") != "d").drop("change_op")
    return untouched.unionByName(replacements)


def split_on_drift(
    raw: DataFrame,
    expected_fields: list[str],
    policy: str = "quarantine",
    value_col: str = "value",
    after_path: str = "$.payload.after",
) -> tuple[DataFrame, DataFrame]:
    """Schema-drift POLICY hook — detection's missing other half: what to
    DO with an event whose ``after`` image carries fields the registry
    doesn't know.  Returns ``(conforming, quarantined)``:

    * ``policy='quarantine'`` — drifted events are routed to the second
      frame (a dead-letter path for operator review + replay once the
      registry is updated; same shape as the T2 poison-message split,
      ``corrupt_filter``); conforming events keep flowing.
    * ``policy='widen'`` — nothing is quarantined: unknown fields ride
      through to the sink, which accepts additive evolution (apply_cdc's
      schema alignment / the manifest's union schema in _SilverStore)
      — the second frame is empty by construction.

    A row with no ``after`` image (delete/tombstone) carries no field
    evidence and is always conforming — same contract as
    ``schema_drift_report``.  MISSING registered fields do not quarantine:
    a narrower image is valid additive history, only UNKNOWN fields are
    unrepresentable without a registry change.

    Scale: one map pass (``json_object_keys`` + ``array_except`` +
    boolean), no shuffle, both outputs filters over the same scan —
    Catalyst shares the parse across the two branches inside one
    foreachBatch trigger."""
    if policy not in ("quarantine", "widen"):
        raise ValueError(f"unknown drift policy {policy!r}")
    keys = F.json_object_keys(F.get_json_object(F.col(value_col), after_path))
    known = F.array(*[F.lit(f) for f in expected_fields])
    drifted = F.size(F.array_except(keys, known)) > 0
    flagged = raw.withColumn("__drift", F.coalesce(drifted, F.lit(False)))
    if policy == "widen":
        return flagged.drop("__drift"), flagged.filter(F.lit(False)).drop("__drift")
    return (
        flagged.filter(~F.col("__drift")).drop("__drift"),
        flagged.filter(F.col("__drift")).drop("__drift"),
    )


def schema_drift_report(
    raw: DataFrame,
    expected_fields: list[str],
    value_col: str = "value",
    after_path: str = "$.payload.after",
    offset_col: str = "offset",
) -> DataFrame:
    """Schema-drift detection over a raw CDC wire log: diff the JSON keys
    actually present in each event's ``after`` image against the
    registered table schema, and report per field

        kind='unknown'  — the source added a column the registry lacks
        kind='missing'  — a registered column stopped appearing upstream

    with occurrence count and first-seen offset (the replay point for a
    backfill once the registry is updated).  The tolerate-side is already
    handled (PERMISSIVE parsing nulls unknown fields; the silver store's
    union schema accepts additive evolution — see apply_cdc /
    _SilverStore); this operator closes the loop by making drift
    OBSERVABLE instead of silent.

    Scale: one map pass (json_object_keys + two array_except) + explodes
    of per-row diff arrays (normally EMPTY — zero rows emitted when there
    is no drift) + one groupBy on field name (cardinality = schema width).
    Map-side combinable; no corpus-sized state.  Delete events (no
    ``after``) are skipped — a tombstone carries no field image.

    Reference parity: the reference pins schemas.enable=false
    (abcsvb-connector-secure.json:27-30) and has NO drift story; this is
    the Spark-first improvement on that gap (VERDICT r4, What's missing
    #3)."""
    keys = F.json_object_keys(F.get_json_object(F.col(value_col), after_path))
    known = F.array(*[F.lit(f) for f in expected_fields])
    base = raw.withColumn("__keys", keys).filter(F.col("__keys").isNotNull())
    unknown = base.select(
        F.explode(F.array_except(F.col("__keys"), known)).alias("field"),
        F.lit("unknown").alias("kind"),
        F.col(offset_col).alias("__off"),
    )
    missing = base.select(
        F.explode(F.array_except(known, F.col("__keys"))).alias("field"),
        F.lit("missing").alias("kind"),
        F.col(offset_col).alias("__off"),
    )
    return (
        unknown.unionByName(missing)
        .groupBy("field", "kind")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("__off").cast("long").alias("first_offset"),
        )
    )


def dict_get(
    df,
    dictionary,
    key: str,
    attrs: dict[str, tuple[str, object]],
    dict_key: str | None = None,
):
    """r9 — the ClickHouse external-dictionary lookup
    (``dictGet('dim', 'attr', key)``): enrich ``df`` with attribute
    columns from a DICTIONARY table, with CH's missing-key semantics —
    a key absent from the dictionary yields the attribute's DEFAULT
    (CH returns the type default / ``dictGetOrDefault``'s value), never
    a dropped row and never NULL-by-accident.

    ``attrs`` maps output column → (dictionary value column, default).
    Plan shape: dictionaries are small by contract (CH loads them in
    RAM on every server), so the lookup is a BROADCAST left join +
    coalesce — map-side, no shuffle of the fact side, which is exactly
    what dictGet is for at 100 TB: a fact-table scan decorated with
    in-memory lookups."""
    from pyspark.sql import functions as F

    dk = dict_key or key
    proj = dictionary.select(
        F.col(dk).alias(key), *[F.col(src).alias(out) for out, (src, _) in attrs.items()]
    )
    out = df.join(F.broadcast(proj), key, "left")
    for out_col, (_, default) in attrs.items():
        out = out.withColumn(out_col, F.coalesce(F.col(out_col), F.lit(default)))
    return out


def outbox_route(
    events: DataFrame,
    aggregate_type_col: str = "aggregatetype",
    aggregate_id_col: str = "aggregateid",
    type_col: str = "type",
    payload_col: str = "payload",
    op_col: str = "op",
    topic_prefix: str = "outbox.event",
) -> DataFrame:
    """r13 — the Debezium OUTBOX EVENT ROUTER SMT
    (``io.debezium.transforms.outbox.EventRouter``, the documented
    transactional-outbox pattern: services INSERT domain events into an
    outbox table inside the business transaction; the connector routes
    each captured row to ``<prefix>.<aggregatetype>`` with the
    aggregate id as the message KEY — so all events of one aggregate
    stay ordered in one partition — and the payload column as the
    value).

    Contract details carried over from the SMT's docs: only CREATE
    ('c') and snapshot-read ('r') records are routed — outbox rows are
    insert-only by design and services commonly DELETE them right after
    insert to keep the table small, so update/delete records (and delete
    tombstones) MUST NOT emit domain events.  Map-only projection +
    filter; fuses into the scan, no shuffle, any scale."""
    routed = events.filter(F.col(op_col).isin("c", "r"))
    return routed.select(
        F.concat(F.lit(topic_prefix + "."), F.col(aggregate_type_col))
        .alias("topic"),
        F.col(aggregate_id_col).cast("string").alias("key"),
        F.col(type_col).alias("event_type"),
        F.col(payload_col).alias("value"),
    )


def timezone_convert_fields(
    df: DataFrame,
    fields: list[str],
    converted_timezone: str,
    fmt: str = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
) -> DataFrame:
    """r15 — the Debezium ``TimezoneConverter`` SMT analogue
    (``io.debezium.transforms.TimezoneConverter``, shipped in the
    reference's own Debezium 2.4 — basic_example/docker-compose.yml):
    re-render ZonedTimestamp STRING fields (the
    ``io.debezium.time.ZonedTimestamp`` wire type — ISO-8601 with
    offset, the shape the reference's products feed carries and
    ``toDateTime64(trimRight(created_at,'Z'),6,'UTC')`` consumes,
    basic_example/clickhouse.sql:77-78) at a target zone given by
    ``converted.timezone``.

    Scope, per the SMT's contract: conversion changes the RENDERED
    zone, never the instant — ``2024-01-01T00:00:05.000000Z`` becomes
    ``2024-01-01T07:00:05.000000+07:00``.  Epoch-integer temporal
    types (MicroTimestamp et al.) are zone-less and pass through
    untouched, exactly like the real SMT.  ``include.list`` maps to
    the explicit ``fields`` argument.

    Only FIXED-OFFSET targets (``+HH:MM`` / ``-HH:MM`` / ``Z``) are
    supported: the conversion stays a closed-form shift both Spark
    and a plain-SQL oracle can compute; geographic zone ids would
    drag DST rule tables into the contract (Spark could resolve
    them, the portable oracle could not).  The offset parses ONCE,
    driver-side; per row the work is a cast + interval add + format —
    map-only, fuses into the scan, no shuffle at any scale."""
    m = re.fullmatch(r"([+-])(\d{2}):(\d{2})|Z", converted_timezone)
    if not m:
        raise ValueError(
            f"converted.timezone must be a fixed offset (+HH:MM, -HH:MM "
            f"or Z), got {converted_timezone!r}"
        )
    minutes = 0
    suffix = "Z"
    if converted_timezone != "Z":
        sign, hh, mm = m.group(1), int(m.group(2)), int(m.group(3))
        minutes = (hh * 60 + mm) * (-1 if sign == "-" else 1)
        suffix = converted_timezone
    out = df
    for f in fields:
        # the source string carries its own offset ('Z' or ±HH:MM), so
        # the timestamp cast resolves the INSTANT regardless of the
        # session zone; the shift then re-renders that instant as the
        # target zone's wall clock
        # make_interval handles negative offsets uniformly (a signed
        # INTERVAL literal does not parse on all Spark versions)
        ts = F.col(f).cast("timestamp") + F.expr(
            f"make_interval(0, 0, 0, 0, 0, {minutes}, 0)"
        )
        out = out.withColumn(
            f,
            F.when(
                F.col(f).isNotNull(),
                F.concat(F.date_format(ts, fmt), F.lit(suffix)),
            ),
        )
    return out


def partition_route(
    df: DataFrame,
    payload_fields: list[str],
    partition_num: int,
    out: str = "target_partition",
) -> DataFrame:
    """r15 — the Debezium ``PartitionRouting`` SMT analogue
    (``io.debezium.transforms.partitions.PartitionRouting``): compute
    each record's target topic partition from a hash of configured
    PAYLOAD fields (``partition.payload.fields``) modulo
    ``partition.topic.num`` — how operators pin one entity's events to
    one partition so per-key ordering survives repartitioned topics.
    The reference keeps partition lineage as a first-class column all
    the way into ClickHouse (init_logtrans.sql:35,
    init_clickhouse_raw_tables.sql:32); this SMT is what controls it.

    Semantics re-expressed, not copied: the Java SMT hashes with
    ``Objects.hash`` (a JVM-internal recipe); a re-implementation must
    only promise DETERMINISTIC, field-driven placement, so the engine
    uses the md5-portable recipe the repo already standardizes on
    (identical bytes in Spark and any oracle): the hash input is the
    ``|``-joined string form of the payload fields (NULL → the
    Debezium-style literal ``__null``), the bucket is the first 15 hex
    digits mod ``partition_num``.  Map-only projection — fuses into
    the scan, no shuffle."""
    if partition_num <= 0:
        raise ValueError("partition.topic.num must be positive")
    joined = F.concat_ws(
        "|", *[
            F.coalesce(F.col(f).cast("string"), F.lit("__null"))
            for f in payload_fields
        ]
    )
    bucket = (
        F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("bigint")
        % partition_num
    )
    return df.withColumn(out, bucket.cast("int"))


def header_to_value(
    df: DataFrame,
    headers: list[str],
    fields: list[str] | None = None,
    operation: str = "move",
    headers_col: str = "headers",
) -> DataFrame:
    """r15 — the Debezium ``HeaderToValue`` SMT analogue
    (``io.debezium.transforms.HeaderToValue``): surface named Kafka
    record HEADERS as value fields (``headers.list`` → ``fields.list``,
    ``operation=move|copy``).  The header plane is where upstream SMTs
    park routing/audit metadata (``ExtractChangedRecordState`` emits
    its changed-column lists there; r14's ``cdc_changed_columns``
    computes the same facts value-side) — this SMT is the bridge that
    makes them queryable.

    The engine models headers as a ``map<string,string>`` column on
    the Kafka-shaped record (sources/cdc.py emits it); each requested
    header materializes as a top-level column named by ``fields`` (the
    header name itself when omitted), and ``move`` removes it from the
    map while ``copy`` leaves the map untouched — the SMT's two
    documented operations.  A header absent from a record yields NULL,
    like the SMT.  Map-only (element_at + map_filter), no shuffle."""
    if operation not in {"move", "copy"}:
        raise ValueError("operation must be 'move' or 'copy'")
    names = fields if fields is not None else headers
    if len(names) != len(headers):
        raise ValueError("fields.list must match headers.list in length")
    out = df
    for h, name in zip(headers, names):
        out = out.withColumn(name, F.element_at(F.col(headers_col), h))
    if operation == "move":
        moved = F.array(*[F.lit(h) for h in headers])
        out = out.withColumn(
            headers_col,
            F.map_filter(
                F.col(headers_col), lambda k, _v: ~F.array_contains(moved, k)
            ),
        )
    return out


def logical_table_route(
    df: DataFrame,
    topic_regex: str,
    topic_replacement: str,
    enforce_key_uniqueness: bool = True,
    topic_col: str = "topic",
    physical_col: str = "__dbz__physicalTableIdentifier",
) -> DataFrame:
    """r15 — the Debezium ``ByLogicalTableRouter`` SMT analogue
    (``io.debezium.transforms.ByLogicalTableRouter``): merge the
    CDC topics of N physical SHARDS of one logical table into a single
    logical topic (``topic.regex`` → ``topic.replacement``) — the
    standard move for partitioned/sharded Postgres tables, where every
    shard emits to its own ``<prefix>.<schema>.<table_shard_k>`` topic
    but downstream wants ONE ``orders_all`` stream.

    ``key.enforce.uniqueness`` (default true, like the SMT): records
    whose topic matched are tagged with the ORIGINAL physical topic in
    ``__dbz__physicalTableIdentifier`` — the field the real SMT adds
    to the Kafka KEY so two shards' rows with the same primary key
    cannot collapse into one compacted-topic entry.  Non-matching
    topics pass through untouched with a NULL identifier, exactly the
    SMT's pass-through contract.

    Map-only (rlike + regexp_replace); fuses into the scan — the
    routing itself never shuffles, and the downstream latest-wins
    merge keys on (key, physical id), which is what makes per-shard
    key reuse safe."""
    matched = F.col(topic_col).rlike(topic_regex)
    out = df.withColumn(
        physical_col, F.when(matched, F.col(topic_col))
    )
    if not enforce_key_uniqueness:
        out = out.withColumn(physical_col, F.lit(None).cast("string"))
    return out.withColumn(
        topic_col,
        F.when(
            matched,
            F.regexp_replace(F.col(topic_col), topic_regex, topic_replacement),
        ).otherwise(F.col(topic_col)),
    )


# ---------------------------------------------------------------------------
# Kafka Connect core SMTs (org.apache.kafka.connect.transforms.*) — the
# stock transform library every Debezium deployment configures alongside
# the Debezium-specific SMTs above (the reference's connector JSON chains
# unwrap → mask → sanitize through exactly this mechanism,
# basic_example/abcsvb-connector-secure.json:31-49).  All map-only: each
# fuses into the record scan, no shuffle at any scale.
# ---------------------------------------------------------------------------


def regex_router(
    df: DataFrame,
    regex: str,
    replacement: str,
    topic_col: str = "topic",
) -> DataFrame:
    """``RegexRouter``: rename a record's TOPIC when the whole topic
    name matches ``regex``, substituting capture groups into
    ``replacement`` — the standard way to strip the connector's
    ``<prefix>.<schema>`` namespace before records reach a sink that
    maps topics to table names.

    Contract carried over from the SMT's docs: Java's
    ``Matcher.matches()`` anchors at BOTH ends (a partial match does
    not route), and non-matching topics pass through untouched.  The
    anchors are added here explicitly; capture-group references use
    ``$1``-style, same as the Java SMT."""
    anchored = regex if regex.startswith("^") else f"^(?:{regex})$"
    matched = F.col(topic_col).rlike(anchored)
    return df.withColumn(
        topic_col,
        F.when(
            matched,
            F.regexp_replace(F.col(topic_col), anchored, replacement),
        ).otherwise(F.col(topic_col)),
    )


def value_to_key(
    df: DataFrame,
    fields: list[str],
    key_col: str = "key",
) -> DataFrame:
    """``ValueToKey``: replace the record KEY with a struct built from
    the named VALUE fields — how operators re-key a topic so log
    compaction and partition ordering follow a business key (e.g.
    customer id) instead of the table's primary key.

    The engine's wire keys are JSON-rendered structs (sources/cdc.py),
    so the new key renders the same way: ``{"<field>": <value>, ...}``
    via ``to_json`` — byte-deterministic (struct field order is the
    ``fields`` order, like the SMT's schema order)."""
    return df.withColumn(
        key_col, F.to_json(F.struct(*[F.col(f).alias(f) for f in fields]))
    )


def cast_fields(df: DataFrame, spec: dict[str, str]) -> DataFrame:
    """``Cast``: cast named value fields to target types
    (``spec=field1:type1,field2:type2``).  Debezium feeds often carry
    decimals as strings (``decimal.handling.mode=string``, the
    reference's products feed) and µs-epochs as int64 — this SMT is
    the stock fix-up when the sink wants real types.

    Types use Spark/SQL names (``int32``/``int64``/``float64`` map to
    int/bigint/double, mirroring the Connect schema type names)."""
    _TYPES = {
        "int8": "tinyint", "int16": "smallint", "int32": "int",
        "int64": "bigint", "float32": "float", "float64": "double",
        "boolean": "boolean", "string": "string",
    }
    out = df
    for field, typ in spec.items():
        out = out.withColumn(field, F.col(field).cast(_TYPES.get(typ, typ)))
    return out


def replace_fields(
    df: DataFrame,
    exclude: list[str] | None = None,
    include: list[str] | None = None,
    renames: dict[str, str] | None = None,
) -> DataFrame:
    """``ReplaceField``: drop (``exclude``), keep-only (``include``)
    and rename (``renames`` = the SMT's ``renames=old:new,...``) value
    fields.  Per the SMT's contract, exclude is applied first, then
    include, then renames — and a rename of a dropped field is a
    no-op, not an error."""
    cols = list(df.columns)
    if exclude:
        dropped = set(exclude)
        cols = [c for c in cols if c not in dropped]
    if include:
        keep = set(include)
        cols = [c for c in cols if c in keep]
    renames = renames or {}
    return df.select(
        *[F.col(c).alias(renames.get(c, c)) for c in cols]
    )


def flatten_struct(df: DataFrame, delimiter: str = "_") -> DataFrame:
    """``Flatten``: recursively replace every struct column with one
    top-level column per leaf, named ``parent<delimiter>child`` — the
    bridge to sinks that cannot store nested records (the Debezium
    envelope is two structs deep, so this SMT is the blunt alternative
    to ``ExtractNewRecordState`` when the sink wants source/op/ts
    metadata kept).

    Walks the schema driver-side and emits ONE ``select`` of leaf
    references — per row this is pure column projection (no JSON
    re-parse, no Python), and Catalyst prunes any leaves a downstream
    query drops."""
    from pyspark.sql import types as T

    def leaves(field: T.StructField, col: Column | None, name: str) -> list:
        ref = df[field.name] if col is None else col[field.name]
        full = f"{name}{delimiter}{field.name}" if name else field.name
        if isinstance(field.dataType, T.StructType):
            out = []
            for sub in field.dataType.fields:
                out.extend(leaves(sub, ref, full))
            return out
        return [ref.alias(full)]

    cols: list = []
    for field in df.schema.fields:
        cols.extend(leaves(field, None, ""))
    return df.select(*cols)


def insert_fields(
    df: DataFrame,
    static: dict[str, str] | None = None,
    topic_field: str | None = None,
    partition_field: str | None = None,
    offset_field: str | None = None,
    timestamp_field: str | None = None,
) -> DataFrame:
    """``InsertField``: add static fields and/or Kafka record METADATA
    (topic/partition/offset/timestamp) as value fields — the standard
    provenance stamp, and exactly the lineage the reference persists
    as first-class columns in its raw archive tables
    (init_clickhouse_raw_tables.sql:28-48: ``_topic``, ``_partition``,
    ``_offset``, ``_timestamp``).

    Metadata comes from the record-plane columns the engine's Kafka
    shape carries (S3 virtual columns); the timestamp surfaces as a
    real TIMESTAMP (epoch-ms record time), like the SMT's Timestamp
    logical type."""
    out = df
    for name, val in (static or {}).items():
        out = out.withColumn(name, F.lit(val))
    if topic_field:
        out = out.withColumn(topic_field, F.col("topic"))
    if partition_field:
        out = out.withColumn(partition_field, F.col("partition"))
    if offset_field:
        out = out.withColumn(offset_field, F.col("offset"))
    if timestamp_field:
        out = out.withColumn(
            timestamp_field, F.timestamp_millis(F.col("timestamp"))
        )
    return out


def timestamp_router(
    df: DataFrame,
    topic_format: str = "${topic}-${timestamp}",
    ts_format: str = "yyyyMMdd",
    topic_col: str = "topic",
    ts_col: str = "timestamp",
) -> DataFrame:
    """``TimestampRouter``: re-address each record to a topic derived
    from its RECORD TIMESTAMP — ``topic.format`` with ``${topic}`` and
    ``${timestamp}`` placeholders, the timestamp rendered by
    ``timestamp.format`` (a ``SimpleDateFormat`` pattern).  This is
    how sinks get daily/hourly physical tables from one logical feed
    (the reference's raw archive keeps ``_timestamp`` for exactly this
    partition-lineage purpose).

    The record timestamp is the wire log's epoch-ms ``timestamp``
    column; the rendered form uses Spark's ``date_format`` (same
    pattern language for the date/time subset used here), evaluated in
    UTC regardless of session zone so routing is deployment-stable."""
    rendered = F.date_format(
        F.to_utc_timestamp(F.timestamp_millis(F.col(ts_col)), "UTC"),
        ts_format,
    )
    pieces: list = []
    rest = topic_format
    while rest:
        if rest.startswith("${topic}"):
            pieces.append(F.col(topic_col))
            rest = rest[len("${topic}"):]
            continue
        if rest.startswith("${timestamp}"):
            pieces.append(rendered)
            rest = rest[len("${timestamp}"):]
            continue
        nxt = len(rest)
        for ph in ("${topic}", "${timestamp}"):
            i = rest.find(ph)
            if i >= 0:
                nxt = min(nxt, i)
        pieces.append(F.lit(rest[:nxt]))
        rest = rest[nxt:]
    return df.withColumn(topic_col, F.concat(*pieces))


def hoist_field(df: DataFrame, field: str, cols: list[str] | None = None) -> DataFrame:
    """``HoistField``: wrap the record's value fields into a single
    STRUCT named ``field`` — the inverse of ``Flatten``, used when a
    sink expects the payload nested under one envelope key.  ``cols``
    limits which columns are hoisted (default: all); unhoisted columns
    stay top-level (the record-plane metadata, in this engine's
    shape)."""
    picked = cols if cols is not None else list(df.columns)
    keep = [c for c in df.columns if c not in set(picked)]
    return df.select(
        *keep, F.struct(*[F.col(c).alias(c) for c in picked]).alias(field)
    )


# --- Kafka Connect predicates (org.apache.kafka.connect.transforms.
# predicates.*) — boolean record conditions that GATE an SMT chain
# (``predicates=...`` + ``transforms.X.predicate=...``), or drop records
# outright when bound to the ``Filter`` SMT. ---


def reselect_columns(
    events: DataFrame,
    source: DataFrame,
    keys: list[str],
    columns: list[str],
    placeholder: str = "__debezium_unavailable_value",
    unavailable: bool = True,
    nulls: bool = True,
) -> DataFrame:
    """r15 — Debezium's ``ReselectColumnsPostProcessor``
    (io.debezium.processors.reselect.ReselectColumnsPostProcessor,
    Debezium 2.5+): when an event carries the TOAST unavailable-value
    placeholder (``reselect.unavailable.values``) or a NULL
    (``reselect.null.values``) in a configured column
    (``reselect.columns.include.list``), re-query the SOURCE table by
    primary key and fill in the row's CURRENT value.  Debezium's
    documented semantics, preserved here: the re-selected value is the
    database's value AT PROCESSING TIME (possibly newer than the
    event), and a key with no source row is left untouched (the
    post-processor logs and skips).

    The real post-processor issues one JDBC point-SELECT per flagged
    event; the Spark-first re-expression batches the whole repair into
    ONE left join of the flagged slice against the source snapshot —
    the flagged slice is filtered out first, so the join's left side
    is only the events that actually need repair, and Catalyst/AQE
    pick the join strategy from its real size.  Clean events bypass
    the join entirely (union of the two slices).

    Adds one ``<col>__reselected`` boolean per configured column."""
    import functools
    import operator as _op

    def col_trigger(c: str) -> Column:
        conds = []
        if unavailable:
            conds.append(F.col(c) == F.lit(placeholder))
        if nulls:
            conds.append(F.col(c).isNull())
        return functools.reduce(_op.or_, conds)

    if not (unavailable or nulls):
        raise ValueError("at least one of unavailable/nulls must be on")
    any_trigger = functools.reduce(_op.or_, [col_trigger(c) for c in columns])
    # NULL-trigger columns make the predicate itself NULL on clean rows
    # unless coalesced — pin both slices to a total predicate.
    any_trigger = F.coalesce(any_trigger, F.lit(False))
    flagged = events.filter(any_trigger)
    clean = events.filter(~any_trigger)

    src = source.select(
        *[F.col(k).alias(f"__src_{k}") for k in keys],
        *[F.col(c).alias(f"__src_{c}") for c in columns],
    )
    on = functools.reduce(
        _op.and_, [flagged[k] == src[f"__src_{k}"] for k in keys]
    )
    joined = flagged.join(src, on, "left")
    for c in columns:
        hit = F.coalesce(col_trigger(c), F.lit(False)) & F.col(
            f"__src_{c}"
        ).isNotNull()
        joined = joined.withColumn(
            f"{c}__reselected", hit
        ).withColumn(c, F.when(hit, F.col(f"__src_{c}")).otherwise(F.col(c)))
    repaired = joined.drop(
        *[f"__src_{k}" for k in keys], *[f"__src_{c}" for c in columns]
    )
    clean = clean.select(
        "*", *[F.lit(False).alias(f"{c}__reselected") for c in columns]
    )
    return clean.unionByName(repaired)


def insert_header(
    df: DataFrame,
    header: str,
    value_literal: str,
    headers_col: str = "headers",
) -> DataFrame:
    """r15 — Kafka Connect's ``InsertHeader`` SMT
    (org.apache.kafka.connect.transforms.InsertHeader, ``header`` +
    ``value.literal``): stamp every record with one static header —
    how operators tag a whole pipeline's records with provenance
    (cluster id, pipeline name) without touching the value.  Connect's
    ``addHeader`` appends and allows duplicate keys; the engine's
    ``map<string,string>`` plane keeps LAST-WRITE-WINS semantics
    instead (``map_concat`` would throw on a duplicate key under
    spark.sql.mapKeyDedupPolicy=EXCEPTION, so the existing key is
    filtered first) — the documented divergence, and the semantics
    every downstream ``element_at`` read gives anyway.  Map-only."""
    cleared = F.map_filter(F.col(headers_col), lambda k, _v: k != F.lit(header))
    return df.withColumn(
        headers_col,
        F.map_concat(
            cleared,
            F.create_map(F.lit(header), F.lit(value_literal)),
        ),
    )


def drop_headers(
    df: DataFrame, headers: list[str], headers_col: str = "headers"
) -> DataFrame:
    """r15 — Kafka Connect's ``DropHeaders`` SMT
    (org.apache.kafka.connect.transforms.DropHeaders, ``headers``
    list): remove the named headers from every record — the scrub
    step before records leave a trust boundary (trace ids, internal
    routing hints).  Absent keys are a no-op, like the SMT.
    Map-only (map_filter), no shuffle."""
    named = F.array(*[F.lit(h) for h in headers])
    return df.withColumn(
        headers_col,
        F.map_filter(F.col(headers_col), lambda k, _v: ~F.array_contains(named, k)),
    )


def dlq_route(
    failed: DataFrame,
    dlq_topic: str,
    connector: str,
    stage: str,
    exception_class: str,
    exception_message: Column,
    topic_col: str = "topic",
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """r15 — Kafka Connect's DEAD LETTER QUEUE contract (public docs:
    ``errors.tolerance=all`` + ``errors.deadletterqueue.topic.name`` +
    ``errors.deadletterqueue.context.headers.enable=true``): failed
    records are re-produced to the DLQ topic with the ORIGINAL value
    bytes untouched and the error context in ``__connect.errors.*``
    HEADERS — topic/partition/offset of the failed record, connector
    and stage, exception class and message — so an operator can replay
    or triage without a side lookup.

    The engine's dead-letter splits (corrupt_filter & friends) keep
    poison rows addressable; this shapes them into the exact records a
    Connect DLQ consumer expects.  Map-only projection."""
    hdr = F.map_from_arrays(
        F.array(
            F.lit("__connect.errors.topic"),
            F.lit("__connect.errors.partition"),
            F.lit("__connect.errors.offset"),
            F.lit("__connect.errors.connector.name"),
            F.lit("__connect.errors.stage"),
            F.lit("__connect.errors.exception.class.name"),
            F.lit("__connect.errors.exception.message"),
        ),
        F.array(
            F.col(topic_col).cast("string"),
            F.col(partition_col).cast("string"),
            F.col(offset_col).cast("string"),
            F.lit(connector),
            F.lit(stage),
            F.lit(exception_class),
            exception_message.cast("string"),
        ),
    )
    return failed.select(
        F.lit(dlq_topic).alias("topic"),
        F.col("key"),
        F.col("value"),
        hdr.alias("headers"),
    )


def topic_name_matches(pattern: str, topic_col: str = "topic") -> Column:
    """``TopicNameMatches``: whole-name regex on the record topic
    (Java ``matches()`` anchoring, like regex_router)."""
    anchored = pattern if pattern.startswith("^") else f"^(?:{pattern})$"
    return F.col(topic_col).rlike(anchored)


def record_is_tombstone(value_col: str = "value") -> Column:
    """``RecordIsTombstone``: the record's VALUE is null — Kafka's
    deletion marker for compacted topics (Debezium emits one after
    each delete unless ``tombstones.on.delete=false``)."""
    return F.col(value_col).isNull()


def has_header_key(key: str, headers_col: str = "headers") -> Column:
    """``HasHeaderKey``: a header with the given key is present."""
    return F.map_contains_key(F.col(headers_col), key)


def filter_records(
    df: DataFrame, predicate: Column, negate: bool = False
) -> DataFrame:
    """The ``Filter`` SMT bound to a predicate: DROP records where the
    predicate holds (keep them instead when ``negate`` — the
    ``negate=true`` knob).  Filters this early push into the scan —
    at 100 TB this is the difference between parsing a topic and
    skipping it."""
    cond = predicate if negate else ~predicate
    return df.filter(cond)


def convert_timestamp_field(
    df: DataFrame,
    field: str,
    target_type: str,
    fmt: str | None = None,
    unix_precision: str = "microseconds",
    out: str | None = None,
) -> DataFrame:
    """``TimestampConverter``
    (org.apache.kafka.connect.transforms.TimestampConverter$Value):
    convert one value field between the temporal representations
    connect pipelines juggle — epoch integer (``unix``, at a declared
    ``unix.precision``), rendered ``string`` (``format`` =
    SimpleDateFormat pattern), and real ``Timestamp``.  Debezium emits
    MicroTimestamp int64s (the orders feed's ``o_orderdate``); sinks
    routinely want one of the other two — this SMT is the stock
    adapter.

    The source representation is inferred from the column's type
    (integer = epoch at ``unix_precision``, string = parse with
    ``fmt``, timestamp = as-is), mirroring the SMT's schema-driven
    dispatch.  Rendering/parsing is UTC (the session zone is pinned
    UTC engine-wide).  Map-only, fuses into the scan."""
    _UNIX_DIV = {"milliseconds": 1, "microseconds": 1000,
                 "seconds": 1.0 / 1000, "nanoseconds": 1_000_000}
    if target_type not in {"Timestamp", "string", "unix"}:
        raise ValueError(f"unsupported target.type {target_type!r}")
    if unix_precision not in _UNIX_DIV:
        raise ValueError(f"unsupported unix.precision {unix_precision!r}")
    src = F.col(field)
    dtype = dict(df.dtypes)[field]
    if dtype in ("bigint", "int", "long"):
        us = {
            "microseconds": src,
            "milliseconds": src * 1000,
            "seconds": src * 1_000_000,
            "nanoseconds": F.floor(src / 1000).cast("long"),
        }[unix_precision]
        ts = F.timestamp_micros(us.cast("long"))
    elif dtype == "string":
        if not fmt:
            raise ValueError("string source requires format")
        ts = F.to_timestamp(src, fmt)
    else:
        ts = src.cast("timestamp")
    if target_type == "Timestamp":
        res = ts
    elif target_type == "string":
        if not fmt:
            raise ValueError("string target requires format")
        res = F.date_format(ts, fmt)
    else:
        res = {
            "microseconds": F.unix_micros(ts),
            "milliseconds": F.floor(F.unix_micros(ts) / 1000).cast("long"),
            "seconds": F.floor(F.unix_micros(ts) / 1_000_000).cast("long"),
            "nanoseconds": (F.unix_micros(ts) * 1000),
        }[unix_precision]
    return df.withColumn(out or field, res)
