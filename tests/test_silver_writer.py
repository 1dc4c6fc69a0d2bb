"""The silver store's one data-file writer (``_SilverStore._write_files``):
files written once from Arrow under their final names, with the manifest
CAS as the commit.  Every stored column type round-trips through a delta,
a fold and ``read_silver``; epochs Spark's writer wrote still read and
fold; the ``mapInArrow`` placement writes what the driver placement
writes; page CRCs make a flipped byte fail the read; an epoch dir holds
only files some manifest listed; and the session's checkpoint manager
refuses a second writer of one batch file."""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl
from postgres_debezium_clickhouse_spark import session

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("c_byte", T.ByteType()),
    T.StructField("c_short", T.ShortType()),
    T.StructField("c_int", T.IntegerType()),
    T.StructField("c_long", T.LongType()),
    T.StructField("c_float", T.FloatType()),
    T.StructField("c_double", T.DoubleType()),
    T.StructField("c_dec", T.DecimalType(10, 2)),
    T.StructField("c_wide", T.DecimalType(38, 6)),
    T.StructField("c_str", T.StringType()),
    T.StructField("c_bin", T.BinaryType()),
    T.StructField("c_bool", T.BooleanType()),
    T.StructField("c_date", T.DateType()),
    T.StructField("c_ts", T.TimestampType()),
    T.StructField("c_ntz", T.TimestampNTZType()),
    T.StructField("c_arr", T.ArrayType(T.LongType())),
    T.StructField("c_struct", T.StructType([
        T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())])),
    T.StructField("op", T.StringType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("offset", T.LongType()),
])
VALUES = [f.name for f in SCHEMA.fields if f.name.startswith("c_")]


def _row(i: int, gen: int, op: str = "u") -> tuple:
    """Event ``gen`` of key ``i``: every value column set, NULL on every
    fifth key, extremes on key 0."""
    if i % 5 == 4:
        vals = (None,) * len(VALUES)
    else:
        vals = (
            -128 if i == 0 else (i * gen) % 127,
            -32768 if i == 0 else (i * 300 + gen) % 32000,
            -(2 ** 31) if i == 0 else i * 70_000 + gen,
            2 ** 63 - 1 if i == 0 else i * 10 ** 12 + gen,
            1.5 * i + gen,
            1e300 if i == 0 else i / 7 + gen,
            Decimal("-99999999.99") if i == 0 else Decimal(f"{i}.{gen:02d}"),
            Decimal("12345678901234567890123456789012.123456") if i == 0
            else Decimal(f"{i * 10 ** 20}.{gen:06d}"),
            f"é✓ key {i} gen {gen}",
            bytes([i % 256, gen, 0, 255]),
            (i + gen) % 2 == 0,
            dt.date(1970, 1, 1) + dt.timedelta(days=i * 400 + gen),
            dt.datetime(2024, 1, 1, i % 24, gen, 7, 123456),
            dt.datetime(1999, 12, 31, 23, i % 60, gen, 654321),
            [i, gen, -1],
            (i, f"s{gen}"),
        )
    return (i, *vals, op, gen, i)


def _batch(spark, tmp_path, name: str, rows: list[tuple]):
    """``rows`` as a file-backed batch, as a file source hands one to the
    sink (its size estimate is what places the writer)."""
    src = str(tmp_path / name)
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    return spark.read.schema(SCHEMA).parquet(src)


def _state(spark, path) -> dict:
    return {r.id: tuple(r[c] for c in VALUES) for r in pl.read_silver(spark, path).collect()}


def _expected(*generations: list[tuple]) -> dict:
    out = {}
    for rows in generations:
        for r in rows:
            if r[-3] == "d":
                out.pop(r[0], None)
            else:
                out[r[0]] = r[1:1 + len(VALUES)]
    return out


def _upsert(batch, path):
    pl._cdc_upsert(batch, path, ["id"], 4, "ts_ms", "offset")


def _file_types(spark, path, files) -> dict:
    """Each file's column types as Spark infers them from its footer."""
    return {f: {c.name: c.dataType for c in spark.read.parquet(os.path.join(path, f)).schema
                if c.name in VALUES} for f in files}


def _typed_store(spark, tmp_path, path) -> tuple[list, list]:
    """Seed ``path`` (an inline fold into an empty store) and append one
    delta that updates, deletes and adds keys."""
    gen1 = [_row(i, 1) for i in range(20)]
    gen2 = [_row(i, 2) for i in range(0, 10)] + [_row(19, 2, "d"), _row(25, 2)]
    _upsert(_batch(spark, tmp_path, "gen1", gen1), path)
    _upsert(_batch(spark, tmp_path, "gen2", gen2), path)
    return gen1, gen2


@pytest.mark.parametrize("placement", ["driver", "mapInArrow"])
def test_every_stored_type_round_trips_through_delta_fold_and_read(
        spark, tmp_path, monkeypatch, placement):
    monkeypatch.setattr(pl, "FOLD_DELTAS", 16)
    if placement == "mapInArrow":
        monkeypatch.setattr(pl, "_fits_one_task", lambda df: False)
    path = str(tmp_path / "store")
    gen1, gen2 = _typed_store(spark, tmp_path, path)
    want = {f.name: f.dataType for f in SCHEMA.fields if f.name in VALUES}
    m = pl._read_manifest(path)
    assert len(m[pl.DELTAS]) == 1
    assert _state(spark, path) == _expected(gen1, gen2)
    assert {f.name: f.dataType for f in pl.read_silver(spark, path).schema.fields
            if f.name in VALUES} == want
    assert all(t == want for t in _file_types(spark, path, m["files"] + m[pl.DELTAS]).values())

    pl._SilverStore.open(path, spark, fold_first=True)
    m = pl._read_manifest(path)
    assert m[pl.DELTAS] == [] and m["version"] == 3
    assert _state(spark, path) == _expected(gen1, gen2)
    assert all(t == want for t in _file_types(spark, path, m["files"]).values())


def test_summing_states_round_trip(spark, tmp_path):
    """The summing sink's map, array and struct states (summap, kmv,
    argmax) written by one trigger and merged by the next read back the
    same as the state of one trigger over every row."""
    rows = [(k, f"e{k}-{j}", {"a": 1.25 * j, f"m{k}": 2.5}, j * 10 + k)
            for k in range(6) for j in range(4)]
    events = "k long, item string, mp map<string,double>, o long"
    spec = {"s_map": ("mp", "summap"), "s_kmv": ("item", "kmv"), "s_arg": ("item", "argmax:o")}

    def run(name, batches):
        src, path = str(tmp_path / f"src_{name}"), str(tmp_path / name)
        for n, part in enumerate(batches):
            spark.createDataFrame(part, events).coalesce(1).write.mode("append").json(src)
            q = pl.silver_summing_stream(
                spark.readStream.schema(events).json(src), path, str(tmp_path / f"c_{name}"),
                keys=["k"], agg_spec=spec, available_now=True, n_buckets=4)
            assert q.awaitTermination(180)
        return {r.k: (dict(r.s_map), list(r.s_kmv), tuple(r.s_arg))
                for r in pl.read_silver(spark, path).collect()}

    two = run("two", [rows[::2], rows[1::2]])
    assert two == run("one", [rows])
    assert {k: v[0] for k, v in two.items()} == {
        k: {"a": Decimal("7.50"), f"m{k}": Decimal("10.00")} for k in range(6)}
    assert {k: v[2] for k, v in two.items()} == {k: (30 + k, f"e{k}-3") for k in range(6)}
    assert all(len(v[1]) == 4 and v[1] == sorted(v[1]) for v in two.values())


def test_spark_written_epochs_still_read_and_fold(spark, tmp_path, monkeypatch):
    """A store whose first epochs Spark's writer wrote, behind a manifest
    from before the union schema: the next trigger reads its footers,
    folds over its files, and a delta and a fold on top read back."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 16)
    path = str(tmp_path / "store")
    with monkeypatch.context() as old:
        old.setattr(pl._SilverStore, "_write_files", pl._SilverStore._spark_files)
        gen1, gen2 = _typed_store(spark, tmp_path, path)
    m = pl._read_manifest(path)
    assert any(name.endswith(".crc") for _r, _d, names in os.walk(path) for name in names)
    m.pop(pl.SCHEMA_UNION)
    pl._write_manifest(path, {**m, "version": m["version"] + 1}, expected_version=m["version"])

    gen3 = [_row(i, 3) for i in range(5, 15)]
    _upsert(_batch(spark, tmp_path, "gen3", gen3), path)  # must fold: pre-union
    m = pl._read_manifest(path)
    assert m[pl.SCHEMA_UNION] and m[pl.DELTAS] == []
    assert _state(spark, path) == _expected(gen1, gen2, gen3)
    gen4 = [_row(i, 4) for i in range(0, 30, 3)]
    _upsert(_batch(spark, tmp_path, "gen4", gen4), path)
    assert len(pl._read_manifest(path)[pl.DELTAS]) == 1
    assert _state(spark, path) == _expected(gen1, gen2, gen3, gen4)
    pl._SilverStore.open(path, spark, fold_first=True)
    assert _state(spark, path) == _expected(gen1, gen2, gen3, gen4)


def _file_rows(path, files) -> dict:
    """Rows of each file, in file order, by (layout, bucket)."""
    return {(f.split("__epoch=")[0], pl._SilverStore._bucket_of(f)):
            pq.read_table(os.path.join(path, f)).to_pylist() for f in files}


def test_map_in_arrow_placement_writes_what_the_driver_writes(spark, tmp_path, monkeypatch):
    """The same triggers and background fold with the broadcast threshold
    off (every write above ``_fits_one_task``, so in ``mapInArrow``) and
    on (on the driver): the same rows in the same order in every file."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 1)
    placed = []
    real = pl._fits_one_task
    monkeypatch.setattr(pl, "_fits_one_task", lambda df: placed.append(real(df)) or placed[-1])
    seen = {}
    for threshold in ("-1", str(64 * 1024 * 1024)):
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        try:
            placed.clear()
            path = str(tmp_path / f"store{threshold}")
            gen1, gen2 = _typed_store(spark, tmp_path / threshold, path)
            assert pl._folder(path).wait(120)
            pl._SilverStore.open(path, spark, fold_first=True)  # commits the fold's plan
            m = pl._read_manifest(path)
            assert m[pl.DELTAS] == [] and any(f.startswith("__epoch=-2/") for f in m["files"])
            files = {}
            for v in range(1, m["version"] + 1):
                with open(os.path.join(path, pl.HISTORY_DIR, f"_manifest.v{v}.json")) as fh:
                    hv = json.load(fh)
                files[v] = _file_rows(path, hv["files"] + hv[pl.DELTAS])
            seen[threshold] = (set(placed), files)
            assert _state(spark, path) == _expected(gen1, gen2)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    (above, executor), (under, driver) = seen.values()
    assert above == {False} and under == {True}
    assert executor == driver


def test_an_input_too_large_for_the_driver_writes_in_map_in_arrow(spark, tmp_path, monkeypatch):
    """Inputs that fit one task but exceed ``_DRIVER_WRITE_BYTES`` are not
    collected on the driver: the inline fold, the delta and the background
    fold all write in ``mapInArrow``, and their files hold what the driver
    placement writes."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 16)
    fits, mapped, writes = [], [], []
    frame = type(spark.range(1))  # the session's DataFrame class, not the API base
    real_fits, real_map = pl._fits_one_task, frame.mapInArrow
    real_write = pl._SilverStore._write_files
    monkeypatch.setattr(pl, "_fits_one_task", lambda df: fits.append(real_fits(df)) or fits[-1])
    monkeypatch.setattr(frame, "mapInArrow",
                        lambda df, *a, **k: mapped.append(1) or real_map(df, *a, **k))
    monkeypatch.setattr(pl._SilverStore, "_write_files",
                        lambda self, df, rel: writes.append(rel) or real_write(self, df, rel))
    seen = {}
    for cap in (pl._SilverStore._DRIVER_WRITE_BYTES, 1024):
        monkeypatch.setattr(pl._SilverStore, "_DRIVER_WRITE_BYTES", cap)
        fits.clear()
        mapped.clear()
        writes.clear()
        path = str(tmp_path / f"store{cap}")
        gen1, gen2 = _typed_store(spark, tmp_path / str(cap), path)
        folder = pl._folder(path)
        assert folder.wait(120) and folder.plan is not None
        assert _state(spark, path) == _expected(gen1, gen2)
        m = pl._read_manifest(path)
        assert writes == ["__epoch=1", "__epoch=2", "__epoch=-2"] and fits and all(fits)
        seen[cap] = (len(mapped), _file_rows(path, m["files"] + m[pl.DELTAS]),
                     _file_rows(path, folder.plan.written))
    (on_driver, *driver), (in_map, *executor) = seen.values()
    assert on_driver == 0 and in_map == 3
    assert executor == driver


def test_ensure_session_confs_keeps_a_session_s_own_checkpoint_manager(spark):
    """A session the engine did not create gets the FileSystem-based
    checkpoint manager only when it names none: a manager it chose (say,
    for a store without atomic rename) is left alone."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    own = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    try:
        spark.conf.unset(key)
        session.ensure_session_confs(spark)
        assert spark.conf.get(key) == session._CHECKPOINT_FILE_MANAGER
        spark.conf.set(key, own)
        session.ensure_session_confs(spark)
        assert spark.conf.get(key) == own
    finally:
        spark.conf.set(key, session._CHECKPOINT_FILE_MANAGER)


def _flip_a_dictionary_byte(file: str, column: str) -> None:
    """Flip one byte near the end of ``column``'s first page (its
    dictionary page): a literal value byte of the snappy stream, so the
    page still decompresses, to a wrong value."""
    md = pq.ParquetFile(file).metadata
    chunk = md.row_group(0).column(md.schema.names.index(column))
    assert chunk.has_dictionary_page
    at = chunk.data_page_offset - 3
    with open(file, "r+b") as fh:
        fh.seek(at)
        b = fh.read(1)
        fh.seek(at)
        fh.write(bytes([b[0] ^ 0x10]))


def test_a_flipped_byte_in_a_page_fails_the_read(spark, tmp_path):
    path = str(tmp_path / "store")
    rows = [_row(i, 1) for i in range(0, 400, 5)]  # key 0 and no NULL rows
    _upsert(_batch(spark, tmp_path, "gen1", rows), path)
    m = pl._read_manifest(path)
    target = max(m["files"], key=lambda f: os.path.getsize(os.path.join(path, f)))
    _flip_a_dictionary_byte(os.path.join(path, target), "c_double")
    with pytest.raises(Exception, match="(?i)checksum"):
        pl.read_silver(spark, path).collect()


def test_epoch_dirs_hold_only_manifest_files(spark, tmp_path, monkeypatch):
    """After a delta trigger, an inline fold, a background fold and a
    projection publish, every file under an ``__epoch=`` dir is listed by
    a committed manifest or is the output of the unspent fold: no
    ``.crc``, ``_SUCCESS`` or ``_temporary`` entry anywhere."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 1)
    path = str(tmp_path / "store")
    _upsert(_batch(spark, tmp_path, "gen1", [_row(i, 1) for i in range(40)]), path)  # inline
    _upsert(_batch(spark, tmp_path, "gen2", [_row(i, 2) for i in range(5)]), path)  # delta
    folder = pl._folder(path)
    assert folder.wait(120) and folder.plan is not None
    _upsert(_batch(spark, tmp_path, "gen3", [_row(i, 3) for i in range(3, 9)]), path)
    assert any(f.startswith("__epoch=-2/") for f in pl._read_manifest(path)["files"])
    pl.add_projection(spark, path, ["id"], "by_int", ["c_int"])
    _upsert(_batch(spark, tmp_path, "gen4", [_row(i, 4) for i in range(30, 35)]), path)
    assert folder.wait(120)

    listed = set()
    for name in os.listdir(os.path.join(path, pl.HISTORY_DIR)):
        with open(os.path.join(path, pl.HISTORY_DIR, name)) as fh:
            listed |= {f for _layout, f, _b, _e in pl._SilverStore(path, json.load(fh)).parts()}
    if folder.plan is not None:
        listed |= set(folder.plan.written)
    entries, files = set(), set()
    for root, dirs, names in os.walk(path):
        rel = os.path.relpath(root, path)
        if "__epoch=" not in rel:
            continue
        entries |= set(dirs) | set(names)
        files |= {os.path.join(rel, n) for n in names}
    assert any(f.startswith("__proj_by_int/") for f in files)
    assert not {e for e in entries if e.endswith(".crc") or e in ("_SUCCESS", "_temporary")}
    assert files <= listed, sorted(files - listed)
    assert _state(spark, path) == _expected(
        [_row(i, 1) for i in range(40)], [_row(i, 2) for i in range(5)],
        [_row(i, 3) for i in range(3, 9)], [_row(i, 4) for i in range(30, 35)])


def test_checkpoint_manager_refuses_a_second_writer_of_a_batch(spark, tmp_path):
    """Under the session's checkpoint manager, two atomic streams of one
    batch file, neither allowed to overwrite: the second close fails and
    the first one's bytes stay — Spark's guard against two writers of one
    batch id."""
    jvm = spark._jvm
    log = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "offsets"))
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager \
        .create(log, spark._jsparkSession.sessionState().newHadoopConf())
    assert manager.getClass().getName() == session._CHECKPOINT_FILE_MANAGER
    manager.mkdirs(log)
    batch = jvm.org.apache.hadoop.fs.Path(log, "0")
    first, second = manager.createAtomic(batch, False), manager.createAtomic(batch, False)
    first.write(bytearray(b"first"))
    second.write(bytearray(b"second"))
    first.close()
    with pytest.raises(Exception, match="FileAlreadyExists|already exists"):
        second.close()
    with open(str(tmp_path / "offsets" / "0"), "rb") as fh:
        assert fh.read() == b"first"
