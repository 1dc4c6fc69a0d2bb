"""Stateful model test of the keyed silver store: upsert triggers (with
out-of-order versions, duplicate deliveries, deletes and a batch that
adds a column), the background fold's two steps (called here with no
thread, so other writers can land between them), mutations, compaction,
rebucketing, restores, vacuum, time travel and version diffs,
interleaved by hypothesis and checked against a Python dict after every
step.  Run at both ends of the merge-on-read fold cadence: a fold on
every trigger (the eager store) and never a fold (every trigger a delta,
folded only by the other writers)."""

from __future__ import annotations

import copy
import tempfile

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import functions as F

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl

KEYS = range(6)
NARROW = "id long, val string, op string, ts_ms long, offset long"
WIDE = "id long, val string, tier string, op string, ts_ms long, offset long"

_event = st.tuples(st.sampled_from(KEYS), st.sampled_from(["x", "y", "z"]),
                   st.sampled_from(["c", "u", "u", "d"]), st.integers(1, 12))
_batch = st.tuples(st.lists(_event, min_size=1, max_size=6), st.booleans(),
                   st.lists(st.integers(0, 5), max_size=2))


class SilverModel(RuleBasedStateMachine):
    """``rows`` maps a stored key to its row (val, tier, op, ts, off,
    deleted); ``versions`` maps each committed version to a copy of
    ``rows`` and whether that version's schema has ``tier``."""

    spark = None
    root = None

    def __init__(self):
        super().__init__()
        self.path = tempfile.mkdtemp(dir=self.root)
        self.rows: dict[int, dict] = {}
        self.wide = False
        self.offset = 0
        self.recent: list[int] = []
        self.versions: dict[int, tuple[dict, bool]] = {}
        self.readable: set[int] = set()
        self.plan = None  # a prepared fold not committed yet

    # -- bookkeeping ---------------------------------------------------

    def _version(self) -> int:
        m = pl._read_manifest(self.path)
        return 0 if m is None else m["version"]

    def _commit(self, before: int, pre: dict, pre_wide: bool) -> None:
        """Record the versions an operation committed: any it made before
        its last (a fold first) hold the pre-operation state."""
        after = self._version()
        for v in range(before + 1, after + 1):
            state = (self.rows, self.wide) if v == after else (pre, pre_wide)
            self.versions[v] = (copy.deepcopy(state[0]), state[1])
            self.readable.add(v)

    def _live(self, rows: dict) -> dict:
        return {k: (r["val"], r["tier"]) for k, r in rows.items() if not r["deleted"]}

    # -- rules -----------------------------------------------------------

    @initialize(first=_batch, second=_batch)
    def two_triggers(self, first, second):
        self.upsert(first)
        self.upsert(second)

    @rule(batch=_batch)
    def upsert(self, batch):
        """One trigger: fresh offsets per event (versions may go
        backwards), ``dup`` indexes re-delivered within the batch."""
        events, wide, dup = batch
        rows = []
        for k, val, op, ts in events:
            self.offset += 1
            rows.append((k, val, f"t{self.offset}" if wide else None, op, ts, self.offset))
        rows += [rows[i] for i in dup if i < len(rows)]
        before, pre, pre_wide = self._version(), copy.deepcopy(self.rows), self.wide
        if wide:
            df = self.spark.createDataFrame(rows, WIDE)
        else:
            df = self.spark.createDataFrame([(k, v, o, t, off) for k, v, _, o, t, off in rows], NARROW)
        pl._cdc_upsert(df, self.path, ["id"], 4, "ts_ms", "offset")
        winners: dict[int, tuple] = {}
        for r in rows:
            if r[0] not in winners or r[4:6] > winners[r[0]][4:6]:
                winners[r[0]] = r
        for k, (_, val, tier, op, ts, off) in winners.items():
            cur = self.rows.get(k)
            if cur is None or (ts, off) > (cur["ts"], cur["off"]):
                cur = {"val": val, "tier": tier, "op": op, "ts": ts, "off": off}
            self.rows[k] = {**cur, "deleted": cur["op"] == "d"}
        self.wide |= wide
        self.recent = sorted(winners)
        self._commit(before, pre, pre_wide)

    @rule()
    def fold_prepare(self):
        """The background fold's first step: a plan of the current deltas
        (None when there are none), its files written, nothing committed."""
        store = pl._SilverStore.load(self.path)
        if self.plan is None and store is not None:
            self.plan = store.fold_prepare(self.spark)

    @rule()
    def fold_commit(self):
        """The second step, on the store as it is now: the plan commits
        when its buckets and the deltas it folded are unchanged, keeping
        every later delta; else nothing commits.  The rows are the
        model's either way."""
        if self.plan is None:
            return
        before = self._version()
        pl._SilverStore.load(self.path).fold_commit(self.plan)
        self.plan = None
        self._commit(before, self.rows, self.wide)

    @rule(data=st.data(), delete=st.booleans())
    def mutate(self, data, delete):
        """Mostly on a live key the last trigger wrote: the mutation then
        rewrites the row that trigger's delta (if any) also holds."""
        live = self._live(self.rows)
        recent = [k for k in self.recent if k in live] or sorted(live) or list(KEYS)
        k = data.draw(st.sampled_from(recent) | st.sampled_from(KEYS))
        before, pre = self._version(), copy.deepcopy(self.rows)
        kw = {"delete": True} if delete else {"set_exprs": {"val": F.lit(f"m{before}")}}
        n = pl.mutate_silver(self.spark, self.path, ["id"], F.col("id") == k, **kw)
        live = k in self.rows and not self.rows[k]["deleted"]
        assert n == int(live)
        if live:
            if delete:
                self.rows[k]["deleted"] = True
            else:
                self.rows[k]["val"] = f"m{before}"
        self._commit(before, pre, self.wide)

    @rule(horizon=st.none() | st.integers(1, 12))
    def compact(self, horizon):
        before, pre = self._version(), copy.deepcopy(self.rows)
        pl.compact_silver(self.spark, self.path, ["id"], drop_tombstones_below_version=horizon,
                          vacuum_grace_s=600)
        if horizon is not None:
            self.rows = {k: r for k, r in self.rows.items()
                         if not (r["deleted"] and r["ts"] < horizon)}
        self._commit(before, pre, self.wide)

    @rule(n_buckets=st.integers(2, 8))
    def rebucket(self, n_buckets):
        before, pre = self._version(), copy.deepcopy(self.rows)
        pl.rebucket_silver(self.spark, self.path, ["id"], n_buckets)
        self._commit(before, pre, self.wide)

    @precondition(lambda self: self.readable)
    @rule(data=st.data())
    def restore(self, data):
        """Roll back to a retained version: its rows, tombstones and
        schema become the store's next version."""
        v = data.draw(st.sampled_from(sorted(self.readable)))
        before, pre, pre_wide = self._version(), copy.deepcopy(self.rows), self.wide
        pl.restore_silver(self.spark, self.path, ["id"], v)
        rows, self.wide = self.versions[v]
        self.rows = copy.deepcopy(rows)
        self._commit(before, pre, pre_wide)

    @rule(retain=st.integers(0, 3))
    def vacuum(self, retain):
        kept = set(pl.silver_versions(self.path)[-retain:]) if retain else set()
        pl.vacuum_silver(self.path, grace_s=0.0, retain_versions=retain)
        self.readable &= kept | {self._version()}

    @precondition(lambda self: self.readable)
    @rule(data=st.data())
    def as_of(self, data):
        v = data.draw(st.sampled_from(sorted(self.readable)))
        rows, wide = self.versions[v]
        df = pl.read_silver(self.spark, self.path, as_of_version=v)
        assert ("tier" in df.columns) == wide
        assert self._read(df) == self._live(rows)

    @precondition(lambda self: self.readable)
    @rule(data=st.data())
    def diff(self, data):
        v = data.draw(st.sampled_from(sorted(self.readable)))
        (a, a_wide), b = self.versions[v], self.rows
        shared = ["offset", "op", "ts_ms", "val"] + (["tier"] if a_wide and self.wide else [])

        def payload(r):
            return {"val": r["val"], "tier": r["tier"], "op": r["op"], "ts_ms": r["ts"],
                    "offset": r["off"]}

        want = {}
        for k in set(a) | set(b):
            live_a = k in a and not a[k]["deleted"]
            live_b = k in b and not b[k]["deleted"]
            if live_b and not live_a:
                want[k] = "inserted"
            elif live_a and not live_b:
                want[k] = "deleted"
            elif live_a and any(payload(a[k])[c] != payload(b[k])[c] for c in shared):
                want[k] = "updated"
        got = pl.diff_silver(self.spark, self.path, ["id"], from_version=v).collect()
        assert {r.id: r.change for r in got} == want

    # -- invariant -------------------------------------------------------

    def _read(self, df) -> dict:
        tier = "tier" in df.columns
        return {r.id: (r.val, r.tier if tier else None) for r in df.collect()}

    @invariant()
    def read_matches_model(self):
        assert self._read(pl.read_silver(self.spark, self.path)) == self._live(self.rows)
        full = pl.read_silver(self.spark, self.path, include_deleted=True).collect()
        assert {r.id: r["__deleted"] for r in full} == {
            k: r["deleted"] for k, r in self.rows.items()}
        assert len(full) == len(self.rows)  # one stored row per key


#: one fixed walk through every rule, the invariant checked after each
#: step: out-of-order versions, re-delivered events, deletes and a batch
#: that adds a column; a fold prepared before a trigger and a vacuum
#: and committed after them (the later delta must survive), and one
#: prepared before a mutation (it must not commit); then the maintenance
#: ops on keys the last trigger wrote (a live and a deleted key for
#: ``mutate``), a restore to the narrow schema, a tombstone-dropping
#: compaction and a vacuum before the last time-travel reads.  ``data``
#: entries pick the drawn value from the model's state.
WALK = [
    ("two_triggers", {"first": ([(0, "x", "c", 3), (1, "y", "c", 2), (2, "z", "c", 4),
                                 (3, "x", "c", 1)], False, [1]),
                      "second": ([(1, "z", "u", 5), (2, "x", "d", 6), (0, "y", "u", 1),
                                  (4, "x", "c", 7)], False, [])}),
    ("fold_prepare", {}),
    ("upsert", {"batch": ([(2, "y", "u", 7), (1, "x", "u", 4), (5, "z", "c", 2)],
                          False, [0])}),
    ("vacuum", {"retain": 3}),
    ("as_of", {"data": lambda m: min(m.readable)}),
    ("fold_commit", {}),
    ("mutate", {"data": lambda m: 1, "delete": False}),
    ("as_of", {"data": lambda m: min(m.readable)}),
    ("upsert", {"batch": ([(3, "z", "u", 8), (5, "y", "c", 9), (1, "x", "d", 10)],
                          True, [0, 2])}),
    ("diff", {"data": lambda m: min(m.readable)}),
    ("fold_prepare", {}),
    ("mutate", {"data": lambda m: 5, "delete": True}),
    ("fold_commit", {}),
    ("mutate", {"data": lambda m: 2, "delete": False}),
    ("compact", {"horizon": None}),
    ("upsert", {"batch": ([(4, "y", "u", 11), (0, "z", "u", 12), (4, "x", "d", 2)],
                          False, [])}),
    ("rebucket", {"n_buckets": 3}),
    ("restore", {"data": lambda m: sorted(m.readable)[1]}),
    ("upsert", {"batch": ([(2, "y", "c", 12), (5, "x", "u", 12)], False, [1])}),
    ("compact", {"horizon": 12}),
    ("vacuum", {"retain": 2}),
    ("as_of", {"data": lambda m: min(m.readable)}),
    ("diff", {"data": lambda m: min(m.readable)}),
]


class _Drawn:
    """Stands in for hypothesis' ``data`` argument: every draw returns the
    value the walk picked."""

    def __init__(self, value):
        self.value = value

    def draw(self, strategy):
        return self.value


def _fold_at(monkeypatch, fold):
    if fold == "every_trigger":
        monkeypatch.setattr(pl, "FOLD_DELTAS", 0)
    else:
        monkeypatch.setattr(pl, "FOLD_DELTAS", float("inf"))
        monkeypatch.setattr(pl, "FOLD_BYTES_FRACTION", float("inf"))


@pytest.mark.parametrize("fold", ["every_trigger", "never"])
def test_silver_store_matches_dict_model(spark, tmp_path, monkeypatch, fold):
    """The fixed ``WALK`` at one fold extreme; it must name every rule."""
    assert {name for name, _ in WALK} >= {r.function.__name__ for r in SilverModel.rules()}
    _fold_at(monkeypatch, fold)
    SilverModel.spark, SilverModel.root = spark, str(tmp_path)
    model = SilverModel()
    for name, kwargs in WALK:
        getattr(model, name)(**{
            k: _Drawn(v(model)) if k == "data" else v for k, v in kwargs.items()})
        model.read_matches_model()


@pytest.mark.slow
@pytest.mark.parametrize("fold", ["every_trigger", "never"])
def test_silver_store_matches_dict_model_wide(spark, tmp_path, monkeypatch, fold):
    """Fifteen hypothesis-chosen interleavings of the rules at each fold
    extreme, where the default tier walks one fixed order (~2-3 min
    each)."""
    _fold_at(monkeypatch, fold)
    SilverModel.spark, SilverModel.root = spark, str(tmp_path)
    run_state_machine_as_test(SilverModel, settings=settings(
        max_examples=15, stateful_step_count=10, deadline=None, derandomize=True,
        suppress_health_check=list(HealthCheck),
    ))
