"""Silver-store commit backends — the manifest/claim control plane behind
the bucketed store in streaming/pipeline.py, extracted to an interface so
the SAME commit contract runs against a local filesystem today and an
object store's conditional put in deployment.

The contract (see pipeline.py's module docstring for the full store
design):

* ``read_manifest`` / ``commit_manifest`` — the manifest is the atomic
  commit point.  With ``expected_version`` set, the commit is a
  CONDITIONAL put (compare-and-swap on version): it succeeds only if the
  store's current version still equals it, else raises
  :class:`ManifestCommitError`.  A loser of a publish race fails loudly
  instead of silently dropping the winner's rows.
* ``claim_epoch`` / ``release_claim`` — the single-writer guard for one
  epoch, taken BEFORE any data-file I/O (the crash-leftover cleanup in
  ``pipeline._SilverStore._claim`` may only run while holding it).  A claim older
  than ``stale_s`` belongs to a crashed publisher — its epoch is
  uncommitted by definition — and is stolen.

Backends:

* :class:`LocalFSCommitBackend` — ``os.replace`` for atomic manifest
  swap, an ``O_EXCL`` lock file to serialize check+replace, ``O_EXCL``
  claim files.  The production impl for a POSIX filesystem.
* :class:`InMemoryConditionalPutBackend` — models an object store's
  control plane: NO lock objects; the conditional manifest put and the
  create-if-absent claim put are each one atomic primitive (S3
  ``If-Match``/ETag and ``If-None-Match: *``, GCS generation
  preconditions).  Used by the fault-injection tests to prove the store's
  race behavior holds under object-store semantics, not just flock-style
  locking — the shape a real S3/GCS port drops into.

Only the CONTROL plane (manifest + claims) goes through the backend; data
files are parquet written by Spark wherever ``path`` points.
"""

from __future__ import annotations

import json
import os
import threading
import time
from abc import ABC, abstractmethod

#: silver-store manifest file name (the atomic commit point).
MANIFEST = "_manifest.json"

#: a crashed publisher's epoch claim is stealable after this many seconds.
EPOCH_CLAIM_STALE_S = 3600.0


def _release_steal_mutex(mutex: str, nonce: str) -> None:
    """Release a per-claim steal mutex by OWNERSHIP, not unconditionally
    (ADVICE r9): if the holder stalled >60s a breaker removed its mutex
    and a new stealer linked a fresh one — an unconditional unlink would
    free the NEW holder's mutex and reopen the 2-winner race.

    Compare-by-READ first (ADVICE r10): the previous order
    (rename-to-grave, verify content, link back if not ours) could
    resurrect a successor's mutex — if the successor's own release ran
    while our rename held the file in the grave, it saw FileNotFoundError
    and no-opped, then our link-back restored a mutex nobody would ever
    release, stalling acquisition until the 60s breaker.  Reading first
    means a non-owner returns without ever touching the live mutex; the
    residual read→rename window requires a SECOND >60s stall inside it,
    and the verify + unlink-only-if-ours below still bounds that case to
    the breaker timeout, with the manifest CAS as the correctness
    backstop."""
    try:
        with open(mutex) as fh:
            mine = fh.read() == nonce
    except OSError:
        return  # breaker took it / successor already released
    if not mine:
        return  # successor's live mutex — leave strictly untouched
    mgrave = f"{mutex}.rel-{nonce}"
    try:
        os.rename(mutex, mgrave)
    except FileNotFoundError:
        return  # breaker won the read→rename window
    try:
        with open(mgrave) as fh:
            still_mine = fh.read() == nonce
    except OSError:
        still_mine = False
    if not still_mine:
        # double-stall window: we grabbed a successor's fresh mutex —
        # put it back (FileExistsError = slot re-filled again; that
        # holder's own release handles it)
        try:
            os.link(mgrave, mutex)
        except (FileExistsError, FileNotFoundError):
            pass
    try:
        os.unlink(mgrave)
    except FileNotFoundError:
        pass


class ManifestCommitError(RuntimeError):
    """A publish lost the commit race: the store moved past the version the
    publisher based its epoch on (or another publisher holds the epoch
    claim).  The store is untouched by the loser — retry by re-reading the
    manifest and re-deriving the merge."""


class CommitBackend(ABC):
    """Manifest + epoch-claim primitives for one silver store root."""

    @abstractmethod
    def read_manifest(self, path: str) -> dict | None:
        """Current committed manifest, or None for a fresh store."""

    @abstractmethod
    def commit_manifest(self, path: str, manifest: dict,
                        expected_version: int | None = None) -> None:
        """Commit a manifest; conditional (CAS on current version) when
        ``expected_version`` is given — raise ManifestCommitError if the
        store moved.  Readers must see old-or-new, never a partial."""

    @abstractmethod
    def claim_epoch(self, path: str, epoch: int,
                    stale_s: float = EPOCH_CLAIM_STALE_S) -> str:
        """Exclusively claim ``epoch``; returns an opaque token for
        :meth:`release_claim`.  Raises ManifestCommitError if a live
        publisher holds it; steals claims older than ``stale_s``."""

    @abstractmethod
    def release_claim(self, token: str) -> None:
        """Release a claim taken by :meth:`claim_epoch` (idempotent)."""


class LocalFSCommitBackend(CommitBackend):
    """POSIX impl: O_EXCL lock/claim files + atomic ``os.replace`` swap.

    The claim token is the claim file's path; staleness is the file's
    mtime (so tests — and operators — can age a claim with ``os.utime``).
    """

    def read_manifest(self, path: str) -> dict | None:
        try:
            with open(os.path.join(path, MANIFEST)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def commit_manifest(self, path: str, manifest: dict,
                        expected_version: int | None = None) -> None:
        os.makedirs(path, exist_ok=True)

        def _swap() -> None:
            tmp = os.path.join(path, f".{MANIFEST}.tmp")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            os.replace(tmp, os.path.join(path, MANIFEST))

        if expected_version is None:
            _swap()
            return
        # O_EXCL lock file serializes check+replace — the local-FS stand-in
        # for the object store's single conditional-put primitive.
        lock = os.path.join(path, f".{MANIFEST}.lock")
        deadline = time.time() + 10.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.time() > deadline:
                    raise ManifestCommitError(f"manifest lock stuck: {lock}")
                time.sleep(0.02)
        try:
            cur = self.read_manifest(path)
            cur_version = cur["version"] if cur is not None else 0
            if cur_version != expected_version:
                raise ManifestCommitError(
                    f"concurrent publish at {path}: store is at version "
                    f"{cur_version}, expected {expected_version}"
                )
            _swap()
        finally:
            os.close(fd)
            os.unlink(lock)

    def claim_epoch(self, path: str, epoch: int,
                    stale_s: float = EPOCH_CLAIM_STALE_S) -> str:
        import uuid

        os.makedirs(path, exist_ok=True)
        claim = os.path.join(path, f".epoch-{epoch}.claim")
        nonce = uuid.uuid4().hex
        # Conditional put via hard link: the claim's content (pid:nonce) is
        # written to a private file first, then linked into place — link(2)
        # fails if the name exists (If-None-Match:*) and on success the
        # claim appears WITH its full content atomically, so readers never
        # see a half-written owner record.
        tmp = os.path.join(path, f".epoch-{epoch}.{nonce}.tmp")
        with open(tmp, "w") as fh:
            fh.write(f"{os.getpid()}:{nonce}")
        try:
            for attempt in range(3):
                try:
                    os.link(tmp, claim)
                    return f"{claim}\x00{nonce}"
                except FileExistsError:
                    pass
                try:
                    age = time.time() - os.path.getmtime(claim)
                except FileNotFoundError:
                    continue  # claimant just released/was stolen; retry
                if age > stale_s:
                    # Steal under a per-claim STEAL MUTEX (r9 flake fix):
                    # the r6 rename-to-grave closed the two-stealers race,
                    # but a second TOCTOU survived between getmtime and
                    # rename — a slow stealer whose age-read predates a
                    # fast steal+fresh-relink would rename the FRESH
                    # claim away (observed as a 2-winner flake under
                    # container load).  The mutex serializes stealers, so
                    # while one holds it no other thread removes claim
                    # files; the fresh-age recheck AFTER the rename then
                    # detects the only remaining displacement window (a
                    # crashed-presumed owner releasing + a fresh claimant
                    # linking mid-steal) and RESTORES via conditional
                    # link.  The CAS manifest commit remains the hard
                    # backstop either way (claims fail fast; CAS fails
                    # safe).
                    self._steal_claim(claim, nonce, stale_s)
                    continue
                raise ManifestCommitError(
                    f"epoch {epoch} at {path} already claimed by a concurrent "
                    f"publisher ({claim}, {age:.0f}s old)"
                )
            raise ManifestCommitError(f"could not claim epoch {epoch} at {path}")
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def _steal_claim(self, claim: str, nonce: str, stale_s: float) -> None:
        """Remove a stale claim file, serialized through a per-claim
        steal mutex (see the call site for the race this closes).  On
        ANY contention or recheck failure it simply returns — the caller
        loops, re-links or re-evaluates, and the CAS manifest commit is
        the hard backstop behind all of it."""
        mutex = claim + ".steal-mutex"
        mtmp = f"{claim}.mutex.{nonce}.tmp"
        with open(mtmp, "w") as fh:
            fh.write(nonce)
        try:
            try:
                os.link(mtmp, mutex)
            except FileExistsError:
                # another stealer is mid-steal (mutex tenure is a few
                # syscalls); break the mutex only if its holder crashed —
                # break-by-rename so two breakers cannot double-free
                try:
                    if time.time() - os.path.getmtime(mutex) > 60.0:
                        broken = f"{mutex}.stale-{nonce}"
                        os.rename(mutex, broken)
                        os.unlink(broken)
                except FileNotFoundError:
                    pass
                return
            try:
                # under the mutex no other thread removes claim files, so
                # a recheck-then-rename here is race-free against peer
                # stealers; only an owner release + fresh relink can still
                # interleave, and the post-rename age check catches it
                try:
                    if time.time() - os.path.getmtime(claim) <= stale_s:
                        return  # re-claimed while we queued for the mutex
                except FileNotFoundError:
                    return
                grave = f"{claim}.stale-{nonce}"
                try:
                    os.rename(claim, grave)
                except FileNotFoundError:
                    return
                try:
                    displaced_live = time.time() - os.path.getmtime(grave) <= stale_s
                except FileNotFoundError:
                    return
                if displaced_live:
                    # we yanked a LIVE claim (owner woke up mid-steal):
                    # conditional restore — if the name re-filled in the
                    # window, the displaced owner fails at the CAS commit,
                    # loudly, never silently
                    try:
                        os.link(grave, claim)
                    except FileExistsError:
                        pass
                os.unlink(grave)
            finally:
                _release_steal_mutex(mutex, nonce)
        finally:
            try:
                os.unlink(mtmp)
            except FileNotFoundError:
                pass

    def release_claim(self, token: str) -> None:
        claim, _, nonce = token.partition("\x00")
        if not nonce:
            # pre-nonce token (bare path): best-effort unconditional delete
            try:
                os.unlink(claim)
            except FileNotFoundError:
                pass
            return
        # Delete-if-match (ADVICE r6/r7): a revived publisher whose stale
        # claim was stolen must NOT delete the new owner's claim.  First
        # READ the live claim's owner record without touching it (ADVICE
        # r7: the old rename-first restore path left the live claim absent
        # for a window a third claimant could slip into) — a non-owner now
        # returns here having never removed the claim, even transiently.
        try:
            with open(claim) as fh:
                if fh.read().rpartition(":")[2] != nonce:
                    return  # stolen — the new owner's claim stays live
        except OSError:
            return  # already released / stolen+released
        # We are the recorded owner: take the file atomically and
        # re-verify.  The read→rename window only matters if OUR claim
        # went stale and was stolen in between (steal threshold is
        # EPOCH_CLAIM_STALE_S, the window is microseconds); the re-check +
        # link-if-absent restore covers it, with the manifest CAS as the
        # last-line guard.
        grave = f"{claim}.rel-{nonce}"
        try:
            os.rename(claim, grave)
        except FileNotFoundError:
            return  # already released / stolen+released
        try:
            with open(grave) as fh:
                owner = fh.read()
        except OSError:
            owner = ""
        if owner.rpartition(":")[2] == nonce:
            os.unlink(grave)
            return
        try:
            os.link(grave, claim)  # not ours — put it back (if still absent)
        except FileExistsError:
            pass
        os.unlink(grave)


class InMemoryConditionalPutBackend(CommitBackend):
    """Object-store-semantics fake: every mutation is ONE atomic
    conditional primitive under a single lock — no lock objects, exactly
    the operations S3 (``If-Match`` / ``If-None-Match: *``) and GCS
    (generation preconditions) give you.  A real port replaces the dict
    ops with the corresponding HTTP calls and keeps everything else."""

    def __init__(self) -> None:
        self._mu = threading.Lock()
        self._manifests: dict[str, dict] = {}
        #: (root, epoch) → (created-at, owner-nonce)
        self._claims: dict[tuple[str, int], tuple[float, str]] = {}

    def read_manifest(self, path: str) -> dict | None:
        with self._mu:
            m = self._manifests.get(os.path.abspath(path))
            return json.loads(json.dumps(m)) if m is not None else None

    def commit_manifest(self, path: str, manifest: dict,
                        expected_version: int | None = None) -> None:
        key = os.path.abspath(path)
        with self._mu:  # the conditional put: compare generation, then swap
            if expected_version is not None:
                cur = self._manifests.get(key)
                cur_version = cur["version"] if cur is not None else 0
                if cur_version != expected_version:
                    raise ManifestCommitError(
                        f"concurrent publish at {path}: store is at version "
                        f"{cur_version}, expected {expected_version}"
                    )
            self._manifests[key] = json.loads(json.dumps(manifest))

    def claim_epoch(self, path: str, epoch: int,
                    stale_s: float = EPOCH_CLAIM_STALE_S) -> str:
        import uuid

        key = (os.path.abspath(path), epoch)
        nonce = uuid.uuid4().hex
        with self._mu:  # the If-None-Match:* put — create-if-absent
            cur = self._claims.get(key)
            if cur is not None:
                age = time.time() - cur[0]
                if age <= stale_s:
                    raise ManifestCommitError(
                        f"epoch {epoch} at {path} already claimed by a "
                        f"concurrent publisher ({age:.0f}s old)"
                    )
                # stale → crashed publisher; steal (delete + recreate is
                # one overwrite put here)
            self._claims[key] = (time.time(), nonce)
        return f"{key[0]}\x00{epoch}\x00{nonce}"

    def release_claim(self, token: str) -> None:
        root, epoch, nonce = token.split("\x00")
        key = (root, int(epoch))
        with self._mu:
            cur = self._claims.get(key)
            # delete-if-match (ADVICE r6, S3/GCS conditional delete): a
            # revived publisher whose claim was stolen must not release
            # the new owner's claim
            if cur is not None and cur[1] == nonce:
                del self._claims[key]

    # -- test hooks (fault injection) ------------------------------------
    def hold_claim(self, path: str, epoch: int, age_s: float = 0.0) -> None:
        """Simulate another publisher's live (or aged) claim."""
        with self._mu:
            self._claims[(os.path.abspath(path), epoch)] = (
                time.time() - age_s,
                "other-publisher",
            )

    def has_claim(self, path: str, epoch: int) -> bool:
        with self._mu:
            return (os.path.abspath(path), epoch) in self._claims
