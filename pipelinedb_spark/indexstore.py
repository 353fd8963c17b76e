"""Versioned on-disk store for persisted operator indexes (IVF,
IVF-PQ, MinHash-LSH, span-dedup window index) — the matrel manifest
discipline (matrel.py:123 ``_write_manifest``) extended to the index
stores, closing the round-7 durability gap: retrains used to
``mode("overwrite")`` the only copy in place (a mid-job crash
destroyed the index) and appends had no commit marker (a mid-job
crash left an undetectable partial batch).

Reference analog: PipelineDB persists its matrels inside Postgres
transactions (src/pipeline_combine.c), so every multi-step index
mutation is atomic there for free; on plain files / object storage we
reproduce that with an atomic-pointer manifest.

Layout under ``root``::

    _manifest.json       atomic pointer, swapped with os.replace
    v00001-3fa9c1/       committed data dirs: parquet (optionally
                         partitionBy'd) + artifacts (_codec.npz,
                         _centroids.npy — underscore-prefixed so
                         Spark file listings skip them)
    .stage-8c02d4/       in-flight writes; never referenced by a
                         manifest, never listed by a reader

Manifest::

    {"version": N,                  monotone commit counter
     "dirs":    ["v00001-..", ..],  live data dirs, oldest first;
                                    dirs[0] is the BASE (the last
                                    replace-commit) and owns the
                                    artifacts
     "meta":    {...},              operator params + drift counters
     "pins":    {name: {...}}}      optional named snapshot refs
                                    (dirs + version + meta at pin
                                    time); pinned dirs are exempt
                                    from GC until unpinned

Commit protocol: the caller writes parquet (and artifacts) into
``stage()``, then calls ``commit(staged, replace=..., meta=...)``
which renames the stage to a version dir and swaps the manifest ONCE
— data, artifacts, and meta accounting become visible together or
not at all.  A crash before the swap leaves a ``.stage-*`` orphan or
an unreferenced version dir that no reader ever lists; a crash after
the swap is simply the post-state.  Readers resolve the live dir set
from the manifest and never list ``root`` itself.

GC uses the dereference grace both stores share
(``manifestio.reclaim``): a dereferenced dir is grace-stamped on the
first sweep that finds it and unlinked on a later sweep once the stamp
is older than ``gc_grace_seconds`` — protecting in-flight readers
whose lazy plans still hold the old paths.  Replay tags, format
resolution and the ambiguous-write check are manifestio's shared rules
too.  Version dirs numbered ABOVE the manifest version are
in-flight commits by a concurrent writer and are never collected;
``.stage-*`` dirs are never touched by automatic GC at all (they are
indistinguishable from an in-flight write).  Commits serialize on an
advisory O_EXCL lock — or, with the condput format, on the manifest
CAS alone (``commit_lock=False`` / ``DEFAULT_COMMIT_LOCK``, the pure
object-storage deployment where no O_EXCL primitive exists).

Manifest atomicity is pluggable (manifestio.py): the default
``rename`` strategy swaps one pointer file with ``os.replace``
(atomic on local disk, NFS, HDFS); the ``condput`` strategy commits
numbered immutable manifest objects with compare-and-set semantics —
the object-storage shape (S3 ``PUT If-None-Match``), with no rename
in the commit path at all.  Data-dir publishes stay invisible until
a manifest references them under BOTH strategies, so their rename
needs no atomicity.  An existing store keeps its layout; new stores
take ``manifest_format=`` or ``manifestio.DEFAULT_MANIFEST_FORMAT``.
"""

from __future__ import annotations

import os
import re
import time
import uuid

from pyspark.sql import DataFrame

from . import manifestio as mio
from .manifestio import (CommitConflict, CommitOutcomeUnknown,
                         RenameManifestIO)

__all__ = ["IndexStore", "CommitConflict", "CommitOutcomeUnknown",
           "open_index", "read_index", "pin_index",
           "read_pinned_index", "MANIFEST"]


MANIFEST = "_manifest.json"
_VDIR_RE = re.compile(r"^v(\d+)-[0-9a-f]+$")
# deployment-wide commit-lock default: operators construct IndexStore
# internally, so an object-storage deployment flips this to False
# alongside setting manifestio.DEFAULT_MANIFEST_FORMAT to "condput" —
# per-store commit_lock= overrides
DEFAULT_COMMIT_LOCK = True


class IndexStore:
    def __init__(self, root: str, gc_grace_seconds: float = 60.0,
                 manifest_format: str | None = None,
                 commit_lock: bool | None = None):
        self.root = root
        self.gc_grace_seconds = gc_grace_seconds
        self.manifest_format = manifest_format
        # commit_lock=False is the pure object-storage deployment: no
        # O_EXCL lock file exists there, and with the condput format
        # the manifest CAS alone serializes committers (the lock is
        # only a local optimization that saves CAS retries).  Requires
        # a NONZERO gc grace — a CAS loser's renamed-but-unreferenced
        # dir is only protected from a concurrent gc pass by the
        # stamp-then-delete grace window while it renumbers.  Refused
        # for the rename format, which has no CAS to fall back on.
        self.use_commit_lock = (DEFAULT_COMMIT_LOCK
                                if commit_lock is None else commit_lock)

    # -- manifest ------------------------------------------------------
    def _io(self):
        return mio.store_io(self, self.root, MANIFEST)

    def exists(self) -> bool:
        return self._io().exists()

    def read_manifest(self) -> dict:
        return self._io().read_versioned()[0]

    def init_if_needed(self, meta: dict | None = None) -> None:
        os.makedirs(self.root, exist_ok=True)
        io = self._io()
        if io.exists():
            return
        # rename-mode manifest writes are last-writer-wins: two
        # concurrent creators racing here could regress an
        # already-committed version 1 back to an empty version 0 (its
        # dirs then unreferenced → GC'd: silent loss — review r9).
        # Serialize creation under the commit lock, re-check, and
        # apply the same stolen-lock backstop as _swap_manifest (a
        # creator stalled past stale_after must not wake and clobber
        # what the breaker's successor committed); condput creation
        # is CAS-safe on its own but the lock is harmless there.
        for _ in range(3):
            with self._commit_lock() as lock_token:
                # re-resolve INSIDE the lock: a concurrent creator in
                # the other format may have won the race (e.g. left a
                # _manifests/ dir), flipping the sticky resolution —
                # writing through the pre-lock strategy would strand
                # the manifest where no future reader looks
                io = self._io()
                if io.exists():
                    return
                if lock_token is not None \
                        and not self._lock_owned(lock_token):
                    continue  # reaped while stalled: re-acquire
                try:
                    io.write({"version": 0, "dirs": [],
                              "meta": meta or {}}, base_seq=0)
                except CommitConflict:
                    pass  # a concurrent creator initialized first
                return
        raise CommitConflict(
            f"store creation lost the commit lock 3 times under "
            f"{self.root}")

    def _commit_lock(self, timeout: float = 120.0,
                     stale_after: float = 600.0):
        """Advisory commit lock (O_CREAT|O_EXCL): serializes local
        committers so rename-mode manifests never race and condput
        committers rarely burn a CAS retry.  A lock older than
        ``stale_after`` is from a crashed committer and is broken;
        waiting longer than ``timeout`` raises.

        Stale-breaking is TOCTOU-safe (round-8 review finding): each
        lock file carries a unique token, and a breaker (1) reads the
        token it judged stale, (2) re-reads token + staleness
        IMMEDIATELY before the reap (a fresh lock acquired since the
        first look is never renamed away — review r9), (3) claims the
        file via rename-to-unique — atomic, so of N concurrent
        breakers exactly one wins — then (4) verifies the claimed
        file still carries the observed token.  If the token changed
        in the microseconds between (2) and (3), the breaker restores
        it via os.link (create-exclusive, never clobbers a newer
        lock) and goes back to waiting.  The residual window is
        backstopped by commit()/tag(): they re-verify ownership of
        the yielded token right before the manifest write and retry
        instead of writing on a stolen lock."""
        import contextlib

        if not getattr(self, "use_commit_lock", True):
            if isinstance(self._io(), RenameManifestIO):
                raise ValueError(
                    "commit_lock=False requires the condput manifest "
                    "format: rename-mode pointer swaps have no CAS and "
                    "MUST be serialized by the advisory lock")
            if self.gc_grace_seconds <= 0:
                raise ValueError(
                    "commit_lock=False requires gc_grace_seconds > 0 "
                    "(a CAS loser renumbering its dir is protected "
                    "from concurrent gc only by the grace window)")
            return contextlib.nullcontext()

        path = os.path.join(self.root, "_commit.lock")

        @contextlib.contextmanager
        def lock():
            deadline = time.time() + timeout
            while True:
                token = uuid.uuid4().hex
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL
                                 | os.O_WRONLY)
                    os.write(fd, token.encode())
                    os.close(fd)
                    break
                except FileExistsError:
                    try:
                        with open(path) as f:
                            observed = f.read()
                        stale = (time.time() - os.path.getmtime(path)
                                 > stale_after)
                    except OSError:
                        continue  # lock released while we looked
                    if stale:
                        # re-verify right before the reap: only a
                        # lock STILL carrying the stale token may be
                        # renamed away — a live committer's fresh
                        # lock never is
                        try:
                            with open(path) as f:
                                still = f.read()
                            if (still != observed
                                    or time.time()
                                    - os.path.getmtime(path)
                                    <= stale_after):
                                continue
                        except OSError:
                            continue
                        reap = f"{path}.reap-{uuid.uuid4().hex[:8]}"
                        try:
                            os.rename(path, reap)  # one breaker wins
                        except OSError:
                            continue
                        try:
                            with open(reap) as f:
                                claimed = f.read()
                        except OSError:
                            claimed = None
                        if claimed != observed:
                            # we claimed a FRESH lock: put it back
                            # without clobbering anything newer
                            try:
                                os.link(reap, path)
                            except OSError:
                                pass
                        try:
                            os.remove(reap)
                        except OSError:
                            pass
                        continue
                    if time.time() > deadline:
                        raise TimeoutError(
                            f"commit lock busy > {timeout}s: {path}")
                    time.sleep(0.05)
            try:
                yield token
            finally:
                # atomic claim-then-verify release (review r9, both
                # passes): a committer whose lock was reaped while it
                # stalled must not delete the NEW owner's live lock
                # on its way out.  Plain read-then-remove leaves a
                # window between the token check and the unlink; the
                # breaker's own rename-to-unique pattern closes it —
                # rename claims the file atomically, the token check
                # runs on the claimed copy, and a claimed NON-mine
                # lock is linked back (create-exclusive, never
                # clobbering anything newer).
                reap = f"{path}.reap-{token[:8]}"
                try:
                    os.rename(path, reap)
                    with open(reap) as f:
                        mine = f.read() == token
                    if not mine:
                        try:
                            os.link(reap, path)
                        except OSError:
                            pass
                    os.remove(reap)
                except OSError:
                    pass

        return lock()

    def _lock_owned(self, token: str) -> bool:
        """Whether the commit lock still carries OUR token — the
        backstop for the (microsecond) breaker window: a committer
        whose lock was stolen retries instead of racing the thief's
        manifest read-modify-write."""
        try:
            with open(os.path.join(self.root, "_commit.lock")) as f:
                return f.read() == token
        except OSError:
            return False

    # -- staging + commit ----------------------------------------------
    def stage(self) -> str:
        """A fresh write target invisible to every reader (dot-prefixed
        and unreferenced).  The caller writes parquet + artifacts here,
        then calls :meth:`commit`."""
        self.init_if_needed()
        return os.path.join(self.root, f".stage-{uuid.uuid4().hex[:12]}")

    def commit(self, staged: str, replace: bool,
               meta: dict | None = None,
               txn: tuple[str, int] | None = None,
               meta_fn=None,
               expected_dirs: list[str] | None = None,
               on_extra: str = "keep",
               max_retries: int = 5) -> str:
        """Publish a staged dir in one atomic manifest swap.

        ``replace=True`` dereferences every current dir (retrain /
        rebuild — the old version stays on disk until its GC grace
        expires, so a crash mid-commit can never lose the index);
        ``replace=False`` appends the dir to the live set (batch
        admit).  ``meta`` (when given) replaces the manifest meta IN
        THE SAME SWAP — drift accounting can never disagree with the
        data it covers.  ``meta_fn`` (mutually exclusive with
        ``meta``) is called on the CURRENT meta inside the commit
        critical section and its result committed — append paths fold
        their accounting deltas here so a concurrent commit between
        the caller's read and this swap can never lose accounting
        (ADVICE round 8: pre-lock absolute meta raced).  ``txn=
        (app_id, version)`` rides the swap too (the matrel
        idempotent-writes pattern): a replayed streaming epoch is
        detected by ``txn_version`` and skipped instead of
        double-appended.

        Replace-commits whose staged output was DERIVED FROM the live
        dirs (compaction, retrain) pass ``expected_dirs`` — the dir
        basenames they consumed.  Inside the critical section:

        * a consumed dir missing from the manifest means a concurrent
          replace won → :class:`CommitConflict` (the staged output is
          stale; the caller rebuilds);
        * dirs present but NOT consumed are batches appended
          concurrently.  ``on_extra='keep'`` carries them live after
          the new base (compaction: layouts are compatible, and the
          kept-at-swap meta still covers them);
          ``on_extra='conflict'`` raises (retrain: the extra batch
          was encoded under the OLD codec/centroids — folding it
          under the new base would corrupt probe pruning; the caller
          re-runs over the now-larger index).

        Without ``expected_dirs`` a replace commit is a snapshot
        rebuild from an EXTERNAL source: it intentionally defines the
        new index contents, concurrent appends included-or-not by
        whatever the source held.  Returns the committed dir's
        absolute path."""
        if meta is not None and meta_fn is not None:
            raise ValueError("pass meta or meta_fn, not both")
        state: dict = {"fpath": None}

        def fold_dirs(m: dict, version: int) -> list[str]:
            final = f"v{version:05d}-{uuid.uuid4().hex[:6]}"
            new_fpath = os.path.join(self.root, final)
            # publish (or renumber after a lost CAS); invisible until
            # a manifest references it, so no atomicity of this
            # rename is assumed
            os.rename(state["fpath"] or staged, new_fpath)
            state["fpath"] = new_fpath
            mio.clear_reclaim_stamp(new_fpath)
            if not replace:
                return list(m["dirs"]) + [final]
            extra: list[str] = []
            if expected_dirs is not None:
                cur = list(m["dirs"])
                missing = [d for d in expected_dirs if d not in cur]
                extra = [d for d in cur if d not in expected_dirs]
                if missing or (extra and on_extra == "conflict"):
                    raise CommitConflict(
                        f"live dirs moved under {self.root}: "
                        f"missing={missing} extra={extra}")
            return [final] + extra

        try:
            self._swap_manifest(fold_dirs, meta, meta_fn, txn,
                                max_retries,
                                applied=lambda cur: (
                                    state["fpath"] is not None
                                    and os.path.basename(state["fpath"])
                                    in cur["dirs"]))
        except CommitOutcomeUnknown:
            # the write may BE the live manifest (its head is just
            # unreadable right now) — renaming the dir to a shelf
            # name would dangle the published dirs entry, the exact
            # failure the unknown-outcome path exists to prevent
            raise
        except Exception:
            # shelve on ANY other escape, not just CommitConflict
            # (ADVICE round 9): a TimeoutError from a busy commit
            # lock on a retry iteration AFTER fold_dirs renamed the
            # stage would otherwise leave the dir under a v-name
            # numbered above the manifest version — which gc()
            # treats as an in-flight commit forever, unreclaimable
            # even by gc(include_stage=True).
            self._shelve_conflict(state["fpath"])
            raise
        self.gc()
        return state["fpath"]

    def _swap_manifest(self, fold_dirs, meta, meta_fn, txn,
                       max_retries: int, applied=None,
                       pins_fn=None) -> None:
        """THE manifest read-modify-write loop, shared by
        :meth:`commit` and :meth:`tag` (review r9: the two had
        diverging near-copies): lock → read current → derive
        dirs/meta/txns → verify lock ownership → write.  A lost CAS
        (condput) or a stolen lock re-reads and re-derives;
        ``fold_dirs(m, version)`` returns the new dir list, and a
        CommitConflict raised THERE is a semantic conflict
        (expected_dirs moved) that propagates without retry, unlike a
        lost manifest CAS.

        Rename mode has no CAS, so the pre-write ownership check
        leaves a microsecond window: a lock stolen between the check
        and ``os.replace`` lets the thief's read-modify-write race
        ours.  The post-write verification closes the DATA-LOSS
        direction (ADVICE round 9): when the lock is no longer ours
        after a rename-mode write, re-read the head — if it is our
        write, or ``applied(cur)`` says our effect survives in it
        (commit passes a dirs-membership probe: dir presence implies
        the whole write, meta fold included, entered the ancestry),
        the commit stands; otherwise the thief clobbered it and we
        re-derive and re-write.  :meth:`tag` retries on the bare
        head-mismatch — its only non-idempotent passenger would be a
        ``meta_fn`` fold, and every tag() call site passes just
        ``txn`` (a max-fold, idempotent under refold)."""
        for _ in range(max_retries):
            with self._commit_lock() as lock_token:
                io = self._io()
                m, seq = io.read_versioned()
                version = m["version"] + 1
                dirs = fold_dirs(m, version)
                if meta_fn is not None:
                    eff_meta = meta_fn(dict(m.get("meta", {})))
                elif meta is not None:
                    eff_meta = meta
                else:
                    eff_meta = m.get("meta", {})
                out = {"version": version, "dirs": dirs,
                       "meta": eff_meta}
                txns = mio.fold_txns(m.get("txns", {}), txn, version)
                if txns:
                    out["txns"] = txns
                # pins ride every swap untouched (a commit that
                # dropped them would expose pinned dirs to gc);
                # pin()/unpin() mutate them via pins_fn inside this
                # same critical section.
                pins = dict(m.get("pins", {}))
                if pins_fn is not None:
                    pins = pins_fn(pins, m)
                if pins:
                    out["pins"] = pins
                # carry every passenger this writer does not own —
                # a rebuilt-from-scratch manifest that forgot one
                # (e.g. pins) would silently drop it, and for pins
                # that means GC reclaiming a pinned snapshot
                for k, v in m.items():
                    if k not in ("version", "dirs", "meta", "txns",
                                 "pins"):
                        out[k] = v
                # breaker-window backstop (review r9): never write on
                # a stolen lock — re-acquire and re-derive instead.
                # Lockless committers (the object-storage story stubs
                # the advisory lock out entirely) yield no token and
                # rely on the manifest CAS alone.
                if lock_token is not None \
                        and not self._lock_owned(lock_token):
                    continue
                # An ambiguous write — a lost CAS that may be our own
                # landed write (S3 500/503 applied server-side), or a
                # rename-mode swap whose lock was stolen mid-write —
                # MUST be resolved before retrying: a blind retry
                # would make fold_dirs RENAME an already-live
                # committed dir (dangling the published dirs entry)
                # and refold meta/txns a second time.
                try:
                    io.write(out, seq)
                except CommitConflict:
                    ambiguous = True
                else:
                    ambiguous = (isinstance(io, RenameManifestIO)
                                 and lock_token is not None
                                 and not self._lock_owned(lock_token))
                if not ambiguous or mio.write_landed(io, out, applied):
                    return  # our write is (in) the ancestry
                # a rival won the CAS / the thief clobbered us: redo
        raise CommitConflict(
            f"manifest CAS lost {max_retries} times under {self.root}")

    def _shelve_conflict(self, fpath: str | None) -> None:
        """Demote a published-but-never-referenced version dir back to
        stage naming so the explicit maintenance sweep
        (``gc(include_stage=True)``) can reclaim it — left under a
        v-name it would look like an in-flight commit forever."""
        if fpath is None:
            return
        try:
            os.rename(fpath, os.path.join(
                self.root, f".stage-conflict-{uuid.uuid4().hex[:8]}"))
        except OSError:
            pass

    def txn_version(self, app_id: str) -> int | None:
        """Last epoch committed for ``app_id`` — None if never seen
        (or evicted from the bounded tag map)."""
        return mio.txn_version(self.read_manifest().get("txns", {}),
                               app_id)

    def replayed(self, txn: tuple[str, int] | None) -> bool:
        """Whether the streaming epoch ``txn = (app_id, epoch)`` already
        committed here — a replay the caller skips.  None never is
        (and reads no manifest)."""
        return txn is not None and mio.replayed(
            self.read_manifest().get("txns", {}), txn)

    def tag(self, txn: tuple[str, int] | None = None,
            meta: dict | None = None, meta_fn=None,
            max_retries: int = 5) -> None:
        """Manifest-only commit (no data dir): advance the replay txn
        tag and/or the meta (``meta_fn`` folds over the current meta
        inside the critical section, as in :meth:`commit`).  The
        EMPTY-batch path — an empty streaming epoch must mark itself
        done without accumulating an empty version dir per epoch."""
        if txn is None and meta is None and meta_fn is None:
            return
        if meta is not None and meta_fn is not None:
            raise ValueError("pass meta or meta_fn, not both")
        self._swap_manifest(lambda m, version: list(m["dirs"]),
                            meta, meta_fn, txn, max_retries)

    # -- pins (named snapshot refs) ----------------------------------------
    def pin(self, name: str, max_retries: int = 5) -> dict:
        """Pin the CURRENT live dir set under ``name`` — a named
        snapshot ref (the Iceberg-tag shape): gc never reclaims a
        pinned dir, later appends / replace-commits / retrains leave
        the pinned set untouched, and :meth:`read_pinned` reads the
        exact rows a consumer (a training run) saw at pin time, bit
        for bit, regardless of what the index has become since.

        The dir list is captured INSIDE the commit critical section,
        so the pin is an atomic point in the manifest ancestry — it
        can never name a half-committed set.  The record carries the
        manifest version and meta at that point for provenance.
        Pins are immutable: a live ``name`` raises FileExistsError
        (unpin first — a silent overwrite could strand the dirs of
        a still-running consumer).  Returns the pin record."""
        state: dict = {}

        def pins_fn(pins: dict, m: dict) -> dict:
            if name in pins:
                raise FileExistsError(
                    f"pin {name!r} already exists under {self.root}")
            pins[name] = {"dirs": list(m["dirs"]),
                          "version": m["version"],
                          "meta": m.get("meta", {})}
            state["rec"] = pins[name]
            return pins

        # applied probe compares the full RECORD, not just the name
        # (ADVICE round 11): if a rival raced pin() with the same name
        # and won the CAS, a name-only probe would declare success and
        # hand back OUR never-committed record whose dirs/version
        # differ from the pin that actually landed.  A record mismatch
        # returns False → the retry re-runs pins_fn against the new
        # head and raises the documented FileExistsError.  (An
        # IDENTICAL rival record — same dirs, version, meta — is
        # indistinguishable from our own write landing, and returning
        # success is then harmless by construction.)
        self._swap_manifest(lambda m, version: list(m["dirs"]),
                            None, None, None, max_retries,
                            pins_fn=pins_fn,
                            applied=lambda cur: (
                                state.get("rec") is not None
                                and cur.get("pins", {}).get(name)
                                == state["rec"]))
        return state["rec"]

    def unpin(self, name: str, max_retries: int = 5) -> None:
        """Drop a pin; its dirs become reclaimable on the next gc
        pass (grace-stamped like any dereference) unless still live
        or held by another pin.  Missing names raise KeyError."""
        def pins_fn(pins: dict, m: dict) -> dict:
            if name not in pins:
                raise KeyError(
                    f"no pin {name!r} under {self.root}")
            del pins[name]
            return pins

        self._swap_manifest(lambda m, version: list(m["dirs"]),
                            None, None, None, max_retries,
                            pins_fn=pins_fn,
                            applied=lambda cur:
                                name not in cur.get("pins", {}))

    def pins(self) -> dict:
        """Live pin records: ``{name: {dirs, version, meta}}``."""
        return dict(self.read_manifest().get("pins", {}))

    def read_pinned(self, spark, name: str) -> DataFrame:
        """Union over a pin's dirs — the snapshot read side."""
        rec = self.read_manifest().get("pins", {}).get(name)
        if rec is None:
            raise KeyError(f"no pin {name!r} under {self.root}")
        return self.read_from(spark, [os.path.join(self.root, d)
                                      for d in rec["dirs"]])

    # -- read side -------------------------------------------------------
    def dirs(self) -> list[str]:
        return [os.path.join(self.root, d)
                for d in self.read_manifest()["dirs"]]

    def base_dir(self) -> str:
        """The dir of the last replace-commit — where artifacts
        (codec/centroids) live."""
        return self.dirs()[0]

    def artifact(self, name: str) -> str:
        return os.path.join(self.base_dir(), name)

    def read(self, spark) -> DataFrame:
        """Union over the live dirs.  Filters above the union push into
        each child scan (Catalyst PushDownPredicates), so partition
        pruning on e.g. ``list_id``/``band`` survives the versioned
        layout."""
        return self.read_from(spark, self.dirs())

    def read_from(self, spark, paths: list[str]) -> DataFrame:
        """Union over an EXPLICIT dir list — for derived rewrites
        (compaction/retrain) that must pin the exact snapshot they
        consumed and later pass its basenames as ``expected_dirs`` to
        :meth:`commit`; a second ``dirs()`` listing could differ under
        concurrent appends."""
        if not paths:
            raise ValueError(f"index at {self.root} holds no data")
        out = spark.read.parquet(paths[0])
        for p in paths[1:]:
            out = out.unionByName(spark.read.parquet(p))
        return out

    # -- meta --------------------------------------------------------------
    def meta(self) -> dict:
        return self.read_manifest().get("meta", {})

    # -- GC ------------------------------------------------------------------
    def gc(self, include_stage: bool = False) -> None:
        """Unlink dereferenced version dirs (grace-stamped,
        ``manifestio.reclaim``).  Never touches live or pinned dirs or
        version dirs numbered above the manifest version (in-flight
        commits).

        CONCURRENCY CONTRACT: ``gc_grace_seconds=0`` asserts no
        concurrent readers OR committers.  A CAS-losing committer's
        renamed dir can be numbered at-or-below the manifest version
        for the instant before it renumbers and retries — only the
        stamp-then-delete grace window protects it from a concurrent
        gc pass, exactly as the grace protects in-flight readers.

        ``.stage-*`` dirs are skipped unless ``include_stage=True``:
        a stage dir is indistinguishable from a CONCURRENT writer's
        in-flight parquet write (which can legitimately run longer
        than any grace), so the automatic commit-path GC must never
        touch them — crashed-writer orphans are reclaimed by an
        explicit maintenance sweep that knows no writer is active."""
        m = self.read_manifest()
        live = set(m["dirs"])
        for rec in m.get("pins", {}).values():
            live.update(rec["dirs"])  # pinned snapshots never reclaimed

        def doomed(entry: str) -> bool:
            if entry in live or not os.path.isdir(
                    os.path.join(self.root, entry)):
                return False
            vm = _VDIR_RE.match(entry)
            if vm is None:
                return include_stage and entry.startswith(".stage-")
            # above the manifest version: a concurrent in-flight commit
            return int(vm.group(1)) <= m["version"]

        mio.reclaim(self.root, [e for e in os.listdir(self.root)
                                if doomed(e)], self.gc_grace_seconds)


def open_index(root: str, gc_grace_seconds: float = 60.0) -> IndexStore:
    s = IndexStore(root, gc_grace_seconds)
    if not s.exists():
        raise ValueError(
            f"no index manifest under {root}: the path predates the "
            "versioned layout or was never persisted — re-run the "
            "operator's *_persist")
    return s


def read_index(spark, root: str) -> DataFrame:
    """Read an index's live rows (all committed dirs unioned)."""
    return open_index(root).read(spark)


def pin_index(root: str, name: str) -> dict:
    """Pin an index's current snapshot under ``name`` (see
    :meth:`IndexStore.pin`) — one call for training-run provenance:
    ``pin_index(lsh_path, f"run-{run_id}")`` before the run starts,
    ``read_pinned_index`` to reproduce its exact inputs later."""
    return open_index(root).pin(name)


def read_pinned_index(spark, root: str, name: str) -> DataFrame:
    """Read the exact rows a pin captured, regardless of what the
    index has become since."""
    return open_index(root).read_pinned(spark, name)
