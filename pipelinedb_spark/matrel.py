"""Matrel (materialization table) store.

The reference stores a CV's partial aggregate states in an ordinary heap
table with an expression hash index on the group key for point-lookup
merges (``src/pipeline_query.c:1786-1803``, ``src/combiner.c:399``,
``src/matrel.c:92-226``).  On Spark we instead keep the matrel as a
**hash-bucketed parquet table with versioned bucket directories**:

* each group row carries ``__bucket = pmod(xxhash64(group cols), N)``;
* a merge touches only the buckets that appear in the incoming delta —
  untouched buckets carry forward by reference in the manifest, so a
  micro-batch that hits k groups rewrites O(k/N · table), not the whole
  table.  This is the parquet analog of PipelineDB's group-hash index
  point updates, and it is what keeps incremental maintenance viable at
  100 TB (a Delta/Iceberg MERGE would play the same role on a real
  deployment; this store has no external dependencies).
* versioned directories + an atomically-replaced MANIFEST give readers
  snapshot isolation and make merges idempotent on retry (the Spark
  checkpoint analog of the reference's at-least-once combiner commits).

The rules this store shares with the index store (indexstore.py) —
manifest format resolution and its deployment default, the GC
dereference grace, the bounded replay-tag map and the ambiguous-write
check — are written once, in manifestio.py.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import manifestio as mio
# re-exported for readers; assigning it here flips nothing — the
# deployment flip is manifestio.DEFAULT_MANIFEST_FORMAT
from .manifestio import DEFAULT_MANIFEST_FORMAT  # noqa: F401
from .manifestio import CommitConflict
from .session import arrow_frame

BUCKET_COL = "__bucket"
# the version-dir validity table of a multi-version read
_VALID_SCHEMA = T.StructType([T.StructField("__v", T.StringType()),
                              T.StructField(BUCKET_COL, T.LongType())])


def _du(path: str) -> int:
    """Recursive on-disk bytes of a directory (local-FS analog of a
    FileSystem content summary)."""
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


class MatrelStore:
    def __init__(self, spark: SparkSession, root: str, name: str,
                 num_buckets: int = 32,
                 manifest_format: str | None = None) -> None:
        self.spark = spark
        self.name = name
        self.dir = os.path.join(root, name)
        self.num_buckets = num_buckets
        # optional bucket-id override (e.g. SW step epochs — the
        # time-leading locality layout, reference ls_hash_group
        # src/hashfuncs.c:93-137): a zero-arg callable returning the
        # bucket Column; ids may be ANY integers, not just 0..N-1
        self.bucket_expr_fn = None
        # GC grace: unreferenced version dirs younger than this are
        # kept on disk so a lazily-planned concurrent read (readers
        # don't take the commit lock) never loses files mid-scan —
        # the retention-before-vacuum contract of snapshot stores.
        # 0 disables the grace (synchronous/maintenance contexts).
        self.gc_grace_seconds: float = 60.0
        self._last_compact: float = 0.0
        os.makedirs(self.dir, exist_ok=True)
        self.manifest_format = manifest_format
        self._manifest_path = os.path.join(self.dir, "MANIFEST")
        self._last_seq = 0
        # on-disk parquet schema, learned from the first inferred read
        # or refreshed by each commit's write schema: passing it to
        # spark.read skips per-read footer inference — ~50-100 ms of
        # DRIVER time per matrel read, paid twice per engine commit
        # (merge's old-bucket read + the next read_view).  Safe
        # because every live version dir was written from the same
        # merge-plan schema; a commit whose names/types differ drops
        # the cache so the next read re-infers (guide §1.2).
        # SINGLE-OWNER contract: the cache is per-instance and only
        # this instance's commits invalidate it, so two MatrelStores
        # over the SAME directory could serve one of them a stale
        # schema after the other's evolving commit.  No current code
        # path shares a store dir across instances (each ViewState
        # owns its matrel); add a manifest-version check here before
        # ever introducing one.
        self._schema_cache: T.StructType | None = None
        if not self._mio().exists():
            self._write_manifest({"version": 0, "buckets": {}})

    def ensure_layout(self, tag: str) -> str:
        """Record (or recover) the store's bucket-layout tag.  A store
        that already holds buckets under an older, untagged layout is
        pinned to "hash" — mixing id semantics would break manifest-
        level pruning/expiry.  Returns the effective layout."""
        m = self._read_manifest()
        cur = m.get("layout")
        if cur is None:
            cur = "hash" if m["buckets"] else tag
            m["layout"] = cur
            self._write_manifest(m)
        return cur

    def bucket_ids(self) -> list[int]:
        """Current manifest bucket ids (no data read)."""
        return [int(b) for b in self._read_manifest()["buckets"]]

    def drop_buckets(self, doomed: list[int]) -> int:
        """Manifest-level partition drop: remove whole buckets without
        reading or rewriting any SURVIVING data — the parquet analog of
        dropping a time partition (SW window expiry under the step
        layout; reference time-leading ls_hash_group locality index,
        src/pipeline_query.c:771-903).  Only the doomed buckets are
        read (one count job, for the reaper's deleted-rows contract);
        their files are unlinked by GC once no live bucket references
        their version dirs.  Returns the number of rows dropped."""
        m = self._read_manifest()
        doomed = [b for b in doomed if str(b) in m["buckets"]]
        if not doomed:
            return 0
        df = self.read(doomed)
        n = df.count() if df is not None else 0
        m = self._read_manifest()
        for b in doomed:
            m["buckets"].pop(str(b), None)
        ref = self._referenced_dirs(m)
        m["dirs"] = {d: i for d, i in m.get("dirs", {}).items() if d in ref}
        self._write_manifest(m)
        # keep_last=0: a bucket drop dereferences dirs regardless of
        # version recency; the dereference-time grace (marker stamp on
        # this pass, unlink on a later sweep) protects in-flight reads
        self._gc(keep_version=m["version"], keep_last=0)
        return n

    # -- manifest ----------------------------------------------------------
    # The write path is SINGLE-WRITER by engine contract (one combiner
    # merge at a time per view), so reads don't take a lock; the
    # manifest IO seam (manifestio.py) only decides HOW the one write
    # becomes atomic — os.replace pointer swap on posix ("rename") or
    # numbered CAS objects ("condput", the object-storage shape).  In
    # condput mode a violated single-writer contract surfaces as
    # CommitConflict instead of a silently-lost pointer.
    def _mio(self):
        return mio.store_io(self, self.dir, "MANIFEST")

    def _read_manifest(self) -> dict:
        m, self._last_seq = self._mio().read_versioned()
        return m

    def _write_manifest(self, m: dict) -> None:
        io = self._mio()
        try:
            io.write(m, getattr(self, "_last_seq", 0))
        except CommitConflict:
            # Condput mode, ambiguous success: the store is
            # single-writer, so the only manifest that can own our seq
            # is our own write; propagating a conflict for a DURABLE
            # commit would make the engine retry the merge and
            # double-apply the batch.
            if not mio.write_landed(io, m):
                raise  # single-writer contract actually violated

    def _vdir(self, path: str) -> str:
        """Version-dir name of a manifest bucket path."""
        return os.path.relpath(path, self.dir).split(os.sep)[0]

    def _referenced_dirs(self, m: dict | None = None,
                         pins: bool = False) -> set[str]:
        """Version dirs the manifest ``m`` (default: the current one)
        references — and its pins too, if ``pins``."""
        if m is None:
            m = self._read_manifest()
        live = {self._vdir(p) for p in m["buckets"].values()}
        if pins:
            for rec in m.get("pins", {}).values():
                live.update(p.split(os.sep)[0]  # stored relative
                            for p in rec["buckets"].values())
        return live

    # -- read --------------------------------------------------------------
    def is_empty(self) -> bool:
        return not self._read_manifest()["buckets"]

    def read(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Read the current rows of ``buckets`` (all buckets if None).

        Commits write PACKED version dirs (every affected bucket in
        one flat, bucket-sorted parquet dir — see ``_commit``), so a
        version dir may also hold rows whose bucket was since
        rewritten in a NEWER version, or dropped from the manifest
        entirely.  Validity rule: a row of bucket b in version v is
        current iff ``manifest[b] == v``.

        * The ``isin`` filter keeps only manifest-listed requested
          buckets — exact on single-path reads (staleness needs two
          paths), and it drives parquet row-group pruning (rows are
          bucket-sorted within files).
        * Multi-path reads add a broadcast left-semi join against the
          tiny (version, bucket) validity table — one scan regardless
          of bucket count, no per-path plan branches.
        """
        m = self._read_manifest()
        entries = m["buckets"]
        if buckets is not None:
            entries = {str(b): p for b in buckets
                       if (p := entries.get(str(b))) is not None}
        return self._read_entries(entries)

    def _read_entries(self, entries: dict[str, str]) -> DataFrame | None:
        paths = sorted(set(entries.values()))
        if not paths:
            return None
        reader = self.spark.read
        if self._schema_cache is not None:
            reader = reader.schema(self._schema_cache)
        df = reader.parquet(*paths)
        if self._schema_cache is None:
            self._schema_cache = df.schema
        df = df.filter(F.col(BUCKET_COL).isin([int(b) for b in entries]))
        if len(paths) == 1:
            return df
        valid = arrow_frame(
            self.spark, [(self._vdir(p), int(b)) for b, p in entries.items()],
            _VALID_SCHEMA)
        # Anchor to the version dir that directly CONTAINS the file
        # (packed version dirs are flat): a bare /(v\d+)/ would take the
        # FIRST match in the absolute path, so a store or ancestor dir
        # named like v2 would mislabel every row and the validity
        # left-semi join would silently drop everything.
        return (df.withColumn("__v", F.regexp_extract(
                    F.input_file_name(), r"/(v\d+)/[^/]*$", 1))
                .join(F.broadcast(valid), ["__v", BUCKET_COL], "left_semi")
                .drop("__v"))

    # -- pins (named snapshot refs) ------------------------------------------
    # The indexstore pin discipline (indexstore.py IndexStore.pin)
    # applied to the matrel: a pin captures the manifest's ENTIRE
    # bucket→version map in one record, so it names a consistent
    # snapshot (every commit swaps that map atomically).  GC treats
    # pin-referenced version dirs as live, every commit carries pins
    # through untouched, and reads against the pinned map replay the
    # exact rows — across later merges, compactions, truncates, and
    # SW bucket expiry.  Callers serialize pin writes with commits
    # (the engine holds the view's commit_lock), matching the store's
    # single-writer contract.
    def pin(self, name: str, at: float | None = None) -> dict:
        """Record the current bucket map under ``name``.  ``at``
        (default now) is the snapshot's logical read time — SW reads
        of the pin evaluate their window cutoff at this instant, so a
        pinned sliding window returns the same rows forever.  Bucket
        paths are stored relative to the store dir (rename-safe).
        A live ``name`` raises FileExistsError (pins are immutable;
        unpin first)."""
        m = self._read_manifest()
        pins = m.setdefault("pins", {})
        if name in pins:
            raise FileExistsError(
                f"pin {name!r} already exists on matrel {self.name}")
        pins[name] = {"buckets": {b: os.path.relpath(p, self.dir)
                                  for b, p in m["buckets"].items()},
                      "version": m["version"],
                      "at": time.time() if at is None else float(at)}
        self._write_manifest(m)
        return dict(pins[name])

    def unpin(self, name: str) -> None:
        """Drop a pin; its dirs become GC-reclaimable (grace-stamped
        like any dereference) unless still live or held by another
        pin.  Missing names raise KeyError."""
        m = self._read_manifest()
        if name not in m.get("pins", {}):
            raise KeyError(f"no pin {name!r} on matrel {self.name}")
        del m["pins"][name]
        if not m["pins"]:
            del m["pins"]
        self._write_manifest(m)

    def pins(self) -> dict:
        return dict(self._read_manifest().get("pins", {}))

    def read_pinned(self, name: str,
                    buckets: list[int] | None = None) -> DataFrame | None:
        """Read a pin's rows (optionally restricted to ``buckets`` —
        the SW manifest-level step pruning, evaluated by the caller
        at the pin's ``at`` time).  Same validity rule as :meth:`read`
        with the pin's map as the manifest."""
        rec = self._read_manifest().get("pins", {}).get(name)
        if rec is None:
            raise KeyError(f"no pin {name!r} on matrel {self.name}")
        entries = {b: os.path.join(self.dir, p)
                   for b, p in rec["buckets"].items()}
        if buckets is not None:
            entries = {str(b): p for b in buckets
                       if (p := entries.get(str(b))) is not None}
        return self._read_entries(entries)

    # -- merge -------------------------------------------------------------
    def bucket_expr(self, group_cols: list[str]):
        if self.bucket_expr_fn is not None:
            return self.bucket_expr_fn()
        if not group_cols:
            return F.lit(0)
        return F.pmod(F.xxhash64(*[F.col(c) for c in group_cols]),
                      F.lit(self.num_buckets)).cast("int")

    def txn_version(self, app_id: str) -> int | None:
        """Last transaction version committed for ``app_id`` (the
        idempotent-writes pattern of transactional lakehouse stores:
        a (source, version) tag rides the commit's atomic manifest
        swap, so a replayed source batch can be detected and skipped
        instead of double-merged)."""
        return mio.txn_version(self._read_manifest().get("txns", {}),
                               app_id)

    def replayed(self, txn: tuple[str, int] | dict | None) -> bool:
        """Has every ``(source app id, version)`` in ``txn`` (one pair
        or an {app_id: version} dict) already committed here?  None is
        never a replay (and reads no manifest)."""
        return bool(txn) and mio.replayed(
            self._read_manifest().get("txns", {}), txn)

    def merge(self, delta: DataFrame, group_cols: list[str],
              merge_agg_fn,
              affected: list[int] | None = None,
              pin_old: bool = False,
              constrain_fn=None,
              txn: tuple[str, int] | dict | None = None
              ) -> tuple[DataFrame | None, DataFrame]:
        """Merge a batch of partial-state rows into the matrel.

        ``merge_agg_fn(df)`` must group ``df`` by ``group_cols`` +
        ``__bucket`` and produce one merged state row per group.

        ``affected`` may pass the delta's distinct bucket ids when the
        caller already computed them (saves a probe job); otherwise
        they are collected here.

        ``pin_old`` declares that the caller will consume ``old``
        AFTER the merge (old/new change rows).  It no longer
        checkpoints: the commit-path GC keeps the previous version
        dirs for a 2-version tail plus a 60 s dereference grace
        (``_gc``), which comfortably covers the synchronous
        change-row emission that follows a commit — the checkpoint
        was a whole extra Spark job per change-emitting commit for
        files that were never at risk (r15 optimization; guide §1.2).
        CAVEAT (the timing window this trades the checkpoint for):
        ``gc_sweep``/``drop_buckets`` run ``_gc(keep_last=0)``, where
        reader safety rests on the dereference grace alone — so
        background maintenance must NOT run concurrently with a
        change-emitting commit whose old/osrel consumption could
        outlast ``gc_grace_seconds``, or the old version's files can
        be unlinked mid-scan.  The engine satisfies this today: osrel
        emission is synchronous in the same call, and maintenance
        entry points run under the view's commit_lock.

        Returns ``(old_rows_of_affected_buckets, merged_affected)`` so
        the caller can compute old/new output-stream rows.  Under
        ``pin_old`` — the caller's declaration that it WILL consume
        the returned frames — ``merged`` is the READ-BACK of the rows
        just committed, not the merge plan: returning the plan made
        every downstream consumer (the osrel write job) re-execute
        the whole union+merge-agg, while the bucket-pruned,
        schema-cached read of the new version yields the identical
        rows for one cheap scan.  Without ``pin_old`` the plan is
        returned as before (building the read-back costs a py4j
        round-trip per commit that a fire-and-forget caller never
        uses).  Mirrors the combiner flow (``combine()`` →
        ``select_existing_groups`` → ``sync_combine``,
        ``src/combiner.c:1323-1633``).
        """
        if BUCKET_COL not in delta.columns:
            delta = delta.withColumn(BUCKET_COL, self.bucket_expr(group_cols))
        if affected is None:
            affected = [r[BUCKET_COL] for r in
                        delta.select(BUCKET_COL).distinct().collect()]
        old = self.read(affected)
        unioned = delta if old is None else old.unionByName(delta)
        merged = merge_agg_fn(unioned)
        if constrain_fn is not None:
            # matrel CHECK constraints (reference matrel_constraints.sql):
            # violating upserts are rejected — the group keeps its
            # previous row (or is dropped entirely when new)
            merged = constrain_fn(old, merged)
        self._commit(merged, affected, txn=txn)
        if pin_old:
            committed = self.read(affected)
            if committed is None:
                # every affected bucket merged/constrained to empty:
                # keep the caller's DataFrame contract, empty frame
                committed = arrow_frame(self.spark, [], merged.schema)
            return old, committed
        return old, merged

    def overwrite(self, states: DataFrame, group_cols: list[str]) -> None:
        """Replace the whole matrel (truncate+load / combine_table)."""
        states = states.withColumn(BUCKET_COL, self.bucket_expr(group_cols))
        self._commit(states, None, full=True)

    def compact(self) -> int:
        """Rewrite every live row into one fresh packed version and
        drop the old dirs (the VACUUM FULL analog).  A version dir
        stays on disk while ANY bucket still references it, so a cold
        bucket can pin stale copies of hot buckets indefinitely;
        compaction bounds that amplification.  Returns the number of
        version dirs DEREFERENCED (no longer manifest-live) — under a
        nonzero ``gc_grace_seconds`` the physical unlink happens on a
        later sweep, so counting removed-on-disk dirs would report 0
        for every graced compaction.

        Old dirs younger than ``gc_grace_seconds`` survive the sweep
        (a reader that planned its scan just before the manifest swap
        still holds paths into them — readers don't take the
        commit_lock); they fall off a later GC.  Set the grace to 0
        for synchronous maintenance with no concurrent readers."""
        cur = self.read()
        if cur is None:
            return 0
        before = self._referenced_dirs()
        # read() plans lazily over the old files; checkpoint so the
        # full-overwrite does not read dirs it is about to GC
        self._commit(cur.localCheckpoint(eager=True), None, full=True)
        self._gc(keep_version=self._read_manifest()["version"],
                 keep_last=0)
        self._last_compact = time.time()
        return len(before - self._referenced_dirs())

    def delete_where(self, condition) -> int:
        """TTL reaper: rewrite buckets dropping rows matching
        ``condition`` (reference ``src/reaper.c:63-128``).

        One probe job computes the delete count AND the affected bucket
        set together (was two counts + a distinct = 3 jobs), then one
        write rewrites only the affected buckets.  SQL DELETE
        semantics: only rows where the condition is TRUE are deleted
        (a NULL predicate keeps the row)."""
        cur = self.read()
        if cur is None:
            return 0
        hit = F.coalesce(condition, F.lit(False))
        probe = cur.agg(
            F.count(F.when(hit, True)).alias("deleted"),
            F.collect_set(F.when(hit, F.col(BUCKET_COL))).alias("bks")
        ).first()
        deleted = int(probe["deleted"])
        if not deleted:
            return 0
        affected = sorted(int(b) for b in probe["bks"])
        self._commit(self.read(affected).filter(~hit), affected)
        return deleted

    def truncate(self) -> None:
        m = self._read_manifest()
        # same passenger carry as _commit: pins (snapshots outlive a
        # truncate), layout, AND txns — dropping replay tags here
        # would let a replayed pre-truncate epoch re-apply into the
        # emptied matrel, resurrecting deliberately-truncated rows
        fresh = {k: v for k, v in m.items()
                 if k not in ("version", "buckets", "dirs")}
        fresh.update({"version": m["version"] + 1, "buckets": {}})
        self._write_manifest(fresh)

    def _commit(self, df: DataFrame, affected: list[int] | None,
                full: bool = False,
                txn: tuple[str, int] | dict | None = None) -> None:
        """Write one PACKED version dir: all affected buckets flat in
        one parquet dir, rows bucket-sorted within each task's file,
        manifest entries pointing every present bucket at the dir.

        Packed beats a dynamic ``partitionBy(bucket)`` write on both
        ends of the scale: locally a commit touching k buckets paid
        ~20 ms × k for the k leaf files/dirs + commit renames
        (measured ~0.7 s of a ~1.3 s commit at k=32); on a cluster
        each task writes ONE file instead of up-to-k, and the
        dynamic-partition sort/committer coordination disappears.
        Reads stay bucket-pruned via the manifest (only versions
        holding a requested bucket are listed) plus bucket-sorted
        row-group stats; stale rows (bucket rewritten by a later
        version) are excluded in ``read`` by the (version, bucket)
        validity rule.  The present-bucket set rides the write job as
        an Observation — no listing pass, no extra job."""
        from pyspark.sql import Observation
        m = self._read_manifest()
        version = m["version"] + 1
        vdir = os.path.join(self.dir, f"v{version}")
        obs = Observation()
        (df.sortWithinPartitions(BUCKET_COL)
           .observe(obs, F.collect_set(F.col(BUCKET_COL)).alias("present"))
           .write.mode("overwrite").parquet(vdir))
        # keep the read-side schema cache honest: a commit whose
        # names/types differ from the cached on-disk schema (schema
        # evolution via overwrite/restore) drops the cache so the next
        # read re-infers from footers; nullability differences are
        # fine (the file was written FROM this schema)
        if self._schema_cache is not None and (
                [(f.name, f.dataType) for f in df.schema.fields]
                != [(f.name, f.dataType)
                    for f in self._schema_cache.fields]):
            self._schema_cache = None
        present = {str(int(b)) for b in obs.get["present"]}
        new_buckets = {} if full else dict(m["buckets"])
        if full:
            affected = None
        for b in present:
            new_buckets[b] = vdir
        if affected is not None:
            # affected buckets whose merged result is empty → drop
            for b in affected:
                if str(b) not in present and str(b) in new_buckets:
                    new_buckets.pop(str(b))
        # per-dir byte/bucket accounting for the stale-ratio compaction
        # trigger: a dir's live fraction decays as later versions
        # rewrite its buckets; bytes×(1 − live/written) estimates dead
        # bytes without reading any parquet
        ref_dirs = {self._vdir(p) for p in new_buckets.values()}
        dirs = {d: info for d, info in m.get("dirs", {}).items()
                if d in ref_dirs}
        dirs[f"v{version}"] = {"bytes": _du(vdir),
                               "written": len(present)}
        # carry every passenger this writer does not own (layout,
        # pins, anything future) — a rebuilt-from-scratch manifest
        # that forgot one would silently drop it, and for pins that
        # means GC reclaiming a pinned snapshot
        out = {k: v for k, v in m.items()
               if k not in ("version", "buckets", "dirs", "txns")}
        out.update({"version": version, "buckets": new_buckets,
                    "dirs": dirs})
        txns = mio.fold_txns(m.get("txns", {}), txn, version)
        if txns:
            out["txns"] = txns
        self._write_manifest(out)
        self._gc(keep_version=version)

    # -- stale accounting / auto-compaction ---------------------------------
    def stale_stats(self) -> tuple[int, int]:
        """(live_bytes, stale_bytes) estimate from manifest accounting:
        for each referenced version dir, the fraction of its written
        buckets that later versions superseded is counted stale (rows
        are ~evenly sized across buckets by the group-hash bucketing).
        Wholly-unreferenced dirs awaiting GC-tail expiry count fully
        stale.  No parquet is read."""
        m = self._read_manifest()
        live_of: dict[str, int] = {}
        for p in m["buckets"].values():
            d = self._vdir(p)
            live_of[d] = live_of.get(d, 0) + 1
        held = self._referenced_dirs(m, pins=True)
        dirs = m.get("dirs", {})
        live = stale = 0
        for entry in os.listdir(self.dir):
            if not entry.startswith("v") or \
                    not os.path.isdir(os.path.join(self.dir, entry)):
                continue
            n_live = live_of.get(entry, 0)
            if n_live == 0 and entry in held:
                # retention-held by a pin: not dead bytes — counting
                # it stale would make maybe_compact() fire every
                # grace window without ever reclaiming anything.
                # Skipped BEFORE any byte accounting: _commit prunes
                # pinned-only dirs from the accounting map, so the
                # info-missing fallback below would _du-walk the
                # whole pinned snapshot on EVERY stale_stats call.
                continue
            info = dirs.get(entry)
            nbytes = info["bytes"] if info else \
                _du(os.path.join(self.dir, entry))
            written = max(1, info["written"]) if info else None
            if written is None:  # pre-accounting dir: split by liveness
                frac = 1.0 if n_live else 0.0
            else:
                frac = min(1.0, n_live / written)
            live += int(nbytes * frac)
            stale += int(nbytes * (1.0 - frac))
        return live, stale

    def maybe_compact(self, max_stale_ratio: float = 1.0) -> bool:
        """Compact when estimated dead bytes exceed ``max_stale_ratio``
        × live bytes (VACUUM-threshold analog); bounds on-disk
        amplification to (1 + ratio) × live data without manual
        ``compact()`` calls.  Damped to once per GC grace window —
        grace-held dirs count as stale, so an undamped trigger would
        re-compact every cycle until the grace expired.  Returns True
        when a compaction ran."""
        if (self.gc_grace_seconds > 0 and
                time.time() - self._last_compact < self.gc_grace_seconds):
            return False
        live, stale = self.stale_stats()
        if stale <= max_stale_ratio * max(live, 1):
            return False
        self.compact()
        return True

    def _gc(self, keep_version: int, keep_last: int = 2) -> None:
        """Drop version dirs no longer referenced by the manifest or a
        pin — keeping a small version tail AND the dereference grace
        (``gc_grace_seconds``, :func:`manifestio.reclaim`) for
        in-flight readers whose lazy plans still hold the old paths
        (a SW step bucket leaves the manifest a whole window after
        its dir was written)."""
        live = self._referenced_dirs(pins=True)

        def doomed(entry: str) -> bool:
            if not entry.startswith("v") or entry in live:
                return False
            try:
                v = int(entry[1:])
            except ValueError:
                return False
            # above keep_version: in-flight commit (dir written,
            # manifest not yet swapped), never eligible; the keep_last
            # tail guards commit-path readers
            return v <= keep_version and not (
                keep_last and v >= keep_version - keep_last)

        mio.reclaim(self.dir, [e for e in os.listdir(self.dir)
                               if doomed(e)], self.gc_grace_seconds)

    def gc_sweep(self) -> None:
        """Re-run GC without a commit (background maintenance): deletes
        unreferenced dirs whose unreference grace has expired.  Cheap —
        a listdir plus marker reads, no data IO.  keep_last=0: reader
        safety comes from the dereference-time grace here, not the
        commit-path version tail (a grace of 0 means the caller
        declared there are no concurrent readers)."""
        self._gc(keep_version=self._read_manifest()["version"],
                 keep_last=0)

    def rename(self, new_name: str) -> None:
        """Move the store to a sibling directory and rewrite manifest
        paths (the store's directory is derived from the CV name, so a
        view rename must carry the data for catalog replay to find
        it)."""
        parent = os.path.dirname(self.dir)
        new_dir = os.path.join(parent, new_name)
        if os.path.exists(new_dir):
            raise FileExistsError(f"matrel dir {new_dir} already exists")
        old_dir = self.dir
        os.rename(old_dir, new_dir)
        self.name = new_name
        self.dir = new_dir
        self._manifest_path = os.path.join(new_dir, "MANIFEST")
        # the memoized manifest IO is bound to the OLD directory path
        # (and, in condput mode, carries a probe cache for it) — drop
        # it so the next access re-resolves against the moved dir
        self._manifest_io = None
        m = self._read_manifest()
        m["buckets"] = {b: os.path.join(new_dir, os.path.relpath(p, old_dir))
                        for b, p in m["buckets"].items()}
        # pin bucket paths are stored RELATIVE, so they survive the
        # move with no rewrite
        self._write_manifest(m)

    def drop(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
