"""Object-storage-safe manifest commits (round-9 task 1).

Both snapshot stores assumed atomic ``os.replace`` for their manifest
swap — on S3-class object storage rename is copy+delete and that
atomicity silently disappears.  The ``condput`` manifest strategy
(manifestio.CondPutManifestIO) commits numbered immutable manifest
objects with compare-and-set semantics instead: the local emulation
uses ``os.link`` (atomic create-exclusive), mapping 1:1 to S3
``PUT If-None-Match: *``; a lost CAS surfaces as CommitConflict.

This module runs the stores' fault scenarios in a NON-ATOMIC-RENAME
mode: ``os.replace`` is replaced for every test by a copy+delete
decomposition (the S3 shape), so any hidden dependence on rename
atomicity in the condput commit path would corrupt state here.  Each
scenario must still read exactly pre- or post-state around an
injected crash, and racing committers must serialize through the CAS.
"""

import contextlib
import glob
import os
import shutil
import threading
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

import pipelinedb_spark.indexstore as ixs
from pipelinedb_spark.indexstore import (CommitConflict, IndexStore,
                                         open_index, read_index)
from pipelinedb_spark.manifestio import (CONDPUT_DIR, CondPutManifestIO,
                                         RenameManifestIO)
from pipelinedb_spark.matrel import BUCKET_COL, MatrelStore


@pytest.fixture(autouse=True)
def condput_nonatomic_fs(monkeypatch):
    """Every test in this module: new stores default to condput, and
    os.replace loses atomicity (copy + delete, observable in between)
    — the object-storage filesystem contract."""
    monkeypatch.setattr(mio, "DEFAULT_MANIFEST_FORMAT", "condput")
    orig_replace = os.replace

    def nonatomic_replace(src, dst, **kw):
        if os.path.isdir(src):          # dir renames: out of scope
            return orig_replace(src, dst, **kw)
        shutil.copyfile(src, dst)       # dst transiently partial
        os.unlink(src)

    monkeypatch.setattr(os, "replace", nonatomic_replace)
    yield


class _CondPutFault:
    """Raise on the Nth os.link that publishes a manifest object under
    ``root/_manifests`` — the condput crash point (everything else
    delegates)."""

    def __init__(self, monkeypatch, root, fail_on_call=1):
        self.dir = os.path.abspath(os.path.join(root, CONDPUT_DIR))
        self.remaining = fail_on_call
        self.orig = os.link
        monkeypatch.setattr(os, "link", self)

    def __call__(self, src, dst, **kw):
        if os.path.dirname(os.path.abspath(str(dst))) == self.dir:
            self.remaining -= 1
            if self.remaining == 0:
                raise OSError("injected: crash at manifest put")
        return self.orig(src, dst, **kw)


def _vecs(spark, n, id0=0, dim=8, seed=3):
    rng = np.random.RandomState(seed + id0)
    return spark.createDataFrame(
        [(id0 + i, rng.randn(dim).tolist()) for i in range(n)],
        "vec_id long, embedding array<double>")


def _index_rows(spark, path):
    return {r["vec_id"] for r in
            read_index(spark, path).select("vec_id").collect()}


def _add(store, content, replace=False, **kw):
    staged = store.stage()
    os.makedirs(staged)
    with open(os.path.join(staged, "f.txt"), "w") as f:
        f.write(content)
    return store.commit(staged, replace=replace, **kw)


# ------------------------------------------------------ store basics

def test_condput_layout_sticky_and_history_pruned(tmp_path):
    root = str(tmp_path / "idx")
    s = IndexStore(root, gc_grace_seconds=0.0)
    s.init_if_needed(meta={"p": 1})
    assert not os.path.exists(os.path.join(root, "_manifest.json"))
    assert os.path.isdir(os.path.join(root, CONDPUT_DIR))
    for i in range(12):
        _add(s, f"c{i}")
    assert s.read_manifest()["version"] == 12
    assert len(s.dirs()) == 12 and s.meta() == {"p": 1}
    # history bounded: ≤ KEEP manifest objects survive
    objs = glob.glob(os.path.join(root, CONDPUT_DIR, "m*.json"))
    assert 0 < len(objs) <= CondPutManifestIO.KEEP
    # sticky: reopening with the other format keeps condput
    s2 = IndexStore(root, manifest_format="rename")
    assert s2.read_manifest()["version"] == 12
    assert not os.path.exists(os.path.join(root, "_manifest.json"))


def test_one_format_flip_reaches_matrel_and_index_stores(tmp_path,
                                                         monkeypatch):
    """The documented deployment flip is ONE module default: setting
    manifestio's moves new matrels and new index stores together (two
    per-module defaults once drifted — flipping the matrel's left every
    index store on rename manifests).  No Spark: store construction
    and format resolution touch only the filesystem."""
    monkeypatch.setattr(mio, "DEFAULT_MANIFEST_FORMAT", "condput")
    ms = MatrelStore(None, str(tmp_path), "cv")
    assert isinstance(ms._mio(), CondPutManifestIO)
    s = IndexStore(str(tmp_path / "idx"))
    s.init_if_needed()
    assert isinstance(s._io(), CondPutManifestIO)
    assert not os.path.exists(os.path.join(s.root, "_manifest.json"))


def test_condput_rename_store_stays_rename(tmp_path, monkeypatch):
    monkeypatch.setattr(mio, "DEFAULT_MANIFEST_FORMAT", "rename")
    root = str(tmp_path / "idx")
    s = IndexStore(root)
    s.init_if_needed()
    _add(s, "a")
    assert os.path.exists(os.path.join(root, "_manifest.json"))
    # later default flips back to condput — layout is sticky
    monkeypatch.setattr(mio, "DEFAULT_MANIFEST_FORMAT", "condput")
    s2 = IndexStore(root)
    _add(s2, "b")
    assert len(s2.dirs()) == 2
    assert not os.path.isdir(os.path.join(root, CONDPUT_DIR))


def test_condput_cas_loses_exactly_once(tmp_path):
    """Two writes against the same base seq: one wins, one conflicts —
    the primitive every higher-level guarantee rides on."""
    root = str(tmp_path / "idx")
    io = CondPutManifestIO(root)
    io.write({"version": 1, "dirs": []}, base_seq=0)
    m, seq = io.read_versioned()
    io.write({"version": 2, "dirs": ["a"]}, base_seq=seq)
    with pytest.raises(CommitConflict):
        io.write({"version": 2, "dirs": ["b"]}, base_seq=seq)
    m2, _ = io.read_versioned()
    assert m2["dirs"] == ["a"]          # winner intact


def test_condput_lockless_concurrent_appends_all_survive(
        tmp_path, monkeypatch):
    """With the advisory lock disabled entirely, 6 threads append
    concurrently — CAS retry alone must serialize them (the
    object-storage story: O_EXCL lock files don't exist on S3).
    Lockless committers require a NONZERO gc grace: a CAS loser's
    renamed-but-unreferenced dir is numbered at-or-below the winner's
    manifest version, so only the stamp-then-delete grace window
    keeps a concurrent gc pass off it while the loser renumbers
    (grace 0 is the documented no-concurrency contract)."""
    monkeypatch.setattr(IndexStore, "_commit_lock",
                        lambda self, **kw: contextlib.nullcontext())
    s = IndexStore(str(tmp_path / "idx"), gc_grace_seconds=60.0)
    s.init_if_needed()
    errs = []

    def appender(i):
        try:
            _add(s, f"t{i}", max_retries=20)
        except Exception as e:          # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(i,))
          for i in range(6)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert len(s.dirs()) == 6           # nothing lost without a lock
    assert s.read_manifest()["version"] == 6


def test_condput_replace_keeps_concurrent_append_and_meta_fn(tmp_path):
    """The round-9 commit semantics hold identically under condput:
    pinned-snapshot replace keeps concurrent appends; meta_fn folds
    inside the critical section."""
    s = IndexStore(str(tmp_path / "idx"), gc_grace_seconds=0.0)
    s.init_if_needed(meta={"cnt": 0})
    _add(s, "a", meta_fn=lambda m: {**m, "cnt": m["cnt"] + 1})
    snapshot = [os.path.basename(p) for p in s.dirs()]
    c = _add(s, "c", meta_fn=lambda m: {**m, "cnt": m["cnt"] + 1})
    base = _add(s, "compacted", replace=True, expected_dirs=snapshot)
    assert [os.path.basename(p) for p in s.dirs()] == \
        [os.path.basename(base), os.path.basename(c)]
    assert s.meta()["cnt"] == 2
    with pytest.raises(CommitConflict):
        _add(s, "stale", replace=True, expected_dirs=snapshot,
             on_extra="conflict")


# ------------------------------------- operator fault scenarios

def test_condput_ivf_append_crash_reads_pre_state(spark, tmp_path,
                                                  monkeypatch):
    from pipelinedb_spark.operators.similarity import (ivf_append,
                                                       ivf_persist,
                                                       ivf_staleness)

    path = str(tmp_path / "ivf")
    ivf_persist(_vecs(spark, 40), path, n_lists=4)
    assert os.path.isdir(os.path.join(path, CONDPUT_DIR))
    pre = _index_rows(spark, path)

    _CondPutFault(monkeypatch, path)
    with pytest.raises(OSError, match="injected"):
        ivf_append(spark, path, _vecs(spark, 20, id0=1000))
    monkeypatch.undo()

    assert _index_rows(spark, path) == pre
    assert ivf_staleness(path)["appended_n"] == 0
    assert ivf_append(spark, path, _vecs(spark, 20, id0=1000)) == 20
    assert len(_index_rows(spark, path)) == 60


def test_condput_ivf_retrain_crash_keeps_old_index(spark, tmp_path,
                                                   monkeypatch):
    from pipelinedb_spark.operators.similarity import (ivf_persist,
                                                       ivf_retrain)

    path = str(tmp_path / "ivf")
    ivf_persist(_vecs(spark, 40), path, n_lists=4)
    pre = _index_rows(spark, path)
    pre_cent = np.load(open_index(path).artifact("_centroids.npy"))

    _CondPutFault(monkeypatch, path)
    with pytest.raises(OSError, match="injected"):
        ivf_retrain(spark, path)
    monkeypatch.undo()
    assert _index_rows(spark, path) == pre
    np.testing.assert_array_equal(
        np.load(open_index(path).artifact("_centroids.npy")), pre_cent)
    ivf_retrain(spark, path)
    assert _index_rows(spark, path) == pre


def test_condput_bm25_rebuild_crash_consistent(spark, tmp_path,
                                               monkeypatch):
    from pipelinedb_spark.operators.retrieval import (bm25_index,
                                                      bm25_load,
                                                      bm25_persist,
                                                      bm25_search)

    path = str(tmp_path / "bm25")
    docs1 = spark.createDataFrame(
        [(1, "spark streaming engine"), (2, "postgres continuous view")],
        "doc_id long, text string")
    bm25_persist(bm25_index(docs1), path)
    pre = [(r["doc_id"], round(r["score"], 9)) for r in
           bm25_search(bm25_load(spark, path), "spark engine").collect()]

    docs2 = spark.createDataFrame(
        [(3, "spark spark spark")], "doc_id long, text string")
    _CondPutFault(monkeypatch, path)
    with pytest.raises(OSError, match="injected"):
        bm25_persist(bm25_index(docs2), path)
    monkeypatch.undo()
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           bm25_search(bm25_load(spark, path), "spark engine").collect()]
    assert got == pre                   # nothing mixed across tables

    bm25_persist(bm25_index(docs2), path)
    assert bm25_load(spark, path)["n_docs"] == 1


def test_condput_span_append_compact_probe_stable(spark, tmp_path):
    from pipelinedb_spark.operators.spandedup import (
        span_index_append, span_index_compact, span_index_persist,
        span_index_probe)

    path = str(tmp_path / "span")
    words = " ".join(f"w{i}" for i in range(40))
    span_index_persist(spark.createDataFrame(
        [(1, words)], "doc_id long, text string"), path, window=5)
    for i in range(2):
        span_index_append(spark, path, spark.createDataFrame(
            [(10 + i, f"unique {i} " * 10 + words[:60])],
            "doc_id long, text string"), txn=("s", i))
    probe = spark.createDataFrame([(99, words)],
                                  "doc_id long, text string")

    def spans():
        return sorted((r["doc_id"], r["span_start"], r["span_end"])
                      for r in span_index_probe(spark, path, probe)
                      .collect())

    pre = spans()
    assert span_index_compact(spark, path) == 3
    assert spans() == pre
    assert open_index(path).txn_version("s") == 1


# ------------------------------------------------- matrel condput

def _merge_fn(df):
    return df.groupBy("k", BUCKET_COL).agg(F.sum("n").alias("n"))


def _state(store):
    df = store.read()
    return {} if df is None else {r["k"]: r["n"] for r in df.collect()}


def test_condput_matrel_merge_crash_pre_state_then_replay(
        spark, tmp_path, monkeypatch):
    store = MatrelStore(spark, str(tmp_path), "m", num_buckets=4)
    store.gc_grace_seconds = 0.0
    assert os.path.isdir(os.path.join(store.dir, CONDPUT_DIR))
    batch = spark.createDataFrame([("a", 1), ("b", 2)],
                                  "k string, n long")
    store.merge(batch, ["k"], _merge_fn, txn=("src", 1))
    pre = _state(store)

    _CondPutFault(monkeypatch, store.dir)
    with pytest.raises(OSError, match="injected"):
        store.merge(spark.createDataFrame([("a", 10)],
                                          "k string, n long"),
                    ["k"], _merge_fn, txn=("src", 2))
    monkeypatch.undo()

    re1 = MatrelStore(spark, str(tmp_path), "m", num_buckets=4)
    re1.gc_grace_seconds = 0.0
    assert _state(re1) == pre           # exactly pre-state
    assert re1.txn_version("src") == 1  # txn tag rolled back with it
    re1.merge(spark.createDataFrame([("a", 10)], "k string, n long"),
              ["k"], _merge_fn, txn=("src", 2))
    assert _state(re1) == {"a": 11, "b": 2}
    assert re1.txn_version("src") == 2


def test_condput_matrel_compact_truncate_lifecycle(spark, tmp_path):
    store = MatrelStore(spark, str(tmp_path), "m", num_buckets=4)
    store.gc_grace_seconds = 0.0
    for i in range(3):
        store.merge(spark.createDataFrame([("a", 1), (f"k{i}", i)],
                                          "k string, n long"),
                    ["k"], _merge_fn)
    pre = _state(store)
    assert store.compact() >= 1
    assert _state(store) == pre
    store.truncate()
    assert store.read() is None
    # no rename-mode pointer ever appeared
    assert not os.path.exists(os.path.join(store.dir, "MANIFEST"))


# ------------------------------ object-store contract fake (r10)
#
# The condput path above still ran against the LOCAL filesystem (its
# os.link emulation).  These tests replace the storage client outright
# with a pure key-value fake exposing ONLY the four object-store
# primitives — list, get, put_if_absent, delete; no link, no rename,
# no mtime — proving no posix-only assumption hides in the manifest
# commit path, and that the data-dir rename at commit stays
# correctness-IRRELEVANT (a renamed-but-unreferenced dir is invisible
# to every reader because only the manifest publishes dirs).

import pipelinedb_spark.manifestio as mio


class FakeObjectStore:
    """In-memory strongly-consistent object store shared by every
    client; conditional put under one lock (the S3 contract)."""

    def __init__(self):
        self.objects = {}          # (dir, name) -> str
        self.mutex = threading.Lock()
        self.crash_dir = None      # arm_crash target
        self.crash_remaining = 0
        self.put_count = 0

    def arm_crash(self, root, on_call=1):
        self.crash_dir = os.path.abspath(os.path.join(root, CONDPUT_DIR))
        self.crash_remaining = on_call

    def client(self, directory):
        return _FakeClient(self, os.path.abspath(directory))


class _FakeClient:
    def __init__(self, store, directory):
        self.store, self.dir = store, directory

    def list(self):
        with self.store.mutex:
            return [n for (d, n) in self.store.objects if d == self.dir]

    def get(self, name):
        with self.store.mutex:
            try:
                return self.store.objects[(self.dir, name)]
            except KeyError:
                raise FileNotFoundError(name) from None

    def put_if_absent(self, name, data):
        with self.store.mutex:
            if self.dir == self.store.crash_dir:
                self.store.crash_remaining -= 1
                if self.store.crash_remaining == 0:
                    raise OSError("injected: crash at manifest put")
            if (self.dir, name) in self.store.objects:
                raise FileExistsError(name)
            self.store.objects[(self.dir, name)] = data
            self.store.put_count += 1

    def delete(self, name):
        with self.store.mutex:
            self.store.objects.pop((self.dir, name), None)


@pytest.fixture()
def objstore(monkeypatch):
    fake = FakeObjectStore()
    monkeypatch.setattr(mio, "CLIENT_FACTORY", fake.client)
    return fake


def _no_local_manifests(root):
    """Nothing under root/_manifests on the REAL filesystem — every
    manifest byte went through the fake client."""
    return not os.path.exists(os.path.join(root, CONDPUT_DIR))


def test_objfake_commit_lifecycle(tmp_path, objstore):
    root = str(tmp_path / "idx")
    s = IndexStore(root, gc_grace_seconds=0.0)
    s.init_if_needed(meta={"cnt": 0})
    _add(s, "a", meta_fn=lambda m: {**m, "cnt": m["cnt"] + 1})
    snapshot = [os.path.basename(p) for p in s.dirs()]
    c = _add(s, "c", meta_fn=lambda m: {**m, "cnt": m["cnt"] + 1})
    base = _add(s, "compacted", replace=True, expected_dirs=snapshot)
    assert [os.path.basename(p) for p in s.dirs()] == \
        [os.path.basename(base), os.path.basename(c)]
    assert s.meta()["cnt"] == 2
    with pytest.raises(CommitConflict):
        _add(s, "stale", replace=True, expected_dirs=snapshot,
             on_extra="conflict")
    # manifest-history gc runs through client.delete
    for i in range(12):
        _add(s, f"x{i}")
    manifests = [n for (_d, n) in objstore.objects
                 if n.startswith("m")]
    assert 0 < len(manifests) <= mio.CondPutManifestIO.KEEP
    assert _no_local_manifests(root)
    assert objstore.put_count >= 15


def test_objfake_lockless_concurrent_appends(tmp_path, objstore,
                                             monkeypatch):
    monkeypatch.setattr(IndexStore, "_commit_lock",
                        lambda self, **kw: contextlib.nullcontext())
    s = IndexStore(str(tmp_path / "idx"), gc_grace_seconds=60.0)
    s.init_if_needed()
    errs = []

    def appender(i):
        try:
            _add(s, f"t{i}", max_retries=20)
        except Exception as e:          # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(i,))
          for i in range(6)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert len(s.dirs()) == 6
    assert s.read_manifest()["version"] == 6
    assert _no_local_manifests(str(tmp_path / "idx"))


def test_objfake_ivf_append_crash_pre_state(spark, tmp_path, objstore):
    from pipelinedb_spark.operators.similarity import (ivf_append,
                                                       ivf_persist,
                                                       ivf_staleness)

    path = str(tmp_path / "ivf")
    ivf_persist(_vecs(spark, 40), path, n_lists=4)
    assert _no_local_manifests(path)
    pre = _index_rows(spark, path)

    objstore.arm_crash(path)
    with pytest.raises(OSError, match="injected"):
        ivf_append(spark, path, _vecs(spark, 20, id0=1000))

    # the crash left a renamed-but-unreferenced v-dir on local disk;
    # readers never see it — the data-dir rename is correctness-
    # irrelevant because only the manifest publishes dirs
    assert _index_rows(spark, path) == pre
    assert ivf_staleness(path)["appended_n"] == 0
    assert ivf_append(spark, path, _vecs(spark, 20, id0=1000)) == 20
    assert len(_index_rows(spark, path)) == 60


def test_objfake_matrel_merge_crash_pre_state_then_replay(
        spark, tmp_path, objstore):
    store = MatrelStore(spark, str(tmp_path), "m", num_buckets=4)
    store.gc_grace_seconds = 0.0
    batch = spark.createDataFrame([("a", 1), ("b", 2)],
                                  "k string, n long")
    store.merge(batch, ["k"], _merge_fn, txn=("src", 1))
    pre = _state(store)
    assert _no_local_manifests(store.dir)

    objstore.arm_crash(store.dir)
    with pytest.raises(OSError, match="injected"):
        store.merge(spark.createDataFrame([("a", 10)],
                                          "k string, n long"),
                    ["k"], _merge_fn, txn=("src", 2))

    re1 = MatrelStore(spark, str(tmp_path), "m", num_buckets=4)
    re1.gc_grace_seconds = 0.0
    assert _state(re1) == pre
    assert re1.txn_version("src") == 1
    re1.merge(spark.createDataFrame([("a", 10)], "k string, n long"),
              ["k"], _merge_fn, txn=("src", 2))
    assert _state(re1) == {"a": 11, "b": 2}
    assert re1.txn_version("src") == 2


def test_objfake_shelve_on_timeout_escape(tmp_path, objstore,
                                          monkeypatch):
    """ADVICE r9: an exception OTHER than CommitConflict escaping
    _swap_manifest after fold_dirs renamed the stage (lock timeout on
    a retry iteration) must shelve the dir back to stage naming, or
    gc treats the above-version v-dir as an in-flight commit
    forever."""
    root = str(tmp_path / "idx")
    s = IndexStore(root, gc_grace_seconds=0.0)
    s.init_if_needed()
    _add(s, "a")

    orig_write = mio.CondPutManifestIO.write
    fails = {"n": 1}

    def conflict_once(self, m, base_seq):
        if fails["n"]:
            fails["n"] -= 1
            raise CommitConflict("simulated lost CAS")
        return orig_write(self, m, base_seq)

    monkeypatch.setattr(mio.CondPutManifestIO, "write", conflict_once)

    orig_lock = IndexStore._commit_lock
    calls = {"n": 0}

    def flaky_lock(self, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise TimeoutError("commit lock busy (simulated)")
        return orig_lock(self, **kw)

    monkeypatch.setattr(IndexStore, "_commit_lock", flaky_lock)

    with pytest.raises(TimeoutError):
        _add(s, "b")
    # (no monkeypatch.undo(): it would also strip the objstore fake;
    # both injected faults are self-disarming and the remaining ops
    # take no commit lock)

    # nothing above the manifest version left under a v-name...
    m = s.read_manifest()
    stray = [e for e in os.listdir(root)
             if ixs._VDIR_RE.match(e) and e not in m["dirs"]]
    assert stray == []
    # ...the dir was shelved to stage naming and IS reclaimable
    shelved = [e for e in os.listdir(root)
               if e.startswith(".stage-conflict-")]
    assert len(shelved) == 1
    s.gc(include_stage=True)
    assert not any(e.startswith(".stage-") for e in os.listdir(root))
    assert len(s.dirs()) == 1           # the committed 'a' only


def test_lockless_mode_is_a_supported_parameter(tmp_path, objstore):
    """commit_lock=False is the real object-storage deployment (no
    O_EXCL files exist there) — a first-class parameter, not a test
    stub: condput CAS alone serializes 6 concurrent appenders; the
    rename format and zero-grace configs are refused up front."""
    s = IndexStore(str(tmp_path / "idx"), gc_grace_seconds=60.0,
                   commit_lock=False)
    s.init_if_needed()
    errs = []

    def appender(i):
        try:
            _add(s, f"t{i}", max_retries=20)
        except Exception as e:          # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(i,))
          for i in range(6)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert len(s.dirs()) == 6
    assert s.read_manifest()["version"] == 6
    # no lock file ever touched the store root
    assert not os.path.exists(os.path.join(str(tmp_path / "idx"),
                                           "_commit.lock"))

    with pytest.raises(ValueError, match="gc_grace_seconds"):
        IndexStore(str(tmp_path / "z"), gc_grace_seconds=0.0,
                   commit_lock=False).init_if_needed()


def test_lockless_mode_refuses_rename_format(tmp_path, monkeypatch):
    monkeypatch.setattr(mio, "DEFAULT_MANIFEST_FORMAT", "rename")
    s = IndexStore(str(tmp_path / "idx"), gc_grace_seconds=60.0,
                   manifest_format="rename", commit_lock=False)
    with pytest.raises(ValueError, match="condput"):
        s.init_if_needed()


def test_lockless_module_default_reaches_operator_stores(
        spark, tmp_path, objstore, monkeypatch):
    """Operators construct IndexStore internally — an object-storage
    deployment flips the module defaults (format=condput,
    commit_lock=False) and every *_persist/_append path runs
    lockless without per-call plumbing."""
    monkeypatch.setattr(ixs, "DEFAULT_COMMIT_LOCK", False)
    from pipelinedb_spark.operators.similarity import (ivf_append,
                                                       ivf_persist)

    path = str(tmp_path / "ivf")
    ivf_persist(_vecs(spark, 40), path, n_lists=4)
    assert ivf_append(spark, path, _vecs(spark, 20, id0=1000)) == 20
    assert len(_index_rows(spark, path)) == 60
    assert not os.path.exists(os.path.join(path, "_commit.lock"))
