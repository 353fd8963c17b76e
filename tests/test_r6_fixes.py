"""Round-6 fixes.

* Reader-gated output-stream emission is the DEFAULT (reference
  src/combiner.c:1477-1489 closes an osrel immediately when nothing
  reads it; SW twin :1619-1622) — ``track_output_streams=True`` is the
  opt-in for the retained history tail.
* Delta-combine registration lifecycle (re-create upstream, replay
  ambiguity, multi-osrel qualifier resolution).
* LSH index scale guards (size-gated probe broadcast, parallel index
  writes).
* LHS-offset sliding-window predicates (pipeline_regress.sql:183-185).
* SW matrel step-bucketed layout: window expiry is a manifest-level
  bucket drop, no read of surviving data.
"""

import time

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Reader-gated osrel emission
# ---------------------------------------------------------------------------

def test_emission_reader_gated_by_default(ctx):
    """With no output-stream readers the commit path must not build or
    write change rows at all (the reference skips emission entirely)."""
    ctx.create_stream("rg1", "k string, v long")
    ctx.create_view("cv_rg", "SELECT k, sum(v) AS s FROM rg1 GROUP BY k")
    ctx.insert("rg1", [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    ctx.insert("rg1", [{"k": "a", "v": 3}])
    # no segments on disk, empty tail — but the tail keeps the
    # CREATE-time osrel schema so downstream DDL still validates
    assert ctx._osrel_segments("cv_rg_osrel") == []
    tail = ctx.output_of("cv_rg")
    assert tail.count() == 0
    assert {"old", "new", "delta", "delta_states"} <= set(tail.columns)
    # the CV itself is unaffected
    got = {r["k"]: r["s"] for r in ctx.read_view("cv_rg").collect()}
    assert got == {"a": 4, "b": 2}


def test_reader_attach_mid_stream_sees_post_attach_changes(ctx):
    """Attaching an output-stream reader mid-stream subscribes from
    that point on: pre-attach commits were never emitted (gated), so
    the downstream CV counts only post-attach change rows — stream
    semantics, matching the reference (an osrel is a stream, not a
    table with history)."""
    ctx.create_stream("rg2", "k string, v long")
    ctx.create_view("up_rg", "SELECT k, count(*) AS n FROM rg2 GROUP BY k")
    ctx.insert("rg2", [{"k": "a", "v": 1}])        # pre-attach: gated off
    ctx.create_view("down_rg",
                    "SELECT count(*) AS changes FROM output_of('up_rg')")
    # post-attach: a updates (1 change) + b inserts (1 change)
    ctx.insert("rg2", [{"k": "a", "v": 2}, {"k": "b", "v": 3}])
    assert ctx.read_view("down_rg").collect()[0]["changes"] == 2


def test_sw_tick_skips_emission_without_readers(ctx):
    """SW ticks with no readers skip the snapshot/diff/emission but
    still expire the window (combiner.c:1619-1622)."""
    ctx.create_stream("rg3", "k string, v long")
    ctx.create_view(
        "cv_rg_sw",
        "SELECT k, count(*) AS n FROM rg3 "
        "WHERE arrival_timestamp > clock_timestamp() - interval '60 seconds' "
        "GROUP BY k")
    ctx.insert("rg3", [{"k": "a", "v": 1}])
    now = time.time()
    assert ctx.tick_sw("cv_rg_sw", now=now) == 0
    assert ctx._osrel_segments("cv_rg_sw_osrel") == []
    # expiry still ran once the window slides past everything
    ctx.tick_sw("cv_rg_sw", now=now + 300)
    assert ctx.read_matrel("cv_rg_sw").count() == 0


# ---------------------------------------------------------------------------
# Delta-combine registration lifecycle (advisor round-5 findings)
# ---------------------------------------------------------------------------

def test_delta_combine_rebinds_after_drop_recreate(ctx):
    """Dropping an upstream CV and recreating it with a DIFFERENT
    aggregate under the same output column must rebind the derived
    __dcmb_* spec — a stale spec would zip the new state fields
    against the old suffixes and silently mis-merge."""
    ctx.create_stream("dcr", "k string, v double")
    ctx.create_view("up_dcr", "SELECT k, sum(v) AS m FROM dcr GROUP BY k")
    ctx.create_view("dn_dcr", "SELECT combine((delta).m) AS m "
                              "FROM output_of('up_dcr')")
    ctx.insert("dcr", [{"k": "a", "v": 1.0}, {"k": "b", "v": 2.0}])
    assert ctx.read_view("dn_dcr").collect()[0]["m"] == 3.0
    ctx.drop_view("up_dcr", cascade=True)  # drops dn_dcr too
    # same column name, different aggregate (different state shape)
    ctx.create_view("up_dcr", "SELECT k, avg(v) AS m FROM dcr GROUP BY k")
    ctx.create_view("dn_dcr", "SELECT combine((delta).m) AS m "
                              "FROM output_of('up_dcr')")
    ctx.insert("dcr", [{"k": "a", "v": 1.0}, {"k": "a", "v": 2.0}])
    ctx.insert("dcr", [{"k": "b", "v": 6.0}])
    # exact weighted avg over all three values, not a sum/garbage
    assert ctx.read_view("dn_dcr").collect()[0]["m"] == 3.0


def test_delta_combine_replay_with_ambiguous_view_names(spark, tmp_path):
    """Catalog replay re-parses __dcmb_<tok> by view-name prefix;
    with views 'a' and 'a_b' the token 'a_b_c' (view 'a', column
    'b_c') must fall through the longer non-matching candidate
    instead of breaking early and losing the registration."""
    from pipelinedb_spark import PipelineContext

    root = str(tmp_path / "amb")
    ctx = PipelineContext(spark, root=root, num_buckets=4)
    ctx.create_stream("ambs", "k string, v long")
    ctx.create_view("a", "SELECT k, sum(v) AS b_c FROM ambs GROUP BY k")
    ctx.create_view("a_b", "SELECT k, count(*) AS n FROM ambs GROUP BY k")
    ctx.create_view("dn_amb", "SELECT combine((delta).b_c) AS s "
                              "FROM output_of('a')")
    ctx.insert("ambs", [{"k": "x", "v": 5}])
    assert ctx.read_view("dn_amb").collect()[0]["s"] == 5

    ctx2 = PipelineContext(spark, root=root, num_buckets=4)
    ctx2.insert("ambs", [{"k": "y", "v": 7}])
    assert ctx2.read_view("dn_amb").collect()[0]["s"] == 12
    ctx2.close()


def _delta_rewrite(ctx, sql):
    """``sql`` with its delta combines rewritten, as CREATE does."""
    from pipelinedb_spark.analyzer import _expressions, _splice
    tree = ctx._parse(sql)
    return _splice(sql, ctx._delta_combine_edits(tree, _expressions(tree)))


def test_delta_combine_qualifier_binds_right_upstream(ctx):
    """With several osrel relations in scope, a qualified
    (alias.delta).col must bind to the alias's own upstream, and an
    unqualified call must raise instead of guessing."""
    from pipelinedb_spark import CQError

    ctx.create_stream("mq", "k string, v long")
    ctx.create_view("up_mq1", "SELECT k, sum(v) AS m FROM mq GROUP BY k")
    ctx.create_view("up_mq2", "SELECT k, count(*) AS m FROM mq GROUP BY k")
    sql = ("SELECT combine((o2.delta).m) AS m FROM up_mq1_osrel o1 "
           "JOIN up_mq2_osrel o2 ON (o1.new).k = (o2.new).k")
    out = _delta_rewrite(ctx, sql)
    assert "__dcmb_up_mq2_m" in out and "__dcmb_up_mq1_m" not in out
    with pytest.raises(CQError, match="ambiguous"):
        _delta_rewrite(
            ctx, "SELECT combine((delta).m) AS m FROM up_mq1_osrel o1 "
            "JOIN up_mq2_osrel o2 ON (o1.new).k = (o2.new).k")


def test_rename_view_carries_delta_combine_tokens(spark, tmp_path):
    """ALTER VIEW RENAME on an upstream CV rewrites downstream
    __dcmb_<old>_* tokens to the new name; a fresh context replays and
    keeps combining."""
    from pipelinedb_spark import PipelineContext

    root = str(tmp_path / "rnm")
    ctx = PipelineContext(spark, root=root, num_buckets=4)
    ctx.create_stream("rns", "k string, v long")
    ctx.create_view("up_rn", "SELECT k, sum(v) AS s FROM rns GROUP BY k")
    ctx.create_view("dn_rn", "SELECT combine((delta).s) AS s "
                             "FROM output_of('up_rn')")
    ctx.insert("rns", [{"k": "a", "v": 1}])
    ctx.rename_view("up_rn", "up_rn2")
    ctx.insert("rns", [{"k": "a", "v": 2}])
    assert ctx.read_view("dn_rn").collect()[0]["s"] == 3

    ctx2 = PipelineContext(spark, root=root, num_buckets=4)
    ctx2.insert("rns", [{"k": "b", "v": 4}])
    assert ctx2.read_view("dn_rn").collect()[0]["s"] == 7
    ctx2.close()


# ---------------------------------------------------------------------------
# LSH index scale guards
# ---------------------------------------------------------------------------

def test_lsh_index_probe_broadcast_is_size_gated(spark, sf_dir, tmp_path):
    """A small probe batch broadcasts; an over-threshold batch must
    fall back to a pinned shuffle-hash join instead of force-
    broadcasting (advisor round-5: unconditional broadcast hint OOMs
    on large backfill batches).  Results are identical either way."""
    from pipelinedb_spark.operators.dedup import (lsh_index_persist,
                                                  lsh_index_probe)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").limit(50)
    path = str(tmp_path / "lsh_gate")
    lsh_index_persist(docs, path)
    batch = docs.limit(5).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text")

    small = lsh_index_probe(spark, path, batch)
    assert "BroadcastHashJoin" in small._jdf.queryExecution() \
        .executedPlan().toString()
    big = lsh_index_probe(spark, path, batch, broadcast_max_bytes=0)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan
    key = lambda rows: sorted((r["corpus_id"], r["new_id"]) for r in rows)
    assert key(small.collect()) == key(big.collect())


def test_lsh_index_write_parallelism_not_capped_by_bands(spark, sf_dir,
                                                         tmp_path):
    """Index writes must scale with write_partitions, not the band
    count: repartition("band") produced exactly `bands` tasks/files
    for the whole corpus (16 giant tasks at 100 TB)."""
    import glob

    from pipelinedb_spark.operators.dedup import (lsh_index_persist,
                                                  lsh_index_probe)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").limit(200)
    path = str(tmp_path / "lsh_par")
    lsh_index_persist(docs, path, bands=4, write_partitions=8)
    files = glob.glob(f"{path}/v*/band=*/part-*")
    # 8 tasks × up-to-4 band dirs each: strictly more files than the
    # old bands-capped write (exactly 4), at least one per task
    assert len(files) > 4
    tasks = {f.split("/")[-1].split("-")[1] for f in files}
    assert len(tasks) >= 5  # several distinct write tasks contributed
    # index remains probe-able (layout/meta intact)
    batch = docs.limit(3).select(
        (F.col("doc_id") + 600_000).alias("doc_id"), "text")
    assert lsh_index_probe(spark, path, batch).count() >= 0


# ---------------------------------------------------------------------------
# Sketch probe/finalize hygiene
# ---------------------------------------------------------------------------

def test_dist_probe_null_args_return_null(spark):
    """NULL q/x probe arguments must return NULL, not a NaN-fed
    garbage value (advisor round-5: vectorized kernels coerced null →
    NaN → searchsorted)."""
    from pipelinedb_spark.functions.sketch_fns import (dist_cdf,
                                                       dist_quantile,
                                                       freq, freq_norm)
    from pipelinedb_spark.sketches.cms import CountMinSketch
    from pipelinedb_spark.sketches.tdigest import TDigest

    td = TDigest().add_many([float(i) for i in range(100)]).serialize()
    import numpy as np
    cms = CountMinSketch()
    cms.add_many(np.array(["a", "a", "b"], dtype=object))
    cms_b = cms.serialize()
    df = spark.createDataFrame(
        [(td, cms_b, 0.5, "a"), (td, cms_b, None, None)],
        "td binary, cms binary, q double, v string")
    rows = df.select(
        dist_quantile("td", "q").alias("dq"),
        dist_cdf("td", "q").alias("dc"),
        freq("cms", "v").alias("f"),
        freq_norm("cms", "v").alias("fn")).collect()
    ok, nulls = rows
    assert ok["dq"] is not None and ok["dc"] is not None
    assert ok["f"] == 2 and abs(ok["fn"] - 2 / 3) < 1e-9
    assert nulls["dq"] is None and nulls["dc"] is None
    assert nulls["f"] is None and nulls["fn"] is None


def test_tdigest_finalize_is_arrow_batched_and_warning_free(spark):
    """The percentile finalizers must run as pandas (Arrow) UDFs — no
    row-pickled @F.udf left in the sketch registration — and the
    vectorized kernels must not emit RuntimeWarnings on extreme
    inputs."""
    import warnings

    import numpy as np

    from pipelinedb_spark.sketches import registration as reg
    from pipelinedb_spark.sketches.tdigest import TDigest

    src = inspect_src = __import__("inspect").getsource(reg)
    assert "@F.udf" not in src
    td = TDigest().add_many(np.array([1e300, -1e300, 0.0, 5.0]))
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        td.quantile_many(np.array([0.0, 0.5, 1.0]))
        td.cdf_many(np.array([-1e308, 0.0, 1e308, np.nan]))
    # plan check: the scalar + ARRAY finalizers evaluate as ArrowEvalPython
    df = spark.createDataFrame([(td.serialize(),)], "td binary")
    plan = df.select(
        reg._tdigest_quantile_pdf(0.5)(F.col("td")).alias("q"),
        reg._tdigest_quantiles_pdf([0.25, 0.75])(F.col("td")).alias("qs")
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    r = spark.createDataFrame([(td.serialize(),)], "td binary").select(
        reg._tdigest_quantile_pdf(0.5)(F.col("td")).alias("q"),
        reg._tdigest_quantiles_pdf([0.0, 1.0])(F.col("td")).alias("qs")
    ).collect()[0]
    assert r["q"] is not None and len(r["qs"]) == 2


# ---------------------------------------------------------------------------
# LHS-offset sliding-window predicate (pipeline_regress.sql:183-185)
# ---------------------------------------------------------------------------

def test_sw_lhs_offset_predicate_normalizes(ctx):
    """Reference sw_ts_expr1 VERBATIM (pipeline_regress.sql:183-185):
    ``minute(ts) + interval '1 second' > clock_timestamp() - interval
    '5 minute'`` is a sliding window of width W + K over the LHS
    expression; bare ``minute()`` is the reference's truncation
    function (rewritten to minute_trunc in CQ SQL)."""
    ctx.create_stream("swo", "x int")
    ctx.create_view(
        "sw_ts_expr1",
        "SELECT count(*) AS count FROM swo "
        "WHERE minute(arrival_timestamp) + interval '1 second' > "
        "clock_timestamp() - interval '5 minute'")
    cv = ctx.views["sw_ts_expr1"]
    assert cv.plan.sw_column == "minute_trunc(arrival_timestamp)"
    assert cv.plan.sw_seconds == 301.0  # 5 min + 1 s
    ctx.insert("swo", [{"x": 1}, {"x": 1}])
    ctx.insert("swo", [{"x": 1}, {"x": 1}])
    # expected/pipeline_regress.out: count = 4 while in-window
    assert ctx.read_view("sw_ts_expr1").collect()[0]["count"] == 4
    # decay: equivalent to the normalized window — everything expires
    # past W + K (+ one step of bucket tolerance)
    step = cv.plan.sw_step_seconds
    assert ctx.read_view("sw_ts_expr1",
                         at=time.time() + 301 + 2 * step).count() == 0
    # a MINUS offset narrows the window; non-positive windows reject
    ctx.create_view(
        "sw_off_neg",
        "SELECT count(*) AS count FROM swo "
        "WHERE arrival_timestamp - interval '1 minute' > "
        "clock_timestamp() - interval '5 minute'")
    assert ctx.views["sw_off_neg"].plan.sw_seconds == 240.0
    from pipelinedb_spark import CQError
    with pytest.raises(CQError, match="non-positive"):
        ctx.create_view(
            "sw_off_bad",
            "SELECT count(*) AS count FROM swo "
            "WHERE arrival_timestamp - interval '10 minute' > "
            "clock_timestamp() - interval '5 minute'")


# ---------------------------------------------------------------------------
# SW step-bucketed matrel layout: O(1) window expiry
# ---------------------------------------------------------------------------

def test_sw_step_bucket_layout_expiry_reads_no_survivors(ctx, monkeypatch):
    """Under the time-leading step layout, reaping fully-expired steps
    is a manifest-level bucket drop: the only data read is the doomed
    buckets themselves (for the deleted-rows count) — surviving
    buckets' files are never opened, nothing is rewritten."""
    import datetime

    from pipelinedb_spark.matrel import MatrelStore

    ctx.create_stream("sps", "k string, v long")
    ctx.create_view(
        "cv_sps",
        "SELECT k, count(*) AS n FROM sps "
        "WHERE arrival_timestamp > clock_timestamp() - interval "
        "'60 seconds' GROUP BY k")
    cv = ctx.views["cv_sps"]
    assert cv._time_bucketed
    step = float(cv.plan.sw_step_seconds)
    t0 = time.time()
    old_ts = datetime.datetime.utcfromtimestamp(t0 - 1000)
    ctx.insert("sps", [{"k": "a", "v": 1, "arrival_timestamp": old_ts},
                       {"k": "b", "v": 2, "arrival_timestamp": old_ts}])
    ctx.insert("sps", [{"k": "a", "v": 3}])  # current step
    ids = set(cv.matrel.bucket_ids())
    assert len(ids) >= 2  # old + current step buckets
    cutoff = t0 - cv.ttl

    reads = []
    orig_read = MatrelStore.read

    def spy(self, buckets=None):
        reads.append(buckets)
        return orig_read(self, buckets)

    monkeypatch.setattr(MatrelStore, "read", spy)
    deleted = ctx.reap_ttl("cv_sps", now=t0)
    monkeypatch.setattr(MatrelStore, "read", orig_read)
    assert deleted == 2
    # every read during the reap was pruned to DOOMED buckets only
    assert reads and all(
        bl is not None and all(b * step < cutoff for b in bl)
        for bl in reads)
    # survivors intact, expired buckets gone from the manifest
    assert {b for b in cv.matrel.bucket_ids()} == \
        {b for b in ids if b * step >= cutoff}
    got = {r["k"]: r["n"] for r in ctx.read_view("cv_sps").collect()}
    assert got == {"a": 1}


def test_sw_read_prunes_expired_buckets_at_manifest(ctx):
    """SW reads list only in-window buckets from the manifest before
    opening any file (plus the exact step filter at the boundary)."""
    import datetime

    ctx.create_stream("spr", "k string, v long")
    ctx.create_view(
        "cv_spr",
        "SELECT k, count(*) AS n FROM spr "
        "WHERE arrival_timestamp > clock_timestamp() - interval "
        "'60 seconds' GROUP BY k")
    cv = ctx.views["cv_spr"]
    t0 = time.time()
    stale = datetime.datetime.utcfromtimestamp(t0 - 500)
    ctx.insert("spr", [{"k": "z", "v": 1, "arrival_timestamp": stale},
                       {"k": "a", "v": 2}])
    # unreaped stale bucket exists, but the read never lists its path
    states = cv.states(at=t0)
    files = {r[0] for r in
             states.select(F.input_file_name()).distinct().collect()}
    stale_id = int((t0 - 500) // float(cv.plan.sw_step_seconds))
    live = {str(b) for b in cv.matrel.bucket_ids()
            if b * float(cv.plan.sw_step_seconds) >=
            t0 - cv.plan.sw_seconds - cv.plan.sw_step_seconds}
    assert str(stale_id) not in live
    assert files  # read plans over the live buckets' files only
    assert {r["k"] for r in ctx.read_view("cv_spr", at=t0).collect()} \
        == {"a"}


def test_matrel_layout_pinned_for_legacy_stores(spark, tmp_path):
    """A store holding buckets from a pre-step-layout engine is pinned
    to hash semantics — replayed roots keep their id meaning."""
    from pipelinedb_spark.matrel import MatrelStore

    ms = MatrelStore(spark, str(tmp_path), "m1", num_buckets=4)
    ms._commit(spark.createDataFrame([(1, 0)], "x int, __bucket int"), [0])
    m = ms._read_manifest()
    m.pop("layout", None)
    ms._write_manifest(m)
    assert ms.ensure_layout("step") == "hash"
    ms2 = MatrelStore(spark, str(tmp_path), "m2", num_buckets=4)
    assert ms2.ensure_layout("step") == "step"


# ---------------------------------------------------------------------------
# SW ticker snapshot lifecycle
# ---------------------------------------------------------------------------

def test_sw_ticker_soak_no_storage_growth(ctx):
    """The ticker must not accumulate storage: the per-tick snapshot
    is a disk parquet swapped in place (the old localCheckpoint chain
    leaked one persisted RDD per tick until GC)."""
    import os

    ctx.track_output_streams = True
    ctx.create_stream("tks", "k string, v long")
    ctx.create_view(
        "cv_tks",
        "SELECT k, count(*) AS n FROM tks "
        "WHERE arrival_timestamp > clock_timestamp() - interval "
        "'600 seconds' GROUP BY k")
    ctx.insert("tks", [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    now = time.time()
    ctx.tick_sw("cv_tks", now=now)  # warm-up: snapshot + first emit
    sc = ctx.spark.sparkContext
    base = len(sc._jsc.sc().getRDDStorageInfo())
    for i in range(30):
        ctx.tick_sw("cv_tks", now=now + 0.001 * (i + 1))
    after = len(sc._jsc.sc().getRDDStorageInfo())
    # old behavior grew ~1 persisted RDD per tick; disk snapshots add 0
    assert after <= base + 2, (base, after)
    osdir = os.path.join(ctx.osrel_root, "cv_tks_osrel")
    snaps = [d for d in os.listdir(osdir) if d.startswith("_snap")]
    assert snaps == ["_snap"]  # exactly one live snapshot on disk


def test_sw_ticker_state_survives_restart(spark, tmp_path):
    """Tick state is the persisted snapshot: a fresh context over the
    same root diffs against the last tick instead of re-emitting every
    group as an insert."""
    from pipelinedb_spark import PipelineContext

    root = str(tmp_path / "tkr")
    ctx = PipelineContext(spark, root=root, num_buckets=4,
                          track_output_streams=True)
    ctx.create_stream("tkr", "k string, v long")
    ctx.create_view(
        "cv_tkr",
        "SELECT k, count(*) AS n FROM tkr "
        "WHERE arrival_timestamp > clock_timestamp() - interval "
        "'600 seconds' GROUP BY k")
    ctx.insert("tkr", [{"k": "a", "v": 1}])
    now = time.time()
    assert ctx.tick_sw("cv_tkr", now=now) == 1  # insert emitted

    ctx2 = PipelineContext(spark, root=root, num_buckets=4,
                           track_output_streams=True)
    # nothing changed since the pre-restart tick → no re-emission
    assert ctx2.tick_sw("cv_tkr", now=now + 1) == 0
    ctx2.insert("tkr", [{"k": "a", "v": 2}])
    assert ctx2.tick_sw("cv_tkr", now=now + 2) == 1  # the update only
    ctx2.close()


def test_bare_datepart_names_truncate_in_cq_sql(ctx):
    """Reference parity: bare year()/month()/day()/hour()/minute()/
    second() in CQ SQL are the reference's TRUNCATION functions
    (pipelinedb--1.0.0.sql:2590-2618), not Spark's integer extracts —
    sw_ts_expr2 (pipeline_regress.sql:187-190) runs verbatim."""
    import datetime

    ctx.create_stream("dpt", "x int")
    ctx.create_view(
        "sw_ts_expr2",
        "SELECT minute(arrival_timestamp) AS minute, count(*) AS count "
        "FROM dpt "
        "WHERE minute(arrival_timestamp) > clock_timestamp() - "
        "interval '5 minute' GROUP BY minute(arrival_timestamp)")
    ctx.insert("dpt", [{"x": 1}, {"x": 1}])
    ctx.insert("dpt", [{"x": 1}, {"x": 1}])
    rows = ctx.read_view("sw_ts_expr2").collect()
    assert sum(r["count"] for r in rows) == 4
    # the group key is a truncated TIMESTAMP (seconds == 0), not an int
    for r in rows:
        assert isinstance(r["minute"], datetime.datetime)
        assert r["minute"].second == 0 and r["minute"].microsecond == 0
    # string literals are untouched by the rewrite
    ctx.create_stream("dpt2", "s string")
    ctx.create_view("dp_lit",
                    "SELECT count(*) AS n FROM dpt2 "
                    "WHERE s != 'minute(x)'")
    ctx.insert("dpt2", [{"s": "minute(x)"}, {"s": "other"}])
    assert ctx.read_view("dp_lit").collect()[0]["n"] == 1


# ---------------------------------------------------------------------------
# Round-6 code-review regressions
# ---------------------------------------------------------------------------

def test_sw_fractional_step_buckets_exact(ctx):
    """Fractional SW steps (e.g. 42 s window → 2.1 s step) must bucket
    every row to its exact step id: floor(epoch/step) over the
    µs-round-tripped STEP misbucketed ~20% of steps, making manifest
    expiry drop in-window rows."""
    import datetime

    ctx.create_stream("frs", "k string")
    ctx.create_view(
        "cv_frs",
        "SELECT k, count(*) AS n FROM frs "
        "WHERE arrival_timestamp > clock_timestamp() - interval "
        "'42 seconds' GROUP BY k")
    cv = ctx.views["cv_frs"]
    step = float(cv.plan.sw_step_seconds)
    assert cv._time_bucketed and abs(step - 2.1) < 1e-9
    t0 = time.time()
    # rows spread across many fractional steps, all in-window
    rows = [{"k": "a", "arrival_timestamp":
             datetime.datetime.utcfromtimestamp(t0 - off)}
            for off in [0.0, 2.5, 5.3, 8.4, 11.9, 14.7, 18.9, 21.0,
                        25.2, 29.4, 33.6, 37.8]]
    ctx.insert("frs", rows)
    # every bucket id must be the exact step id of some row
    ids = set(cv.matrel.bucket_ids())
    expect = {int(round(((t0 - off) // step) * step / step))
              for off in [0.0, 2.5, 5.3, 8.4, 11.9, 14.7, 18.9, 21.0,
                          25.2, 29.4, 33.6, 37.8]}
    assert ids == expect, (sorted(ids), sorted(expect))
    # nothing in-window may be lost by reap or the pruned read
    assert ctx.reap_ttl("cv_frs", now=t0) == 0
    assert ctx.read_view("cv_frs", at=t0).collect()[0]["n"] == len(rows)


def test_gc_grace_runs_from_dereference_time(spark, tmp_path):
    """The GC grace clock starts when a dir becomes UNREFERENCED, not
    when it was written: an old dir dropped from the manifest must
    survive one grace window (a reader may have planned against it a
    moment ago), then reclaim on a later sweep."""
    import os

    from pipelinedb_spark.matrel import MatrelStore

    ms = MatrelStore(spark, str(tmp_path), "g1", num_buckets=4)
    ms.gc_grace_seconds = 0.5
    ms.ensure_layout("step")
    df = spark.createDataFrame([(1, 10), (2, 20)], "x int, __bucket int")
    ms._commit(df, [10, 20])
    vdir = next(e for e in os.listdir(ms.dir) if e.startswith("v"))
    # simulate an OLD dir: written long before the drop
    os.utime(os.path.join(ms.dir, vdir), (0, 0))
    ms.drop_buckets([10, 20])
    # grace: still on disk right after the drop despite ancient mtime
    assert os.path.isdir(os.path.join(ms.dir, vdir))
    time.sleep(0.6)
    ms.gc_sweep()
    assert not os.path.isdir(os.path.join(ms.dir, vdir))


def test_datepart_rewrite_skips_catalog_replay(spark, tmp_path):
    """A pre-rewrite catalog whose bare hour() meant Spark's integer
    extract must replay VERBATIM — the truncation rewrite applies at
    CREATE only (the catalog stores the rewritten form)."""
    import json
    import os

    from pipelinedb_spark import PipelineContext

    root = str(tmp_path / "dprep")
    ctx = PipelineContext(spark, root=root, num_buckets=4)
    ctx.create_stream("dps", "x int")
    # simulate a pre-r6 catalog record with a bare extract-meaning call
    ctx._catalog.append({
        "kind": "view", "name": "old_cv",
        "sql": "SELECT hour(arrival_timestamp) AS h, count(*) AS n "
               "FROM dps GROUP BY hour(arrival_timestamp)",
        "opts": {"sw": None, "step_factor": 5.0, "ttl": None,
                 "ttl_column": None, "pk": None}})
    ctx._catalog_flush()

    ctx2 = PipelineContext(spark, root=root, num_buckets=4)
    ctx2.insert("dps", [{"x": 1}])
    r = ctx2.read_view("old_cv").collect()[0]
    assert isinstance(r["h"], int)  # Spark extract, NOT truncation
    # while a freshly CREATED view gets the reference truncation
    ctx2.create_view("new_cv",
                     "SELECT hour(arrival_timestamp) AS h, count(*) "
                     "AS n FROM dps GROUP BY hour(arrival_timestamp)")
    ctx2.insert("dps", [{"x": 2}])
    import datetime
    r2 = ctx2.read_view("new_cv").collect()[0]
    assert isinstance(r2["h"], datetime.datetime)
    ctx2.close()


def test_rename_view_does_not_corrupt_sibling_dcmb_tokens(ctx):
    """Renaming upstream 'a' must rewrite only __dcmb_a_<col-of-a>
    tokens — a blind prefix sub would also hit sibling view 'a_b'
    tokens in a multi-osrel reader."""
    ctx.create_stream("rns2", "k string, v long")
    ctx.create_view("ra", "SELECT k, sum(v) AS x FROM rns2 GROUP BY k")
    ctx.create_view("ra_b", "SELECT k, count(*) AS n FROM rns2 GROUP BY k")
    sql = ("SELECT combine((o1.delta).x) AS x, combine((o2.delta).n) "
           "AS n FROM ra_osrel o1 JOIN ra_b_osrel o2 "
           "ON (o1.new).k = (o2.new).k")
    rewritten = _delta_rewrite(ctx, sql)
    assert "__dcmb_ra_x" in rewritten and "__dcmb_ra_b_n" in rewritten
    # simulate the rename rewrite over the stored reader SQL
    import re as _re
    cv = ctx.views["ra"]
    out = rewritten
    for call in cv.plan.aggs:
        tok_old = f"__dcmb_ra_{call.out}".lower()
        tok_new = f"__dcmb_rz_{call.out}".lower()
        out = _re.sub(rf"(?i)\b{_re.escape(tok_old)}\s*\(",
                      tok_new + "(", out)
    assert "__dcmb_rz_x" in out
    assert "__dcmb_ra_b_n" in out  # sibling token untouched


# ---------------------------------------------------------------------------
# Concurrent inserts (reference test_stream_buffer.py analog)
# ---------------------------------------------------------------------------

def test_concurrent_inserts_disjoint_streams(ctx):
    """Two threads insert into two streams, each read by two CQs (one
    cheap, one heavier) — every CQ must observe every row exactly once
    (reference test_stream_buffer.py: disjoint CQ sets over concurrent
    writers)."""
    import threading

    for s in ("cb1", "cb2"):
        ctx.create_stream(s, "x long, s string")
        ctx.create_view(f"cnt_{s}", f"SELECT count(*) AS n FROM {s}")
        ctx.create_view(f"agg_{s}",
                        f"SELECT x % 7 AS b, count(*) AS n, "
                        f"max(length(s)) AS ml FROM {s} GROUP BY x % 7")
    n_batches, per_batch = 4, 500
    errs = []

    def writer(stream):
        try:
            for b in range(n_batches):
                ctx.insert(stream, [
                    {"x": b * per_batch + i, "s": "a" * 64}
                    for i in range(per_batch)])
        except Exception as exc:  # surfaced after join
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(s,))
               for s in ("cb1", "cb2")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    total = n_batches * per_batch
    for s in ("cb1", "cb2"):
        assert ctx.read_view(f"cnt_{s}").collect()[0]["n"] == total
        assert sum(r["n"] for r in
                   ctx.read_view(f"agg_{s}").collect()) == total


def test_concurrent_inserts_same_stream(ctx):
    """Two threads hammer ONE stream: the per-view commit lock must
    serialize merges so no batch is lost or double-merged."""
    import threading

    ctx.create_stream("cbs", "x long")
    ctx.create_view("cnt_cbs", "SELECT count(*) AS n, sum(x) AS sx "
                               "FROM cbs")
    n_batches, per_batch = 3, 400
    errs = []

    def writer(offset):
        try:
            for b in range(n_batches):
                base = offset + b * per_batch
                ctx.insert("cbs", [{"x": base + i}
                                   for i in range(per_batch)])
        except Exception as exc:
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(k * 10_000,))
               for k in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    r = ctx.read_view("cnt_cbs").collect()[0]
    expect_n = 2 * n_batches * per_batch
    expect_sx = sum(k * 10_000 * n_batches * per_batch +
                    sum(range(n_batches * per_batch))
                    for k in range(2))
    assert (r["n"], r["sx"]) == (expect_n, expect_sx)


# ---------------------------------------------------------------------------
# Incremental IVF append + keep-best dedup selection
# ---------------------------------------------------------------------------

def test_ivf_append_extends_persisted_index(spark, sf_dir, tmp_path):
    """ivf_append admits a batch under the index's frozen centroids:
    persist(half) + append(half) must answer probes identically to
    persist(full) with the same centroids — the continuous-ingest ANN
    shape (IVF analog of lsh_index_append)."""
    from pipelinedb_spark.operators.similarity import (ivf_append,
                                                       ivf_persist,
                                                       ivf_topk_persisted,
                                                       ivf_train)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    cents = ivf_train(emb, n_lists=8)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)

    inc_path = str(tmp_path / "ivf_inc")
    ivf_persist(half_a, inc_path, centroids=cents, n_lists=8)
    admitted = ivf_append(spark, inc_path, half_b)
    assert admitted == half_b.count()

    full_path = str(tmp_path / "ivf_full")
    ivf_persist(emb, full_path, centroids=cents, n_lists=8)

    q = emb.orderBy("vec_id").limit(5)
    key = lambda rows: sorted((r["q_id"], r["rk"], r["n_id"])
                              for r in rows)
    inc = ivf_topk_persisted(spark, inc_path, q, k=4, nprobe=8).collect()
    full = ivf_topk_persisted(spark, full_path, q, k=4, nprobe=8).collect()
    assert key(inc) == key(full) and len(inc) > 0


def test_dedup_keep_best_selects_highest_quality(spark):
    """Keep-best dedup: the highest-scoring doc of each duplicate
    cluster survives (ties → min id); unpaired docs pass through."""
    from pipelinedb_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, "a", 0.2), (2, "a'", 0.9), (3, "a''", 0.9),
         (4, "b", 0.5), (5, "b'", 0.1), (6, "unique", 0.0)],
        "doc_id long, text string, quality double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "d1 long, d2 long")
    kept = {r["doc_id"] for r in
            dedup_keep_best(docs, pairs, "quality").collect()}
    # cluster {1,2,3}: 2 and 3 tie at 0.9 → min id 2; cluster {4,5}:
    # 4 wins; 6 unpaired
    assert kept == {2, 4, 6}


def test_track_output_streams_keeps_unread_history(ctx):
    """The opt-in retains the tail with zero readers (extension)."""
    ctx.track_output_streams = True
    ctx.create_stream("rg4", "k string, v long")
    ctx.create_view("cv_rg4", "SELECT k, sum(v) AS s FROM rg4 GROUP BY k")
    ctx.insert("rg4", [{"k": "a", "v": 1}])
    ctx.insert("rg4", [{"k": "a", "v": 2}])
    rows = ctx.output_of("cv_rg4").collect()
    assert len(rows) == 2  # insert + update retained without readers
