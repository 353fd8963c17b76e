"""Focused seats for the r15 optimization round's internals changes:

* ``spread_input`` — the guarded round-robin repartition that feeds
  Arrow kernels: must fire only when the source has fewer partitions
  than the cluster parallelism (a no-op at real scale), and must be
  row-preserving.
* matrel read-side schema cache — populated by the first inferred
  read, reused after commits, DROPPED when a commit writes different
  names/types (schema evolution via overwrite).
* ``register_sql_functions`` session guard — second registration on
  the same session is skipped, and a second PipelineContext on the
  session still resolves every engine SQL function.
* ``merge(pin_old=True)`` read-back — the returned ``merged`` frame
  is the committed rows (not the merge plan) and stays correct when
  consumed after the commit, which is what the osrel write relies on.
* ``_broadcast_matrix_scores`` — the size-gated collected-matrix
  scoring kernel in ``neardup_pairs`` must be bit-identical to the
  vector-join path it replaces, and must fall back (return None) on
  every input shape it cannot score exactly.
* osrel dispatch checkpoint gating — synchronous commits dispatch the
  just-written segment read-back without re-checkpointing it (the
  segment IS stable); deferred-commit mode keeps the checkpoint
  because accumulated lazy plans may outlive segment retention.
* list-insert fast path — a driver-side row-list insert into a single
  synchronous view skips the eager input checkpoint (the worker
  materializes the batch exactly once, and a local collection
  recomputes for free); multi-consumer and deferred-commit inserts
  keep it so every consumer reads identical arrival timestamps.
* batch slice sizing — ``_coerce_batch`` derives the local batch's
  partition count from the row count (ceil(n/1000), capped at
  defaultParallelism) instead of spreading 2 rows across 32
  near-empty slices that every downstream job then schedules.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelinedb_spark import PipelineContext
from pipelinedb_spark.matrel import MatrelStore


@pytest.fixture(scope="module")
def spark():
    from pipelinedb_spark import get_spark
    s = get_spark("test_r15_opt")
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_spread_input_fires_only_below_parallelism(spark):
    from pipelinedb_spark.operators import spread_input

    P = spark.sparkContext.defaultParallelism
    few = spark.range(1000).coalesce(1)
    spread = spread_input(few)
    assert spread.rdd.getNumPartitions() == P
    # row-preserving
    assert spread.count() == 1000
    assert sorted(r["id"] for r in spread.collect()) == list(range(1000))

    many = spark.range(1000).repartition(P + 4)
    assert spread_input(many) is many  # guard: no extra exchange


def test_matrel_schema_cache_roundtrip_and_invalidation(spark, tmp_path):
    store = MatrelStore(spark, str(tmp_path), "m1", num_buckets=4)

    def batch(rows, schema):
        df = spark.createDataFrame(rows, schema)
        return df.withColumn("__bucket",
                             F.pmod(F.xxhash64("k"), F.lit(4)).cast("int"))

    def merge_fn(df):
        return df.groupBy("k", "__bucket").agg(F.sum("n").alias("n")) \
            .select("k", "n", "__bucket")

    store.merge(batch([("a", 1), ("b", 2)], "k string, n long"),
                ["k"], merge_fn)
    # first read infers and caches
    r1 = store.read()
    assert store._schema_cache is not None
    cached = [(f.name, f.dataType) for f in store._schema_cache.fields]
    assert ("k", T.StringType()) in cached
    # second merge reads through the cache and stays correct
    store.merge(batch([("a", 10)], "k string, n long"), ["k"], merge_fn)
    got = {r["k"]: r["n"] for r in store.read().collect()}
    assert got == {"a": 11, "b": 2}

    # schema evolution via overwrite drops the cache; next read
    # re-infers the new schema
    new_states = spark.createDataFrame(
        [("a", 5.0)], "k string, x double")
    store.overwrite(new_states, ["k"])
    assert store._schema_cache is None
    cols = set(store.read().columns)
    assert "x" in cols and "n" not in cols


def test_register_sql_functions_session_guard(spark, tmp_path):
    from pipelinedb_spark.functions import (_REGISTERED_SESSIONS,
                                            register_sql_functions)

    register_sql_functions(spark)
    assert spark in _REGISTERED_SESSIONS
    # a second context on the same session must still resolve every
    # engine SQL function (the guard skips re-registration, not the
    # functions)
    ctx = PipelineContext(spark, root=str(tmp_path / "ctx"),
                          num_buckets=4)
    try:
        out = spark.sql(
            "SELECT date_round(TIMESTAMP '2026-01-01 00:07:00', 300.0) "
            "AS t, hash_group('x') AS h").first()
        assert out["t"].minute == 5 and out["h"] is not None
    finally:
        ctx.close()


def test_merge_pin_old_returns_committed_rows(spark, tmp_path):
    store = MatrelStore(spark, str(tmp_path), "m2", num_buckets=4)

    def batch(rows):
        df = spark.createDataFrame(rows, "k string, n long")
        return df.withColumn("__bucket",
                             F.pmod(F.xxhash64("k"), F.lit(4)).cast("int"))

    def merge_fn(df):
        return df.groupBy("k", "__bucket").agg(F.sum("n").alias("n")) \
            .select("k", "n", "__bucket")

    old0, merged0 = store.merge(batch([("a", 1)]), ["k"], merge_fn,
                                pin_old=True)
    assert old0 is None
    assert {(r["k"], r["n"]) for r in merged0.collect()} == {("a", 1)}

    old1, merged1 = store.merge(batch([("a", 2), ("b", 7)]), ["k"],
                                merge_fn, pin_old=True)
    # old is the pre-merge snapshot, merged the committed result;
    # both must stay consumable AFTER the commit (the osrel write
    # runs exactly this way)
    assert {(r["k"], r["n"]) for r in old1.collect()} == {("a", 1)}
    assert {(r["k"], r["n"]) for r in merged1.collect()} == \
        {("a", 3), ("b", 7)}


def _neardup_corpus(spark, n=40, dim=8):
    import math
    rows = []
    for i in range(n):
        if i % 4 == 3:  # every 4th vector is a near-dup of i-1
            base = rows[-1][1]
            vec = [x + 0.001 * ((i + d) % 3 - 1) for d, x in enumerate(base)]
        else:
            vec = [math.sin(i * 0.7 + d * 1.3) for d in range(dim)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_broadcast_matrix_scores_parity(spark, monkeypatch, tmp_path):
    """The collected-matrix kernel and the vector-join path must agree
    BIT-FOR-BIT (same quantized int64 arithmetic, same IEEE divides)."""
    from pipelinedb_spark.operators import similarity as sim

    # parquet-backed corpus: the size gate reads Catalyst stats, which
    # are unknown (treated as infinite — fallback) for in-memory
    # LogicalRDD plans; that conservative default is itself load-bearing
    path = str(tmp_path / "corpus.parquet")
    _neardup_corpus(spark).write.parquet(path)
    corpus = spark.read.parquet(path)
    assert sim._plan_size_bytes(corpus) <= (64 << 20)
    assert sim._plan_size_bytes(_neardup_corpus(spark)) > (64 << 20)
    out_bcast = sim.neardup_pairs(corpus, threshold=0.45, dim=8)
    # the gate fired: scoring is the MapInPandas kernel, no vector join
    assert "MapInPandas" in out_bcast._jdf.queryExecution() \
        .optimizedPlan().toString()
    got_bcast = {(r["id1"], r["id2"]): r["cosine"]
                 for r in out_bcast.collect()}

    # force the fallback (pretend the corpus is over the 64 MB cap)
    monkeypatch.setattr(sim, "_plan_size_bytes", lambda df: 1 << 62)
    out_join = sim.neardup_pairs(corpus, threshold=0.45, dim=8)
    assert "MapInPandas" not in out_join._jdf.queryExecution() \
        .optimizedPlan().toString()
    got_join = {(r["id1"], r["id2"]): r["cosine"]
                for r in out_join.collect()}

    assert got_bcast and got_bcast == got_join  # exact double equality


def test_broadcast_matrix_scores_fallbacks(spark):
    """Every shape the kernel cannot score exactly returns None (the
    caller then uses the vector join); it must never guess."""
    from pipelinedb_spark.operators.similarity import \
        _broadcast_matrix_scores

    pair_ids = spark.createDataFrame([], "id1 long, id2 long")
    # non-integral id type
    s = spark.createDataFrame([("a", [1.0, 0.0])],
                              "vec_id string, embedding array<double>")
    assert _broadcast_matrix_scores(s, pair_ids, "vec_id", "embedding",
                                    0.45) is None
    # ragged vector lengths
    r = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0])],
                              "vec_id long, embedding array<double>")
    assert _broadcast_matrix_scores(r, pair_ids, "vec_id", "embedding",
                                    0.45) is None
    # null vector
    n = spark.createDataFrame([(1, [1.0, 0.0]), (2, None)],
                              "vec_id long, embedding array<double>")
    assert _broadcast_matrix_scores(n, pair_ids, "vec_id", "embedding",
                                    0.45) is None
    # empty corpus
    e = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert _broadcast_matrix_scores(e, pair_ids, "vec_id", "embedding",
                                    0.45) is None


def _spy_segment_checkpoints(ctx, monkeypatch):
    """Returns a probe listing, per osrel segment read back for
    downstream dispatch, whether that frame was checkpointed."""
    calls = _count_checkpoints(monkeypatch)
    readbacks = []
    orig = ctx._read_osrel_segment

    def spy(osrel, seg):
        readbacks.append(orig(osrel, seg))
        return readbacks[-1]

    ctx._read_osrel_segment = spy
    return lambda: [any(c is df for c in calls) for df in readbacks]


def _cascade(ctx):
    ctx.create_stream("ocg_s", "k string, v long")
    ctx.create_view("ocg_up", "SELECT k, count(*) AS n, sum(v) AS sv "
                              "FROM ocg_s GROUP BY k")
    ctx.create_view("ocg_down", "SELECT combine((delta).n) AS n, "
                                "combine((delta).sv) AS sv "
                                "FROM output_of('ocg_up')")


def test_osrel_dispatch_skips_checkpoint_when_synchronous(
        spark, monkeypatch, tmp_path):
    """commit_interval_batches=1: the dispatched frame is the
    just-written segment read-back (a stable parquet snapshot) — no
    re-checkpoint job; downstream results exact."""
    ctx = PipelineContext(spark, root=str(tmp_path / "sync"),
                          num_buckets=4)
    try:
        _cascade(ctx)
        seen = _spy_segment_checkpoints(ctx, monkeypatch)
        ctx.insert("ocg_s", [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
        ctx.insert("ocg_s", [{"k": "a", "v": 3}])
        assert seen() and not any(seen())
        r = ctx.read_view("ocg_down").collect()[0]
        assert (r["n"], r["sv"]) == (3, 6)
    finally:
        ctx.close()


def test_osrel_dispatch_keeps_checkpoint_when_deferred(
        spark, monkeypatch, tmp_path):
    """commit_interval_batches>1: accumulated lazy plans can outlive
    later segment writes, so the checkpoint must stay."""
    ctx = PipelineContext(spark, root=str(tmp_path / "defer"),
                          num_buckets=4, commit_interval_batches=2)
    try:
        _cascade(ctx)
        seen = _spy_segment_checkpoints(ctx, monkeypatch)
        for i in range(4):  # two upstream commits, two osrel emissions
            ctx.insert("ocg_s", [{"k": "a", "v": i}, {"k": "b", "v": i}])
        assert seen() and all(seen())
        r = ctx.read_view("ocg_down").collect()[0]
        assert (r["n"], r["sv"]) == (8, 12)
    finally:
        ctx.close()


def _count_checkpoints(monkeypatch):
    """Record the frames localCheckpoint is called on (classic
    DataFrame)."""
    import pyspark.sql.classic.dataframe as cdf
    calls = []
    orig = cdf.DataFrame.localCheckpoint

    def spy(self, eager=True):
        calls.append(self)
        return orig(self, eager=eager)

    monkeypatch.setattr(cdf.DataFrame, "localCheckpoint", spy)
    return calls


def test_list_insert_single_view_skips_input_checkpoint(
        spark, monkeypatch, tmp_path):
    """One synchronous view: the only checkpoint job per insert is the
    worker's own partial-state materialization — the input batch rides
    into it un-checkpointed (exact results unchanged)."""
    ctx = PipelineContext(spark, root=str(tmp_path / "one"), num_buckets=4)
    try:
        ctx.create_stream("li_s", "k string, v long")
        ctx.create_view("li_cv", "SELECT k, count(*) AS n, sum(v) AS sv "
                                 "FROM li_s GROUP BY k")
        calls = _count_checkpoints(monkeypatch)
        ctx.insert("li_s", [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
        ctx.insert("li_s", [{"k": "a", "v": 3}])
        # exactly one checkpoint per insert: the worker's delta
        assert len(calls) == 2
        got = {r["k"]: (r["n"], r["sv"])
               for r in ctx.read_view("li_cv").collect()}
        assert got == {"a": (2, 4), "b": (1, 2)}
    finally:
        ctx.close()


def test_list_insert_multi_view_keeps_input_checkpoint(
        spark, monkeypatch, tmp_path):
    """Two views: the input must materialize once so both consumers
    read the same arrival timestamps — checkpoint stays (1 input + 2
    worker checkpoints per insert)."""
    ctx = PipelineContext(spark, root=str(tmp_path / "two"), num_buckets=4)
    try:
        ctx.create_stream("lm_s", "k string, v long")
        ctx.create_view("lm_cv1", "SELECT k, count(*) AS n "
                                  "FROM lm_s GROUP BY k")
        ctx.create_view("lm_cv2", "SELECT count(*) AS n, "
                                  "max(arrival_timestamp) AS ts FROM lm_s")
        calls = _count_checkpoints(monkeypatch)
        ctx.insert("lm_s", [{"k": "a", "v": 1}])
        assert len(calls) == 3
        assert ctx.read_view("lm_cv1").collect()[0]["n"] == 1
        assert ctx.read_view("lm_cv2").collect()[0]["n"] == 1
    finally:
        ctx.close()


def test_coerce_batch_slices_follow_row_count(spark, tmp_path):
    """2 rows -> 1 slice; a bulk list insert still spreads (ceil(n/1000)
    capped at defaultParallelism) so big batches keep their
    parallelism on any core count."""
    ctx = PipelineContext(spark, root=str(tmp_path / "sl"), num_buckets=4)
    try:
        ctx.create_stream("sl_s", "k string, v long")
        sd = ctx.streams["sl_s"]
        small = ctx._coerce_batch(sd, [{"k": "a", "v": 1},
                                       {"k": "b", "v": 2}], None)
        assert small.rdd.getNumPartitions() == 1
        big = ctx._coerce_batch(
            sd, [{"k": f"k{i}", "v": i} for i in range(5000)], None)
        P = spark.sparkContext.defaultParallelism
        assert big.rdd.getNumPartitions() == min(P, 5)
    finally:
        ctx.close()


def test_lsh_verified_jaccard_bit_identical_to_allpairs(spark, sf_dir):
    """The §9 array_intersect verification must reproduce the exact
    all-pairs jaccard BIT-IDENTICALLY for every surfaced pair (same
    gram-hash kernel seed as shingle_index, same integer |A∩B| /
    (|A|+|B|−|A∩B|) arithmetic), and surface every pair the exact
    path finds at J ≥ 0.7 (the LSH recall contract)."""
    from pipelinedb_spark.operators.dedup import (jaccard_pairs,
                                                  lsh_verified_pairs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    ver = {(r["d1"], r["d2"]): r["jaccard"]
           for r in lsh_verified_pairs(docs, threshold=0.5).collect()}
    exact = {(r["d1"], r["d2"]): r["jaccard"]
             for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert ver, "fixture corpus should contain near-dup pairs"
    for pair, j in ver.items():
        assert pair in exact and exact[pair] == j, (pair, j)
    for pair, j in exact.items():
        if j >= 0.7:
            assert pair in ver, (pair, j)


def test_gram_array_index_matches_shingle_index(spark, sf_dir):
    """gram_array_index is the exploded shingle_index regrouped: same
    doc set (short docs absent from both), same distinct gram hashes
    per doc."""
    from pipelinedb_spark.operators.dedup import (gram_array_index,
                                                  shingle_index)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").limit(200)
    arrs = {r["doc_id"]: sorted(r["grams"])
            for r in gram_array_index(docs).collect()}
    exploded: dict = {}
    for r in shingle_index(docs).collect():
        exploded.setdefault(r["doc_id"], []).append(r["s"])
    assert set(arrs) == set(exploded)
    for d, grams in exploded.items():
        assert sorted(grams) == arrs[d], d


def test_tdigest_partial_states_two_phase(spark):
    """§10 two-phase t-digest: per-task partial digests merged per key
    must estimate quantiles within the digest's error bound (rank
    error ≪ the 2% oracle bound), handle null keys like the grouped
    UDAF did, and emit exactly one state row per key."""
    import numpy as np
    from pipelinedb_spark.sketches.registration import (
        tdigest_partial_states, _tdigest_quantile_pdf)
    from pyspark.sql import functions as F
    rng = np.random.RandomState(7)
    rows = ([("a", float(x)) for x in rng.normal(100, 15, 20000)]
            + [("b", float(x)) for x in rng.exponential(10, 20000)]
            + [(None, float(x)) for x in rng.uniform(0, 1, 5000)])
    df = spark.createDataFrame(rows, "k string, v double")
    # cap 0 forces the two-phase path (this corpus sits under the
    # 32 MiB r16 default, where the gate keeps the one-phase UDAF)
    states = tdigest_partial_states(df, "k", "v", 200.0,
                                    one_phase_cap=0)
    assert "MapInPandas" in states._jdf.queryExecution() \
        .executedPlan().toString()
    got = {r["k"]: r["td"] for r in states.collect()}
    assert set(got) == {"a", "b", None}
    est = {r["k"]: r["p50"] for r in states.select(
        "k", _tdigest_quantile_pdf(0.5)(F.col("td")).alias("p50")).collect()}
    by_key: dict = {}
    for k, v in rows:
        by_key.setdefault(k, []).append(v)
    for k, vals in by_key.items():
        exact = float(np.median(vals))
        rank = float(np.mean(np.asarray(vals) <= est[k]))
        assert abs(rank - 0.5) < 0.02, (k, est[k], exact, rank)


def test_tdigest_one_phase_gate_on_small_scan(spark, sf_dir):
    """Below the 32 MiB r16 default the gate keeps the one-phase
    grouped UDAF (no MapInPandas, no extra exchange — the measured-
    faster shape at bench scale); a LocalRelation's UNKNOWN size
    estimate fails toward the scalable two-phase path (covered by the
    seat above via cap=0 and by `_plan_size_bytes`'s contract)."""
    from pipelinedb_spark.sketches.registration import \
        tdigest_partial_states
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    one = tdigest_partial_states(ev, "event_type", "value", 200.0)
    assert "MapInPandas" not in one._jdf.queryExecution() \
        .executedPlan().toString()


def test_query_matrix_topk_parity_and_edges(spark):
    """§11 kernel: per-task top-k candidates must yield a final top-k
    ROW-IDENTICAL to the crossJoin+HOF path, including corpus rows the
    join scores to NULL cosine (ragged/null/zero-norm vectors — they
    backfill below-k), null ids (dropped by the join's q!=n filter),
    and self-pair exclusion."""
    import pipelinedb_spark.operators.similarity as sim
    from pyspark.sql import functions as F
    rows = []
    for i in range(40):
        rows.append((i, [float((i * 7 + j * 3) % 11) - 5.0
                         for j in range(8)]))
    rows += [(100, None),                      # null vector
             (101, [1.0, 2.0]),                # ragged (wrong length)
             (102, [0.0] * 8),                 # zero norm
             (None, [1.0] * 8)]                # null id
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3)
    # LocalRelation size is unknown -> the gate fails toward the
    # kernel, so the default call exercises it; force the join path
    # for the reference run
    new = sorted(tuple(r) for r in
                 sim.brute_force_topk(df, q, k=41, exact=True).collect())
    assert any(r[3] is None for r in new), "below-k NULL backfill rows"
    orig = sim._query_matrix_topk
    sim._query_matrix_topk = lambda *a, **k: None
    try:
        old = sorted(tuple(r) for r in
                     sim.brute_force_topk(df, q, k=41, exact=True).collect())
    finally:
        sim._query_matrix_topk = orig
    assert new == old
    # and on a clean corpus with small k
    new5 = sorted(tuple(r) for r in
                  sim.brute_force_topk(df.filter(F.col("vec_id") < 50),
                                       q, k=5, exact=True).collect())
    sim._query_matrix_topk = lambda *a, **k: None
    try:
        old5 = sorted(tuple(r) for r in
                      sim.brute_force_topk(df.filter(F.col("vec_id") < 50),
                                           q, k=5, exact=True).collect())
    finally:
        sim._query_matrix_topk = orig
    assert new5 == old5
