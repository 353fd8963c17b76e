"""Focused seats for the r16 optimization round's internals changes:

* NULL-group-key change-feed oracle — pins `_osrel_rows`' equi-join
  NULL semantics (a key tuple containing NULL never matches across
  old/new/delta, so NULL-keyed groups always emit insert-style rows
  with old = delta = NULL, re-emitted whenever their bucket is
  re-touched) against a duckdb relational replay.  Landed BEFORE the
  union+groupBy rewrite of `_osrel_rows` so the rewrite provably
  preserves the feed byte-for-byte (r15 verdict task 1).
* same-key change-feed seat — one key in the old, new and delta
  sources at once, with NULL struct fields: `first(ignorenulls)` takes
  each struct whole from its own source, never mixing fields.
* commit-pipeline job count — statusTracker job-count ceiling for one
  warm cascade insert (upstream CV + downstream delta-combine CV),
  the deterministic evidence the wall-clock noise floor cannot give.
* `_query_matrix_topk` per-task output bound — the pooled candidates
  are re-truncated to k per query after every batch, so a task emits
  at most k rows per query no matter how many Arrow batches it saw
  (r15 verdict task 3: the per-batch append grew per-task output to
  k x n_batches).
* `_broadcast_matrix_scores` hardening — NaN corpus vectors fall back
  to the vector join (NaN ordering differs between numpy int-cast and
  Spark's NaN-above-everything), TypeError falls back like ValueError,
  duplicate corpus ids fall back, and a pair id absent from the
  matrix raises instead of silently scoring a neighbor (ADVICE r15).
* empty-DataFrame insert fast path — an empty DataFrame insert into a
  single synchronous global-agg view must not commit a zero-count
  matrel row (the pre-r15 n==0 early return, restored without the
  input-count job the fast path removed); into a grouped view it
  returns 0 even when Spark prunes the observed count node.
* one ingest path — a 2-view DataFrame insert and a 1-view streaming
  epoch cost exactly the jobs of the matching list insert.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pipelinedb_spark import PipelineContext


@pytest.fixture(scope="module")
def spark():
    from pipelinedb_spark import get_spark
    s = get_spark("test_r16_opt")
    s.sparkContext.setLogLevel("ERROR")
    return s


# ---------------------------------------------------------------------------
# NULL-group-key change-feed oracle (duckdb replay)
# ---------------------------------------------------------------------------

# explicit batch schedule: batch 1 seeds group 'a' and the NULL group,
# batch 2 adds 'b' and touches NULL again, batch 3 touches only 'a' —
# the NULL group must STILL re-emit in batch 3 (its bucket is affected;
# num_buckets=1 makes every bucket affected, so the replay is purely
# relational with no hash-bucket modelling)
_NK_BATCHES = [
    [("a", 1), ("a", 2), (None, 5)],
    [("b", 3), (None, 7)],
    [("a", 4)],
]


def test_changefeed_null_group_key_duckdb_replay(spark, tmp_path):
    """The osrel feed for a GROUP BY key that takes NULL values,
    replayed relationally in duckdb.  Current (and contractual)
    semantics: old/new/delta are attached by PLAIN equi-joins on the
    key columns, and SQL equi-joins never match NULL keys — so a
    NULL-keyed group emits (old=NULL, new=cumulative agg, delta=NULL,
    delta_states=NULL) in EVERY batch that re-touches its bucket, and
    is never elided (old IS NULL passes the elision filter).  Non-NULL
    groups keep the standard insert/update/elision feed."""
    ctx = PipelineContext(spark, root=str(tmp_path / "nk"), num_buckets=1,
                          track_output_streams=True)
    try:
        ctx.create_stream("nk_s", "k string, v long")
        ctx.create_view("nk_cv", "SELECT k, count(*) AS cnt, "
                                 "sum(v) AS sv FROM nk_s GROUP BY k")
        for batch in _NK_BATCHES:
            ctx.insert("nk_s", [{"k": k, "v": v} for k, v in batch])
        key = lambda t: (t[0], t[1] is None, t[1] or "")
        got = sorted(
            ((int(r["_seq"]), r["new"]["k"],
              None if r["old"] is None
              else (r["old"]["cnt"], r["old"]["sv"]),
              (r["new"]["cnt"], r["new"]["sv"]),
              None if r["delta"] is None
              else (r["delta"]["cnt"], r["delta"]["sv"]),
              r["delta_states"] is None)
             for r in ctx.output_of("nk_cv", with_seq=True).collect()),
            key=key)
    finally:
        ctx.close()

    values = ", ".join(f"({i}, {'NULL' if k is None else repr(k)}, {v})"
                       for i, batch in enumerate(_NK_BATCHES)
                       for k, v in batch)
    con = duckdb.connect()
    rows = con.sql(f"""
WITH src(b, k, v) AS (VALUES {values}),
batches(b) AS (SELECT DISTINCT b FROM src),
cum AS (SELECT i.b, s.k, COUNT(*) AS c, SUM(v) AS sv
        FROM batches i JOIN src s ON s.b <= i.b GROUP BY i.b, s.k),
bat AS (SELECT b, k, COUNT(*) AS c, SUM(v) AS sv FROM src GROUP BY b, k)
-- non-NULL groups: emitted when the cumulative aggregate moved;
-- old = previous cumulative row, delta = this batch's partial
SELECT c.b, c.k, p.c AS old_c, p.sv AS old_sv, c.c AS new_c,
       c.sv AS new_sv, t.c AS d_c, t.sv AS d_sv
FROM cum c
LEFT JOIN cum p ON p.k = c.k AND p.b = c.b - 1
LEFT JOIN bat t ON t.k = c.k AND t.b = c.b
WHERE c.k IS NOT NULL
  AND (p.c IS DISTINCT FROM c.c OR p.sv IS DISTINCT FROM c.sv)
UNION ALL
-- the NULL group: insert-style every batch from first appearance
SELECT c.b, c.k, NULL, NULL, c.c, c.sv, NULL, NULL
FROM cum c WHERE c.k IS NULL
ORDER BY 1, 2
""").fetchall()
    want = sorted(
        ((int(b), k,
          None if oc is None else (int(oc), int(osv)),
          (int(nc), int(nsv)),
          None if dc is None else (int(dc), int(dsv)),
          dc is None)  # delta_states NULL exactly when delta is NULL
         for b, k, oc, osv, nc, nsv, dc, dsv in rows),
        key=key)
    assert got == want
    # the seat has teeth: NULL-group rows exist in every batch, and a
    # batch-3 NULL re-emission (untouched group) is present
    assert [g for g in got if g[1] is None and g[0] == 2]


def test_changefeed_same_key_null_fields_never_mix(spark, tmp_path):
    """One key present in the old, new and delta sources of
    `_osrel_rows` at once, each struct holding NULL-valued fields:
    `first(ignorenulls=True)` skips only NULL structs, so each of
    old/new/delta comes whole from its own source and no field is
    filled in from another."""
    ctx = PipelineContext(spark, root=str(tmp_path / "sk"), num_buckets=1,
                          track_output_streams=True)
    try:
        ctx.create_stream("sk_s", "k string, v long")
        ctx.create_view("sk_cv", "SELECT k, count(*) AS cnt, sum(v) AS sv, "
                                 "max(v) AS mx FROM sk_s GROUP BY k")
        for v in (None, 5, None):
            ctx.insert("sk_s", [{"k": "a", "v": v}])
        got = [(None if r["old"] is None else tuple(r["old"]),
                tuple(r["new"]), tuple(r["delta"]),
                r["delta_states"] is None)
               for r in sorted(ctx.output_of("sk_cv", with_seq=True)
                               .collect(), key=lambda r: r["_seq"])]
    finally:
        ctx.close()
    assert got == [
        (None, ("a", 1, None, None), ("a", 1, None, None), False),
        (("a", 1, None, None), ("a", 2, 5, 5), ("a", 1, 5, 5), False),
        (("a", 2, 5, 5), ("a", 3, 5, 5), ("a", 1, None, None), False),
    ]


# ---------------------------------------------------------------------------
# commit-pipeline job count (deterministic evidence for the
# _osrel_rows union+groupBy rewrite)
# ---------------------------------------------------------------------------

def _last_job_id(spark) -> int:
    sc = spark.sparkContext
    # job-start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _jobs_for(spark, fn) -> int:
    """Run ``fn`` and return the number of Spark jobs it submitted, on
    any thread (statusTracker — deterministic where wall time swings
    with ambient load).  Job ids are a session-wide sequence, so the
    watermark before and after also counts the jobs that
    parallel_dispatch runs on pool threads; a job group would not, as
    it is thread-local."""
    before = _last_job_id(spark)
    fn()
    return _last_job_id(spark) - before


def test_cascade_insert_job_count_ceiling(spark, tmp_path):
    """One warm list insert through the delta_stream_combine cascade
    (upstream grouped CV -> osrel -> downstream delta-combine CV) must
    submit at most 11 Spark jobs (was 13 before the r16 _osrel_rows
    union+groupBy rewrite; r15 verdict task 1's done-bar)."""
    ctx = PipelineContext(spark, root=str(tmp_path / "jc"), num_buckets=16)
    try:
        ctx.create_stream("jc_s", "k long, v double")
        ctx.create_view("jc_up", "SELECT k, count(*) AS cnt, "
                                 "sum(v) AS sv FROM jc_s GROUP BY k")
        ctx.create_view("jc_down",
                        "SELECT (new).k % 2 AS parity, "
                        "combine((delta).cnt) AS cnt, "
                        "combine((delta).sv) AS sv "
                        "FROM output_of('jc_up') GROUP BY parity")
        # warm-up insert: session-once costs (fn registration, first
        # matrel version, osrel schema record) stay out of the count
        ctx.insert("jc_s", [{"k": 1, "v": 1.0}, {"k": 2, "v": 2.0}])
        n_jobs = _jobs_for(
            spark, lambda: ctx.insert(
                "jc_s", [{"k": 1, "v": 3.0}, {"k": 3, "v": 4.0}]))
        assert n_jobs <= 11, n_jobs
        down = {r["parity"]: (r["cnt"], r["sv"])
                for r in ctx.read_view("jc_down").collect()}
        assert down == {0: (1, 2.0), 1: (3, 8.0)}
    finally:
        ctx.close()


# ---------------------------------------------------------------------------
# _query_matrix_topk: per-task emitted-row bound
# ---------------------------------------------------------------------------

def test_query_matrix_topk_bounded_rows_multibatch(spark, tmp_path,
                                                   monkeypatch):
    """With many Arrow batches per task, a task must emit at most
    k non-NULL candidate rows per query (the pooled per-batch top-ks
    are re-truncated), not k x n_batches."""
    import pipelinedb_spark.operators.similarity as sim

    n, dim, k = 400, 8, 3
    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(dim)])
            for i in range(n)]
    # parquet-backed: the query-side 64 MB gate reads Catalyst stats,
    # unknown (infinite) for in-memory plans
    path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(path)
    df = spark.read.parquet(path).coalesce(1)
    q = df.filter(F.col("vec_id") < 4)
    # force multiple small Arrow batches through one task
    old_conf = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                              None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        cand = sim._query_matrix_topk(df, q, k, "vec_id", "embedding")
        assert cand is not None
        per_q = {r["q_id"]: r["n"] for r in
                 cand.filter(F.col("cosine").isNotNull())
                 .groupBy("q_id").agg(F.count("*").alias("n")).collect()}
        # one task (coalesce(1)) x 4 queries: exactly k rows per query
        assert per_q and all(v == k for v in per_q.values()), per_q
        # and the final top-k is row-identical to the join path
        # (gate forced ON so the kernel actually runs at this size)
        monkeypatch.setenv("SPARK_GRAFT_ANN_MATRIX_MIN_BYTES", "0")
        new = sorted(tuple(r) for r in
                     sim.brute_force_topk(df, q, k=k, exact=True).collect())
        orig = sim._query_matrix_topk
        sim._query_matrix_topk = lambda *a, **kw: None
        try:
            old = sorted(tuple(r) for r in
                         sim.brute_force_topk(df, q, k=k,
                                              exact=True).collect())
        finally:
            sim._query_matrix_topk = orig
        assert new == old
    finally:
        if old_conf is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                           old_conf)


# ---------------------------------------------------------------------------
# _broadcast_matrix_scores hardening (ADVICE r15)
# ---------------------------------------------------------------------------

def test_broadcast_matrix_scores_nan_and_dup_fallback(spark):
    from pipelinedb_spark.operators.similarity import \
        _broadcast_matrix_scores

    pair_ids = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
    # NaN element: numpy int64-cast of NaN is undefined garbage, and
    # the vector-join path treats NaN differently (Spark orders NaN
    # above all doubles) — must fall back, never guess
    nan = spark.createDataFrame(
        [(1, [1.0, float("nan")]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    assert _broadcast_matrix_scores(nan, pair_ids, "vec_id", "embedding",
                                    0.45) is None
    # duplicate corpus ids: the join path emits one row per duplicate
    # match; searchsorted would pick one arbitrarily — fall back
    dup = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    assert _broadcast_matrix_scores(dup, pair_ids, "vec_id", "embedding",
                                    0.45) is None
    # odd vector shapes raising TypeError inside np.array must fall
    # back like ValueError (not crash the query)
    odd = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    import numpy as np
    import pipelinedb_spark.operators.similarity as sim
    orig = np.array

    def raising(obj, *a, **kw):
        if isinstance(obj, list) and obj and isinstance(obj[0], list):
            raise TypeError("synthetic odd-shape failure")
        return orig(obj, *a, **kw)

    sim.np.array = raising
    try:
        assert _broadcast_matrix_scores(odd, pair_ids, "vec_id",
                                        "embedding", 0.45) is None
    finally:
        sim.np.array = orig


def test_broadcast_matrix_scores_missing_pair_id_raises(spark):
    """A pair id absent from the collected matrix must raise inside the
    kernel (today impossible — pair_ids derives from the corpus — but
    a silent neighbor-score would corrupt results if a future caller
    broke that invariant)."""
    from pipelinedb_spark.operators.similarity import \
        _broadcast_matrix_scores

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (5, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    foreign = spark.createDataFrame([(1, 99)], "id1 long, id2 long")
    out = _broadcast_matrix_scores(corpus, foreign, "vec_id", "embedding",
                                   0.0)
    assert out is not None
    with pytest.raises(Exception, match="(?i)pair id|kernel"):
        out.collect()
    ok = _broadcast_matrix_scores(
        corpus, spark.createDataFrame([(1, 2), (2, 5)],
                                      "id1 long, id2 long"),
        "vec_id", "embedding", 0.0)
    got = {(r["id1"], r["id2"]): r["cosine"] for r in ok.collect()}
    assert got[(1, 2)] == 1.0 and got[(2, 5)] == 0.0


# ---------------------------------------------------------------------------
# json_object_sums: size-gated two-level aggregation
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("qname,cap_env", [
    ("json_object_sums", "SPARK_GRAFT_JSONSUM_ONE_SHOT_CAP"),
    ("bucket_agg_latest", "SPARK_GRAFT_BUCKETAGG_ONE_SHOT_CAP"),
])
def test_sharded_one_shot_two_level_exact(spark, sf_dir, monkeypatch,
                                          qname, cap_env):
    """The salted partial -> spec-merge two-level shape (engaged above
    the 32 MiB gate; the one-shot partial's collect_list held a whole
    group's entries, heap-OOMing the 10M-row sweep) must produce the
    EXACT same rows as the one-shot plan, and the gate must keep the
    one-shot plan at fixture scale."""
    from pipelinedb_spark.querybank import Q

    fn = Q[qname]
    monkeypatch.delenv(cap_env, raising=False)
    one_df = fn(spark, sf_dir)
    assert "__shard" not in one_df._jdf.queryExecution() \
        .optimizedPlan().toString()
    one = sorted(tuple(r) for r in one_df.collect())
    monkeypatch.setenv(cap_env, "0")
    two_df = fn(spark, sf_dir)
    assert "__shard" in two_df._jdf.queryExecution() \
        .optimizedPlan().toString()
    two = sorted(tuple(r) for r in two_df.collect())
    assert one and one == two


# ---------------------------------------------------------------------------
# empty-DataFrame insert fast path (ADVICE r15)
# ---------------------------------------------------------------------------

def test_empty_df_insert_single_view_commits_nothing(spark, tmp_path):
    """An empty DataFrame insert into a single synchronous GLOBAL-AGG
    view must not write a matrel version (a global aggregate over an
    empty batch still produces one zero-count delta row, which the
    r15 fast path merged; pre-r15 the count job's n==0 early return
    skipped it — restore the skip without restoring the count job)."""
    ctx = PipelineContext(spark, root=str(tmp_path / "em"), num_buckets=4)
    try:
        ctx.create_stream("em_s", "k string, v long")
        ctx.create_view("em_cv", "SELECT count(*) AS n, sum(v) AS sv "
                                 "FROM em_s")
        empty = spark.createDataFrame([], "k string, v long")
        assert ctx.insert("em_s", empty) == 0
        cv = ctx.views["em_cv"]
        assert cv.matrel.is_empty()          # no zero-state row
        assert ctx.read_view("em_cv").count() == 0
        # non-empty inserts still work, and a later empty one is a no-op
        ctx.insert("em_s", spark.createDataFrame([("a", 2)],
                                                 "k string, v long"))
        v1 = cv.matrel._read_manifest()["version"]
        assert ctx.insert("em_s", empty) == 0
        assert cv.matrel._read_manifest()["version"] == v1
        r = ctx.read_view("em_cv").collect()[0]
        assert (r["n"], r["sv"]) == (1, 2)
    finally:
        ctx.close()


def test_empty_df_insert_grouped_single_view_returns_zero(spark, tmp_path):
    """An empty DataFrame, and a non-empty one whose filter folds to
    empty, inserted into a stream read by one GROUPED view: Spark
    proves the input empty and prunes the observed count node below
    the aggregate, so the count Observation completes with a
    zero-length row.  Each insert must return 0 and write no matrel
    version."""
    ctx = PipelineContext(spark, root=str(tmp_path / "eg"), num_buckets=4)
    try:
        ctx.create_stream("eg_s", "k string, v long")
        ctx.create_view("eg_cv", "SELECT k, count(*) AS n FROM eg_s "
                                 "GROUP BY k")
        ctx.insert("eg_s", [{"k": "a", "v": 1}])
        cv = ctx.views["eg_cv"]
        v1 = cv.matrel._read_manifest()["version"]
        empty = spark.createDataFrame([], "k string, v long")
        folded = spark.createDataFrame([("a", 1)], "k string, v long") \
            .filter(F.col("v") > 100)
        assert ctx.insert("eg_s", empty) == 0
        assert ctx.insert("eg_s", folded) == 0
        assert cv.matrel._read_manifest()["version"] == v1
        assert [tuple(r) for r in ctx.read_view("eg_cv").collect()] \
            == [("a", 1)]
    finally:
        ctx.close()


# ---------------------------------------------------------------------------
# one ingest path: every entry costs the jobs of a list insert
# ---------------------------------------------------------------------------

def _ingest_jobs_pair(spark, tmp_path, views: int, second) -> tuple:
    """Job counts of a warm list insert into one stream and of
    ``second(ctx, stream, rows)`` into a twin stream whose ``views``
    identical grouped views hold identical state."""
    ctx = PipelineContext(spark, root=str(tmp_path / "ip"), num_buckets=4)
    rows = [{"k": "a", "v": 1}, {"k": "b", "v": 2}]
    try:
        for s in ("ip_list", "ip_other"):
            ctx.create_stream(s, "k string, v long")
            for i in range(views):
                ctx.create_view(f"{s}_cv{i}", "SELECT k, count(*) AS n, "
                                f"sum(v) AS sv FROM {s} GROUP BY k")
            ctx.insert(s, rows)  # warm-up: first matrel version
        n_list = _jobs_for(spark, lambda: ctx.insert("ip_list", rows))
        n_other = _jobs_for(spark, lambda: second(ctx, "ip_other", rows))
        for s in ("ip_list", "ip_other"):
            got = {r["k"]: (r["n"], r["sv"])
                   for r in ctx.read_view(f"{s}_cv0").collect()}
            assert got == {"a": (2, 2), "b": (2, 4)}, (s, got)
        return n_list, n_other
    finally:
        ctx.close()


def test_df_insert_costs_list_insert_jobs(spark, tmp_path):
    """A 2-view DataFrame insert materializes its input once, with the
    row count riding that checkpoint: the same jobs as a 2-view list
    insert (the former separate count job made it 2 more)."""
    def df_insert(ctx, stream, rows):
        assert ctx.insert(stream, spark.createDataFrame(
            [(r["k"], r["v"]) for r in rows], "k string, v long")) == 2

    n_list, n_df = _ingest_jobs_pair(spark, tmp_path, 2, df_insert)
    assert n_df == n_list, (n_df, n_list)


def test_streaming_epoch_costs_list_insert_jobs(spark, tmp_path):
    """A Structured Streaming epoch into a 1-view stream follows the
    insert() rule: no emptiness probe and no input checkpoint, the
    count riding the view's worker checkpoint — the same jobs as a
    1-view list insert.  The foreachBatch handler is driven directly
    with a DataFrame."""
    from pipelinedb_spark.streaming.runtime import _foreach_batch

    def epoch(ctx, stream, rows):
        handler = _foreach_batch(ctx, stream, str(tmp_path / "ip_ck"))
        handler(spark.createDataFrame([(r["k"], r["v"]) for r in rows],
                                      "k string, v long"), 0)

    n_list, n_epoch = _ingest_jobs_pair(spark, tmp_path, 1, epoch)
    assert n_epoch == n_list, (n_epoch, n_list)


# ---------------------------------------------------------------------------
# jaccard_pairs size prefilter (r16): exactness vs a brute-force
# python oracle on a varied-size corpus, including pairs right at the
# size-ratio boundary the prefilter cuts on
# ---------------------------------------------------------------------------

def _py_grams(text: str, n: int = 3) -> set:
    ws = text.split(" ")
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_jaccard_pairs_size_prefilter_exact(spark, threshold):
    """The join-side size prefilter (t·|x| ≤ |y| ≤ |x|/t) must never
    drop a qualifying pair: differential-check jaccard_pairs against
    a brute-force python jaccard over a corpus with doc sizes spread
    4–60 grams, containing near-dup pairs whose SIZES sit exactly at
    the ratio boundary (|y| = t·|x|) as well as well inside it."""
    import itertools
    import random

    from pipelinedb_spark.operators.dedup import jaccard_pairs

    rnd = random.Random(1616)
    vocab = [f"w{i}" for i in range(120)]
    docs = []
    # random base docs, sizes 6..62 tokens
    for i in range(40):
        k = rnd.randrange(6, 63)
        docs.append((i, " ".join(rnd.choice(vocab) for _ in range(k))))
    # near-dup families: clone + prefix-extend so pair sizes straddle
    # the ratio boundary (a doc of g grams vs its extension to ~g/t)
    for i in range(40, 52, 3):
        base = ["b%d_%d" % (i, j) for j in range(12)]
        docs.append((i, " ".join(base)))
        docs.append((i + 1, " ".join(base + base[:1])))
        docs.append((i + 2, " ".join(
            base + ["x%d_%d" % (i, j) for j in range(12)])))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    grams = {d: _py_grams(t) for d, t in docs}
    grams = {d: g for d, g in grams.items() if g}
    want = {}
    for d1, d2 in itertools.combinations(sorted(grams), 2):
        inter = len(grams[d1] & grams[d2])
        if inter == 0:
            continue
        j = inter / (len(grams[d1]) + len(grams[d2]) - inter)
        if j >= threshold:
            want[(d1, d2)] = j
    got = {(r["d1"], r["d2"]): r["jaccard"]
           for r in jaccard_pairs(df, threshold=threshold).collect()}
    assert want, "fixture must contain qualifying pairs"
    assert got == want


# ---------------------------------------------------------------------------
# dedup_clusters: one job per round (the convergence probe rides the
# round's checkpoint as an Observation — no separate take(1) job)
# ---------------------------------------------------------------------------

def test_dedup_clusters_fused_convergence_job_ceiling(spark):
    """A path graph of diameter 8 converges in 5 pointer-jumping
    rounds.  With the convergence probe riding each round's
    checkpoint as an Observation, the loop (incl. AQE stage-jobs)
    submits 43 jobs; the former per-round new⋈old take(1) comparison
    shape submitted 59 (measured side by side on this exact graph).
    Ceiling at 45 so a reintroduced comparison job trips the seat
    while AQE stage-count jitter does not."""
    from pipelinedb_spark.operators.dedup import dedup_clusters

    path = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(path, "d1 long, d2 long")
    out = {}

    def run():
        out["labels"] = {r["doc_id"]: r["cluster_id"]
                         for r in dedup_clusters(df).collect()}

    n_jobs = _jobs_for(spark, run)
    assert out["labels"] == {i: 0 for i in range(9)}
    assert n_jobs <= 45, n_jobs


# ---------------------------------------------------------------------------
# lsh_candidates join-back shape (r16): above the size gate the band
# join dedups bare id pairs and joins both signatures back — rows must
# be identical to the carry-sig shape the bench SFs keep
# ---------------------------------------------------------------------------

def test_lsh_candidates_joinback_rows_identical(spark, monkeypatch):
    """Force the join-back shape (cap=0) and the carry-sig shape
    (cap=huge) over the same corpus: identical (d1, d2, est_jaccard)
    row sets — the gate changes shuffle bytes, never output.  Also
    covers the skew-guard path (max_bucket_size) both sides."""
    from pipelinedb_spark.operators.dedup import lsh_candidates

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
    rows = {}
    for cap, tag in (("0", "joinback"), (str(1 << 60), "carrysig")):
        monkeypatch.setenv("SPARK_GRAFT_LSH_CARRY_SIG_CAP", cap)
        rows[tag] = sorted(map(tuple, lsh_candidates(docs).collect()))
        rows[tag + "_guard"] = sorted(map(tuple, lsh_candidates(
            docs, max_bucket_size=3).collect()))
    assert rows["joinback"], "fixture corpus should yield candidates"
    assert rows["joinback"] == rows["carrysig"]
    assert rows["joinback_guard"] == rows["carrysig_guard"]
