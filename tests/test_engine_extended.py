"""Extended engine surface: grouping sets CVs, sub-SELECT in FROM,
LIMIT, combine_table, copy_from, stream_targets, bucket_agg.

Mirrors reference tests cont_grouping_sets.sql, cont_subselect.sql,
cont_limit.sql, stream_targets.sql, bucket_agg.sql.
"""

import pytest


def rows(df, *cols):
    out = [tuple(r) for r in df.select(*cols).collect()]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def test_grouping_sets_cv(ctx):
    ctx.create_stream("gs1", "x string, y string, v long")
    ctx.create_view(
        "cv_gs",
        "SELECT x, y, count(*) AS n, sum(v) AS s FROM gs1 "
        "GROUP BY GROUPING SETS ((x, y), (x), ())")
    ctx.insert("gs1", [{"x": "a", "y": "p", "v": 1},
                       {"x": "a", "y": "q", "v": 2}])
    ctx.insert("gs1", [{"x": "b", "y": "p", "v": 10},
                       {"x": "a", "y": "p", "v": 4}])
    got = rows(ctx.read_view("cv_gs"), "x", "y", "n", "s")
    assert got == sorted([
        ("a", "p", 2, 5), ("a", "q", 1, 2), ("b", "p", 1, 10),
        ("a", None, 3, 7), ("b", None, 1, 10),
        (None, None, 4, 17),
    ], key=lambda t: tuple((v is None, str(v)) for v in t))


def test_rollup_cv(ctx):
    ctx.create_stream("gs2", "x string, y string, v long")
    ctx.create_view(
        "cv_rollup",
        "SELECT x, y, count(*) AS n FROM gs2 GROUP BY ROLLUP (x, y)")
    ctx.insert("gs2", [{"x": "a", "y": "p", "v": 1},
                       {"x": "b", "y": "q", "v": 2}])
    got = rows(ctx.read_view("cv_rollup"), "x", "y", "n")
    # (x,y), (x), () sets
    assert (None, None, 2) in got
    assert ("a", None, 1) in got and ("b", None, 1) in got
    assert ("a", "p", 1) in got and ("b", "q", 1) in got
    assert len(got) == 5  # 2×(x,y) + 2×(x) + 1×()


def test_subselect_in_from(ctx):
    ctx.create_stream("ss1", "x int, y int")
    ctx.create_view(
        "cv_sub",
        "SELECT g, count(*) AS n FROM "
        "(SELECT x % 2 AS g, y FROM ss1 WHERE y > 0) sub GROUP BY g")
    ctx.insert("ss1", [{"x": 1, "y": 5}, {"x": 2, "y": 5},
                       {"x": 3, "y": -1}, {"x": 4, "y": 2}])
    got = {r["g"]: r["n"] for r in ctx.read_view("cv_sub").collect()}
    assert got == {1: 1, 0: 2}


def test_limit_in_cv(ctx):
    ctx.create_stream("lm1", "k string, v long")
    ctx.create_view("cv_lim",
                    "SELECT k, count(*) AS n FROM lm1 GROUP BY k LIMIT 2")
    ctx.insert("lm1", [{"k": c, "v": 1} for c in "abcde"])
    assert ctx.read_view("cv_lim").count() == 2
    # matrel keeps all groups; LIMIT applies at read (overlay) time
    assert ctx.read_matrel("cv_lim").count() == 5


def test_combine_table_backfill(ctx, spark):
    ctx.create_stream("cb1", "k string, v long")
    ctx.create_view("cv_cb", "SELECT k, count(*) AS n, sum(v) AS s "
                             "FROM cb1 GROUP BY k")
    ctx.insert("cb1", [{"k": "a", "v": 1}])
    # backfill partial states computed elsewhere (e.g. batch history)
    hist = spark.createDataFrame([("a", 10, 100), ("b", 5, 50)],
                                 ["k", "n__n", "s__s"])
    ctx.combine_table("cv_cb", hist)
    got = {r["k"]: r for r in ctx.read_view("cv_cb").collect()}
    assert got["a"]["n"] == 11 and got["a"]["s"] == 101
    assert got["b"]["n"] == 5 and got["b"]["s"] == 50


def test_copy_from_file(ctx, tmp_path, spark):
    ctx.create_stream("cp1", "k string, v long")
    ctx.create_view("cv_cp", "SELECT k, sum(v) AS s FROM cp1 GROUP BY k")
    src = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], ["k", "v"])
    path = str(tmp_path / "copy_src")
    src.write.parquet(path)
    n = ctx.copy_from("cp1", path)
    assert n == 3
    got = {r["k"]: r["s"] for r in ctx.read_view("cv_cp").collect()}
    assert got == {"a": 3, "b": 3}


def test_stream_targets(ctx):
    ctx.create_stream("tg1", "k string, v long")
    ctx.create_view("cv_t1", "SELECT count(*) AS n FROM tg1")
    ctx.create_view("cv_t2", "SELECT count(*) AS n FROM tg1")
    ctx.insert("tg1", [{"k": "a", "v": 1}], targets=["cv_t1"])
    ctx.insert("tg1", [{"k": "a", "v": 2}])
    assert ctx.read_view("cv_t1").collect()[0]["n"] == 2
    assert ctx.read_view("cv_t2").collect()[0]["n"] == 1


def test_bucket_agg_cv(ctx):
    ctx.create_stream("ba1", "g string, v string, b int, t long")
    ctx.create_view(
        "cv_ba",
        "SELECT g, bucket_agg(v, b, t) AS buckets FROM ba1 GROUP BY g")
    # v1 seen in bucket 1 at t=1, later moves to bucket 2 at t=10
    ctx.insert("ba1", [{"g": "a", "v": "v1", "b": 1, "t": 1},
                       {"g": "a", "v": "v2", "b": 1, "t": 2}])
    ctx.insert("ba1", [{"g": "a", "v": "v1", "b": 2, "t": 10}])
    row = ctx.read_view("cv_ba").collect()[0]
    got = {e["bucket_id"]: e["count"] for e in row["buckets"]}
    assert got == {1: 1, 2: 1}  # v2 stays in 1, v1 moved to 2


def test_bucket_agg_accessors(ctx):
    """bucket_ids / bucket_cardinalities / bucket_cardinality over the
    finalized bucket_agg value (reference
    pipelinedb--1.0.0.sql:2371-2396; regress bucket_agg.sql: element
    moves between buckets, new element lands in the vacated one)."""
    ctx.create_stream("ba2", "x int, y int, t long")
    ctx.create_view("cv_ba2",
                    "SELECT bucket_agg(x, y, t) AS ba FROM ba2")
    ctx.insert("ba2", [{"x": 0, "y": 0, "t": 1}])
    r = ctx.read_view("cv_ba2").selectExpr(
        "bucket_ids(ba) AS ids", "bucket_cardinalities(ba) AS cards",
        "bucket_cardinality(ba, 0) AS c0").collect()[0]
    assert r["ids"] == [0] and r["cards"] == [1] and r["c0"] == 1
    # move element 0 into bucket 1
    ctx.insert("ba2", [{"x": 0, "y": 1, "t": 2}])
    r = ctx.read_view("cv_ba2").selectExpr(
        "bucket_ids(ba) AS ids", "bucket_cardinality(ba, 0) AS c0",
        "bucket_cardinality(ba, 1) AS c1").collect()[0]
    assert r["ids"] == [1] and r["c0"] == 0 and r["c1"] == 1
    # new element into the now-empty bucket 0
    ctx.insert("ba2", [{"x": 1, "y": 0, "t": 3}])
    r = ctx.read_view("cv_ba2").selectExpr(
        "bucket_ids(ba) AS ids",
        "bucket_cardinalities(ba) AS cards").collect()[0]
    assert r["ids"] == [0, 1] and r["cards"] == [1, 1]
    # bulk: 9 more values into bucket 2
    ctx.insert("ba2", [{"x": v, "y": 2, "t": 4} for v in range(2, 11)])
    r = ctx.read_view("cv_ba2").selectExpr(
        "bucket_ids(ba) AS ids", "bucket_cardinality(ba, 2) AS c2"
    ).collect()[0]
    assert r["ids"] == [0, 1, 2] and r["c2"] == 9
    # an earlier-timestamped re-observation must NOT move the value
    # (bucket3 case in the regress test)
    ctx.insert("ba2", [{"x": 0, "y": 5, "t": 0}])
    r = ctx.read_view("cv_ba2").selectExpr(
        "bucket_cardinality(ba, 5) AS c5",
        "bucket_cardinality(ba, 1) AS c1").collect()[0]
    assert r["c5"] == 0 and r["c1"] == 1


def test_sql_functions_in_cv(ctx):
    """date_round / hash_group usable directly in CV SQL (reference
    date_round.sql, hash_group.sql)."""
    ctx.create_stream("fn1", "k string, v long, ts timestamp")
    ctx.create_view(
        "cv_fn",
        "SELECT date_round(ts, 300) AS bucket, count(*) AS n "
        "FROM fn1 GROUP BY date_round(ts, 300)")
    import datetime
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [{"k": "a", "v": i,
             "ts": base + datetime.timedelta(seconds=100 * i)}
            for i in range(10)]
    ctx.insert("fn1", rows)
    got = sorted((r["bucket"], r["n"]) for r in ctx.read_view("cv_fn").collect())
    assert got[0][0] == base and got[0][1] == 3  # 0,100,200s in first bucket
    assert sum(n for _, n in got) == 10
    # hash_group as a scalar in plain SQL
    r = ctx.spark.sql("SELECT hash_group('x') AS h, hash_group2('x','y') AS h2").collect()[0]
    assert isinstance(r["h"], int) and isinstance(r["h2"], int)


def test_combine_read_over_sketch_cv(ctx):
    """combine() re-rollup over sketch state columns: HLL states merge
    under a coarser grouping (user_combine.sql over approximate aggs)."""
    ctx.create_stream("cr1", "g1 string, g2 string, v long")
    ctx.create_view(
        "cv_hll2",
        "SELECT g1, g2, count(DISTINCT v) AS ndv FROM cr1 GROUP BY g1, g2")
    ctx.insert("cr1", [{"g1": "x", "g2": "p", "v": i} for i in range(100)])
    ctx.insert("cr1", [{"g1": "x", "g2": "q", "v": i} for i in range(50, 150)])
    got = {r["g1"]: r["ndv"] for r in
           ctx.combine_read("cv_hll2", group_by=["g1"]).collect()}
    # union of 0..99 and 50..149 = 150 distinct; HLL error ~1%
    assert abs(got["x"] - 150) <= 5


def test_ad_hoc_sql_over_cvs(ctx):
    """Ordinary SQL over CVs: joins between CVs, ORDER BY, window
    functions — everything the CQ analyzer rejects is fine at read
    time (reference §3.3 read path)."""
    ctx.create_stream("aq1", "k string, v long")
    ctx.create_view("cv_sum1", "SELECT k, sum(v) AS s FROM aq1 GROUP BY k")
    ctx.create_view("cv_cnt1", "SELECT k, count(*) AS n FROM aq1 GROUP BY k")
    ctx.insert("aq1", [{"k": "a", "v": 10}, {"k": "a", "v": 5},
                       {"k": "b", "v": 7}])
    rows = ctx.sql("""
        SELECT s.k, s.s, c.n,
               RANK() OVER (ORDER BY s.s DESC) AS rk
        FROM cv_sum1 s JOIN cv_cnt1 c ON s.k = c.k
        ORDER BY rk
    """).collect()
    assert [(r["k"], r["s"], r["n"], r["rk"]) for r in rows] == [
        ("a", 15, 2, 1), ("b", 7, 1, 2)]
    # matrel access exposes partial-state columns
    m = ctx.sql("SELECT k, `s__s` FROM cv_sum1_mrel ORDER BY k").collect()
    assert [(r[0], r[1]) for r in m] == [("a", 15), ("b", 7)]


def test_distinct_on(ctx):
    """DISTINCT ON (k) k, v → one row per k at read time (reference:
    view-level distinct)."""
    ctx.create_stream("don1", "k string, v long")
    ctx.create_view("cv_don", "SELECT DISTINCT ON (k) k, v FROM don1")
    ctx.insert("don1", [{"k": "a", "v": 1}, {"k": "a", "v": 2},
                        {"k": "b", "v": 3}])
    rows_ = ctx.read_view("cv_don").collect()
    assert sorted(r["k"] for r in rows_) == ["a", "b"]
    assert len(rows_) == 2


def test_jsonb_aliases(ctx):
    ctx.create_stream("jb1", "k string, v long")
    ctx.create_view("cv_jb",
                    "SELECT k, jsonb_agg(v) AS arr FROM jb1 GROUP BY k")
    ctx.insert("jb1", [{"k": "a", "v": 7}])
    import json
    assert json.loads(ctx.read_view("cv_jb").collect()[0]["arr"]) == [7]


def test_sql_combine_rewrite(ctx):
    """combine() in plain SQL over a CV re-rolls partial states up to
    the query's grouping (user_combine.sql:24-50)."""
    import pytest as _pytest
    ctx.create_stream("uc1", "g1 string, g2 string, v long")
    ctx.create_view("cv_uc", "SELECT g1, g2, avg(v) AS a, count(*) AS n "
                             "FROM uc1 GROUP BY g1, g2")
    ctx.insert("uc1", [{"g1": "x", "g2": "p", "v": 2},
                       {"g1": "x", "g2": "q", "v": 4},
                       {"g1": "y", "g2": "p", "v": 100}])
    got = {r["g1"]: r for r in ctx.sql(
        "SELECT g1, combine(a) AS a, combine(n) AS n FROM cv_uc GROUP BY g1"
    ).collect()}
    assert got["x"]["a"] == _pytest.approx(3.0)   # weighted, not avg-of-avgs
    assert got["x"]["n"] == 2
    # global combine
    row = ctx.sql("SELECT combine(a) AS a FROM cv_uc").collect()[0]
    assert row["a"] == _pytest.approx(106 / 3)


def test_string_agg_cv_engine_path(ctx):
    """string_agg through the full partial/merge/finalize engine path —
    the delimiter is a SQL literal parsed to a Python str (array_join
    rejects Column delimiters)."""
    ctx.create_stream("sa1", "k string, w string")
    ctx.create_view("cv_sa",
                    "SELECT k, string_agg(w, ',') AS ws FROM sa1 GROUP BY k")
    ctx.insert("sa1", [{"k": "a", "w": "x"}])
    ctx.insert("sa1", [{"k": "a", "w": "y"}])
    got = ctx.read_view("cv_sa").collect()[0]["ws"]
    assert sorted(got.split(",")) == ["x", "y"]


def test_string_agg_quoted_delimiter(ctx):
    ctx.create_stream("sa2", "k string, w string")
    ctx.create_view("cv_sa2",
                    "SELECT k, string_agg(w, '; ') AS ws FROM sa2 GROUP BY k")
    ctx.insert("sa2", [{"k": "a", "w": "x"}, {"k": "a", "w": "y"}])
    got = ctx.read_view("cv_sa2").collect()[0]["ws"]
    assert sorted(got.split("; ")) == ["x", "y"]


def test_first_values_state_bounded(ctx):
    """first_values matrel state stays O(n) across batches (reference
    bounded prefix, src/firstvalues.c) — the merge re-truncates."""
    ctx.create_stream("fv1", "k string, v long")
    ctx.create_view("cv_fv",
                    "SELECT k, first_values(3, v) AS fv FROM fv1 GROUP BY k")
    for b in range(4):
        ctx.insert("fv1", [{"k": "a", "v": 100 - 10 * b - i}
                           for i in range(5)])
    states = ctx.read_matrel("cv_fv").collect()
    assert len(states) == 1
    st = states[0]["fv__fv"]
    assert len(st) == 3, f"state should hold n=3 elements, got {len(st)}"
    out = ctx.read_view("cv_fv").collect()[0]["fv"]
    assert [r["c0"] for r in out] == [66, 67, 68]


def test_sw_predicate_mid_conjunction(ctx):
    """SW predicate spliced out of the middle of an AND chain leaves a
    parseable remainder (reference removes the parse-tree node)."""
    ctx.create_stream("swm", "k string, v long")
    ctx.create_view(
        "cv_swm",
        "SELECT k, count(*) AS n FROM swm "
        "WHERE v > 0 AND arrival_timestamp > clock_timestamp() - "
        "interval '1 hour' AND k <> 'skip' GROUP BY k")
    ctx.insert("swm", [{"k": "a", "v": 5}, {"k": "a", "v": -1},
                       {"k": "skip", "v": 5}])
    got = {r["k"]: r["n"] for r in ctx.read_view("cv_swm").collect()}
    assert got == {"a": 1}


def test_explicit_arrival_timestamp_dict_rows(ctx):
    """Dict-shaped inserts may set arrival_timestamp explicitly
    (synthetic time for SW tests); rows without it get the ingest
    clock."""
    from datetime import datetime, timezone
    ctx.create_stream("at1", "k string, v long")
    ctx.create_view("cv_at", "SELECT k, count(*) AS n FROM at1 "
                             "WHERE arrival_timestamp > clock_timestamp() - "
                             "interval '1 hour' GROUP BY k")
    old = datetime(2000, 1, 1, tzinfo=timezone.utc)
    ctx.insert("at1", [{"k": "old", "v": 1, "arrival_timestamp": old},
                       {"k": "new", "v": 1}])
    got = {r["k"]: r["n"] for r in ctx.read_view("cv_at").collect()}
    assert got == {"new": 1}  # the year-2000 row is out of window


def test_sql_combine_with_join_and_exprs(ctx, spark):
    """combine() inside SQL with a JOIN against a dimension and
    expressions over combine results (user_combine.sql:24-50)."""
    import pytest as _pytest
    ctx.create_stream("uc2", "g1 string, v long")
    ctx.create_view("cv_uc2", "SELECT g1, avg(v) AS a, count(*) AS n "
                              "FROM uc2 GROUP BY g1")
    ctx.insert("uc2", [{"g1": "x", "v": 2}, {"g1": "x", "v": 4},
                       {"g1": "y", "v": 10}, {"g1": "z", "v": 100}])
    dim = spark.createDataFrame(
        [("x", "lo"), ("y", "lo"), ("z", "hi")], ["g1", "band"])
    ctx.register_table("dim_band", dim)
    got = {r["band"]: r for r in ctx.sql(
        "SELECT band, combine(a) AS a, combine(n) AS n, "
        "round(combine(a) * 2, 1) AS a2 "
        "FROM cv_uc2 JOIN dim_band ON cv_uc2.g1 = dim_band.g1 "
        "GROUP BY band").collect()}
    assert got["lo"]["a"] == _pytest.approx(16 / 3)   # weighted across groups
    assert got["lo"]["n"] == 3
    assert got["lo"]["a2"] == _pytest.approx(round(16 / 3 * 2, 1))
    assert got["hi"]["a"] == _pytest.approx(100.0)


def test_subselect_validation(ctx):
    """ValidateSubselect analog (reference src/analyzer.c:1344-1407):
    aggregates / DISTINCT / ORDER BY / GROUP BY / LIMIT / window fns /
    CTEs inside a CQ's FROM subquery are CREATE-time errors."""
    import pytest
    from pipelinedb_spark import CQError
    ctx.create_stream("sv1", "x int, y int")
    bad = [
        ("SELECT n FROM (SELECT count(*) AS n FROM sv1) s",
         "aggregates"),
        ("SELECT g, count(*) AS n FROM "
         "(SELECT x AS g FROM sv1 GROUP BY x) s GROUP BY g",
         "GROUP BY"),
        ("SELECT g, count(*) AS n FROM "
         "(SELECT DISTINCT x AS g FROM sv1) s GROUP BY g",
         "DISTINCT"),
        ("SELECT g, count(*) AS n FROM "
         "(SELECT x AS g FROM sv1 ORDER BY x) s GROUP BY g",
         "ORDER BY"),
        ("SELECT g, count(*) AS n FROM "
         "(SELECT x AS g FROM sv1 LIMIT 5) s GROUP BY g",
         "LIMIT"),
        ("SELECT g, count(*) AS n FROM "
         "(SELECT row_number() OVER (ORDER BY x) AS g FROM sv1) s "
         "GROUP BY g",
         "window functions"),
    ]
    for i, (sql, frag) in enumerate(bad):
        with pytest.raises(CQError, match=frag):
            ctx.create_view(f"cv_sv_bad{i}", sql)
    # a legal projection subquery still works
    ctx.create_view("cv_sv_ok",
                    "SELECT g, count(*) AS n FROM "
                    "(SELECT x % 2 AS g FROM sv1 WHERE y > 0) s GROUP BY g")
    ctx.insert("sv1", [{"x": 1, "y": 1}, {"x": 2, "y": 1}])
    assert {r["g"]: r["n"] for r in ctx.read_view("cv_sv_ok").collect()} \
        == {0: 1, 1: 1}


def test_grouping_sets_with_sketch_agg(ctx):
    """Grouping sets with a pandas (sketch) aggregate — the per-set
    expansion path (reference supports grouping sets with its full agg
    library, src/analyzer.c:2819-2859)."""
    from pipelinedb_spark import register_sketch_aggs
    register_sketch_aggs()
    ctx.create_stream("gsk1", "k string, v double")
    ctx.create_view(
        "cv_gsk",
        "SELECT k, count(*) AS n, "
        "dist_quantile(dist_agg(v), 0.5) AS med "
        "FROM gsk1 GROUP BY GROUPING SETS ((k), ())")
    ctx.insert("gsk1", [{"k": "a", "v": float(i)} for i in range(1, 11)])
    ctx.insert("gsk1", [{"k": "b", "v": float(i)} for i in range(101, 111)])
    rows = ctx.read_view("cv_gsk").collect()
    by_k = {r["k"]: r for r in rows}
    assert by_k["a"]["n"] == 10 and abs(by_k["a"]["med"] - 5.5) <= 1.0
    assert by_k["b"]["n"] == 10 and abs(by_k["b"]["med"] - 105.5) <= 1.0
    assert by_k[None]["n"] == 20  # () grand total, merged across batches
    assert 5.0 <= by_k[None]["med"] <= 106.0


def test_insert_into_stream_select(ctx):
    """INSERT INTO stream (cols) SELECT ... over a registered table
    (stream_insert_subselect.sql); selecting from a stream inside a
    stream INSERT is rejected."""
    import pytest
    from pipelinedb_spark import CQError
    spark = ctx.spark
    src = spark.range(1, 101).selectExpr("id AS x")
    ctx.register_table("sub_t", src)
    ctx.create_stream("ss_sub", "x long")
    ctx.create_view("cv_sub", "SELECT count(DISTINCT x) AS ndv, "
                              "count(*) AS n FROM ss_sub")
    out = ctx.sql("INSERT INTO ss_sub (x) (SELECT * FROM sub_t)")
    assert out.collect()[0]["inserted"] == 100
    ctx.sql("INSERT INTO ss_sub (x) "
            "(SELECT * FROM (SELECT x AS y FROM sub_t) s0)")
    row = ctx.read_view("cv_sub").collect()[0]
    assert row["n"] == 200
    ctx.create_stream("ss_sub2", "x long")
    with pytest.raises(CQError):
        ctx.sql("INSERT INTO ss_sub (x) (SELECT x FROM ss_sub2)")
    with pytest.raises(CQError):
        ctx.sql("INSERT INTO ss_sub2 (x) SELECT sub_t.x FROM sub_t "
                "JOIN ss_sub ON sub_t.x = ss_sub.x")
    with pytest.raises(CQError):
        ctx.sql("SELECT * FROM ss_sub")


def test_cv_user_designated_pk(ctx):
    """WITH (pk='col') — user-designated matrel primary key (reference
    pipeline_query.c:1735-1770, test cont_pk.sql)."""
    import pytest
    from pipelinedb_spark import CQError

    ctx.create_stream("pk_s", "x long")
    # pk on the group column: matrel identity/bucketing keyed by x
    ctx.create_view("test_pk0", "SELECT x, count(*) AS n "
                                "FROM pk_s GROUP BY x", pk="x")
    ctx.insert("pk_s", [{"x": v} for v in range(1, 21)])
    ctx.insert("pk_s", [{"x": v} for v in range(1, 31)])
    got = {r["x"]: r["n"] for r in ctx.read_view("test_pk0").collect()}
    assert got[1] == 2 and got[20] == 2 and got[21] == 1 and len(got) == 30

    # pk on an aggregate output (cont_pk.sql test_pk1): uniqueness is
    # enforced per pk value — conflicting groups collapse to one
    # deterministic survivor
    ctx.create_view("test_pk1", "SELECT x, count(*) AS n "
                                "FROM pk_s GROUP BY x", pk="n")
    ctx.insert("pk_s", [{"x": 100}, {"x": 100}, {"x": 101}, {"x": 101}])
    rows = ctx.read_view("test_pk1").collect()
    ns = [r["n"] for r in rows]
    assert len(ns) == len(set(ns))  # pk unique in the visible view

    # rejections (cont_pk.sql wrong_arg_type / no_column)
    with pytest.raises(CQError):
        ctx.create_view("wrong_arg_type",
                        "SELECT count(*) AS n FROM pk_s", pk=1)
    with pytest.raises(CQError):
        ctx.create_view("no_column",
                        "SELECT count(*) AS n FROM pk_s", pk="not_here")


def test_introspection_surface(ctx):
    """pipelinedb.version / set_ttl / ttl_expire / worker & combiner
    querydefs (reference sql:2620-2669, pipeline_set_ttl,
    pipeline_ttl_expire, pipeline_get_*_querydef)."""
    import time
    import pytest
    from pipelinedb_spark import CQError

    assert "pipelinedb_spark" in ctx.version()

    ctx.create_stream("intro_s", "k string, v double, ts timestamp")
    ctx.create_view("cv_intro", "SELECT k, count(*) AS n, max(ts) AS mx "
                                "FROM intro_s GROUP BY k")
    wdef = ctx.get_worker_querydef("cv_intro")
    cdef = ctx.get_combiner_querydef("cv_intro")
    assert "Aggregate" in wdef and "Aggregate" in cdef

    # set_ttl + synchronous ttl_expire: expired groups get reaped
    now = time.time()
    import datetime
    old = datetime.datetime.utcfromtimestamp(now - 7200)
    new = datetime.datetime.utcfromtimestamp(now)
    ctx.insert("intro_s", [{"k": "old", "v": 1.0, "ts": old},
                           {"k": "new", "v": 2.0, "ts": new}])
    assert ctx.ttl_expire("cv_intro") == 0          # no TTL yet
    ctx.set_ttl("cv_intro", "1 hour", "mx")
    assert ctx.ttl_expire("cv_intro") == 1          # 'old' group reaped
    assert [r["k"] for r in ctx.read_view("cv_intro").collect()] == ["new"]
    # clearing the TTL stops expiration
    ctx.set_ttl("cv_intro", None)
    assert ctx.ttl_expire("cv_intro") == 0

    with pytest.raises(CQError):
        ctx.set_ttl("nope", "1 hour", "mx")
    with pytest.raises(CQError):
        ctx.get_worker_querydef("nope")


def test_matrel_check_constraints(ctx):
    """Mirror of reference matrel_constraints.sql: CHECK constraints on
    the matrel reject violating upserts — groups keep their last valid
    row; new violating groups never materialize."""
    import pytest
    from pipelinedb_spark import CQError

    ctx.create_stream("mc_s0", "x int, y int")
    ctx.create_view("mc_v0", "SELECT x, sum(y) AS sum, count(*) AS count "
                             "FROM mc_s0 GROUP BY x")
    ctx.add_matrel_constraint("mc_v0", "chk0", "x > 5")
    ctx.add_matrel_constraint("mc_v0", "chk1", "count < 3")
    ctx.add_matrel_constraint("mc_v0", "chk2", "sum < 3")

    batch = [{"x": x, "y": 1} for x in range(1, 11)]
    ctx.insert("mc_s0", batch)
    got = sorted((r["x"], r["sum"], r["count"])
                 for r in ctx.read_view("mc_v0").collect())
    assert got == [(x, 1, 1) for x in range(6, 11)]

    for _ in range(3):
        ctx.insert("mc_s0", batch)
    got = sorted((r["x"], r["sum"], r["count"])
                 for r in ctx.read_view("mc_v0").collect())
    # exactly the reference's expected output: stuck at (2, 2)
    assert got == [(x, 2, 2) for x in range(6, 11)]

    # invalid constraint rejected at ADD; drop restores normal merging
    with pytest.raises(CQError):
        ctx.add_matrel_constraint("mc_v0", "bad", "no_such_col < 1")
    ctx.drop_matrel_constraint("mc_v0", "chk1")
    ctx.drop_matrel_constraint("mc_v0", "chk2")
    ctx.insert("mc_s0", batch)
    got = {r["x"]: r["count"] for r in ctx.read_view("mc_v0").collect()}
    assert got[6] == 3

    # SQL CHECK semantics (PG ExecConstraints): a check evaluating to
    # NULL is SATISFIED — an all-NULL sum must pass 'sum < 3'
    ctx.create_stream("mc_s1", "x int, y int")
    ctx.create_view("mc_v1", "SELECT x, sum(y) AS sum FROM mc_s1 GROUP BY x")
    ctx.add_matrel_constraint("mc_v1", "chk", "sum < 3")
    ctx.insert("mc_s1", [{"x": 1, "y": None}])
    assert [(r["x"], r["sum"]) for r in ctx.read_view("mc_v1").collect()] \
        == [(1, None)]


def test_insert_values_expressions(ctx):
    """INSERT INTO stream VALUES with SQL expressions in the tuples
    (reference stream_exprs.sql); missing fields default to NULL."""
    ctx.create_stream("tex_s", "b boolean, t string, n double")
    ctx.create_view("cv_tex", "SELECT count(*) AS c, count(b) AS cb, "
                              "count(t) AS ct, count(n) AS cn, "
                              "sum(n) AS sn FROM tex_s")
    ctx.sql("INSERT INTO tex_s (b, t, n) VALUES "
            "(true and true, substring('string!', 1, 3), 1.5 + 100.25), "
            "(1 < 2, 'first' || 'second', pow(2, 5))")
    ctx.sql("INSERT INTO tex_s (b) VALUES (false)")
    ctx.sql("INSERT INTO tex_s (t) VALUES (lower('UPPER'))")
    row = ctx.read_view("cv_tex").collect()[0]
    assert row["c"] == 4 and row["cb"] == 3
    assert row["ct"] == 3 and row["cn"] == 2
    assert row["sn"] == 101.75 + 32.0


def test_writable_matrels(ctx):
    """Mirror of reference cont_matrel.sql: matrel writes rejected
    until matrels_writable; UPDATE/DELETE flow through to CV reads and
    later stream inserts merge on top of the edited states."""
    import pytest
    from pipelinedb_spark import CQError
    from pipelinedb_spark.aggregates import state_col

    ctx.create_stream("cm_s", "x long")
    ctx.create_view("cont_matrel", "SELECT count(*) AS count FROM cm_s")
    ctx.insert("cm_s", [{"x": 1}])
    assert ctx.read_view("cont_matrel").collect()[0]["count"] == 1

    ncol = state_col("count", "n")
    with pytest.raises(CQError):
        ctx.update_matrel("cont_matrel", {ncol: "2"})
    with pytest.raises(CQError):
        ctx.delete_matrel_rows("cont_matrel")

    ctx.matrels_writable = True
    ctx.update_matrel("cont_matrel", {ncol: "2"})
    assert ctx.read_view("cont_matrel").collect()[0]["count"] == 2
    ctx.insert("cm_s", [{"x": 1}])
    assert ctx.read_view("cont_matrel").collect()[0]["count"] == 3

    ctx.delete_matrel_rows("cont_matrel")
    assert ctx.read_view("cont_matrel").count() == 0
    ctx.insert("cm_s", [{"x": 1}])
    assert ctx.read_view("cont_matrel").collect()[0]["count"] == 1

    with pytest.raises(CQError):
        ctx.update_matrel("cont_matrel", {"no_such_state": "1"})
    ctx.matrels_writable = False


def test_prepared_stream_insert(ctx):
    """PREPARE/EXECUTE stream inserts (prepared_stream_insert.sql):
    positional binds, partial column lists (missing columns NULL),
    buffered EXECUTEs visible on any consuming-CV read, arity errors
    rejected, DEALLOCATE flushes."""
    import pytest
    from pipelinedb_spark import CQError

    ctx.create_stream("pi_s", "x double, y int, z int")
    ctx.create_view("pi0", "SELECT count(*) AS n FROM pi_s")
    ctx.create_view("pi1", "SELECT sum(x) AS fsum, sum(y) AS isum FROM pi_s")

    prep0 = ctx.prepare_insert("pi_s", ["x"])
    prep1 = ctx.prepare_insert("pi_s", ["x", "y"])
    for _ in range(7):
        prep0.execute(1.0)
    for _ in range(7):
        prep0(1.5)
    for _ in range(10):
        prep1.execute(1.0, 1)

    with pytest.raises(CQError, match="parameters"):
        prep0.execute(1.0, 2)
    with pytest.raises(CQError, match="does not exist"):
        ctx.prepare_insert("pi_s", ["nope"])
    with pytest.raises(CQError, match="unknown stream"):
        ctx.prepare_insert("nope", ["x"])

    # reads flush the prepared buffers first
    assert ctx.read_view("pi0").collect()[0]["n"] == 24
    row = ctx.read_view("pi1").collect()[0]
    assert row["fsum"] == pytest.approx(7 * 1.0 + 7 * 1.5 + 10 * 1.0)
    assert row["isum"] == 10

    # execute_many + explicit close (DEALLOCATE) flush
    prep1.execute_many([(2.0, 5), (3.0, 6)])
    prep1.close()
    assert prep1 not in ctx._prepared
    assert ctx.read_view("pi0").collect()[0]["n"] == 26


def test_select_item_mixing_group_col_and_agg(ctx):
    """Reference pipeline_regress.sql:68-88: a select item may combine
    a group column with an aggregate (id + avg(id)); the bare group
    identifier keeps its name in the matrel even without a standalone
    select item."""
    ctx.create_stream("mx1", "id int, x double")
    ctx.create_view("mx_v1", "SELECT (id + avg(id)) AS x FROM mx1 "
                             "GROUP BY id")
    ctx.insert("mx1", [{"id": 1}, {"id": 2}, {"id": 3}])
    assert sorted(r["x"] for r in ctx.read_view("mx_v1").collect()) \
        == [2.0, 4.0, 6.0]
    ctx.create_view("mx_v2", "SELECT id + avg(id) AS a, sum(x) AS s "
                             "FROM mx1 GROUP BY id")
    ctx.insert("mx1", [{"id": 1, "x": 1.5}, {"id": 2, "x": 3.0},
                       {"id": 3, "x": 4.5}])
    assert sorted((r["a"], r["s"])
                  for r in ctx.read_view("mx_v2").collect()) \
        == [(2.0, 1.5), (4.0, 3.0), (6.0, 4.5)]


def test_reserved_output_column_names_rejected(ctx):
    """Reference create_cont_view.out:694: aliasing an output to
    arrival_timestamp (or this engine's internal matrel columns) is
    rejected; selecting arrival_timestamp itself stays legal."""
    from pipelinedb_spark import CQError

    ctx.create_stream("rs1", "x int")
    for bad in ("arrival_timestamp", "_step", "_seq", "__bucket"):
        with pytest.raises(CQError, match="reserved column name"):
            ctx.create_view(f"rv_{bad.strip('_')}",
                            f"SELECT x AS {bad}, count(*) AS n "
                            f"FROM rs1 GROUP BY x")
    # the implicit column itself is still selectable un-renamed
    ctx.create_view("rv_ok", "SELECT arrival_timestamp, count(*) AS n "
                             "FROM rs1 GROUP BY arrival_timestamp")
