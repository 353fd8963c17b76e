"""The data plane: rows built on the driver reach the JVM as Arrow
tables, so no commit or read starts a Python worker; list values are
coerced (and range-checked) on the driver before any job runs; a
stream's batch is bound to the stream's name only while a query over
it is analysed."""

import datetime
import decimal

import pytest
from pyspark import SparkContext
from pyspark.errors import AnalysisException
from pyspark.sql import Row, SparkSession

from pipelinedb_spark import CQError

_COERCE_SCHEMA = ("k string, d decimal(10,2), ts timestamp, x double, "
                  "s string, m map<string,int>, "
                  "a array<struct<x:int,y:string>>, i int, b tinyint, "
                  "n struct<x:bigint NOT NULL>")


def test_list_values_coerce_as_before_and_fail_on_range(ctx, spark):
    """Parity table: what a list insert stores, per type.  Decimals
    round HALF_UP at the declared scale; a naive timestamp is local
    time (UTC here) and an aware one is converted; a nested NOT NULL
    field keeps its nullability.  Out-of-range values raise
    ``CQError`` naming value and type, before any job."""
    ctx.create_stream("cs", _COERCE_SCHEMA)
    ctx.create_view("cs_n", "SELECT k, count(*) AS n FROM cs GROUP BY k")
    plus5 = datetime.timezone(datetime.timedelta(hours=5))
    rows = [
        {"k": "a", "d": "1.005",
         "ts": datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
         "x": float("nan"), "s": 42, "m": {"p": 1, "q": None},
         "a": [{"x": 1, "y": "u"}, (2, "v")], "i": 7, "b": -5,
         "n": {"x": 1}},
        {"k": "b", "d": "2.675", "ts": "2024-01-02T03:04:05+05:00",
         "x": 1.5, "s": True, "m": '{"r": 3}', "a": '[{"x": 3, "y": null}]',
         "i": "12", "b": 127},
        {"k": "c", "d": -1.005,
         "ts": datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=plus5),
         "x": 2, "s": 1.5, "m": None, "a": [], "i": True, "b": None},
    ]
    got = sorted(tuple(r) for r in ctx._coerce_batch(
        ctx.streams["cs"], rows, None).drop("arrival_timestamp").collect())
    D = decimal.Decimal
    at_22 = datetime.datetime(2024, 1, 1, 22, 4, 5)
    assert got == [
        ("a", D("1.01"), datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
         None, "42", {"p": 1, "q": None},
         [Row(x=1, y="u"), Row(x=2, y="v")], 7, -5, Row(x=1)),
        ("b", D("2.68"), at_22, 1.5, "True", {"r": 3}, [Row(x=3, y=None)],
         12, 127, None),
        ("c", D("-1.01"), at_22, 2.0, "1.5", None, [], 1, None, None),
    ]
    sc = spark.sparkContext
    sc.setJobGroup("coerce_range", "out-of-range list values")
    try:
        for bad, typ in ((2 ** 40, "int"), (-2 ** 31 - 1, "int"),
                         (300, "tinyint"), ("123456789012.5", "decimal"),
                         ("99999999.995", "decimal")):
            col = {"int": "i", "tinyint": "b", "decimal": "d"}[typ]
            with pytest.raises(CQError, match=rf"{bad!r}.*{typ}.*range"):
                ctx.insert("cs", [{"k": "z", col: bad}])
        assert sc.statusTracker().getJobIdsForGroup("coerce_range") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ctx.insert("cs", rows)
    assert sorted(tuple(r) for r in ctx.read_view("cs_n").collect()) == [
        ("a", 1), ("b", 1), ("c", 1)]


def test_commit_and_read_start_no_python_worker(ctx, monkeypatch):
    """A Python-list frame (PythonRDD) anywhere on the commit or read
    path would start Python workers; with both constructors patched
    to raise, list inserts into a grouped and a sliding-window view,
    a multi-version matrel read, ``combine_read``, ``ctx.sql`` and
    ``stats_df`` all still run."""
    ctx.create_stream("nw", "k string, v long")
    ctx.create_view("nw_g", "SELECT k, count(*) AS n, sum(v) AS s "
                            "FROM nw GROUP BY k")
    ctx.create_view(
        "nw_sw", "SELECT k, count(*) AS n FROM nw "
                 "WHERE arrival_timestamp > clock_timestamp() - "
                 "interval '1 hour' GROUP BY k")

    def no_python_rows(*a, **k):
        raise AssertionError("driver rows built a PythonRDD")

    monkeypatch.setattr(SparkContext, "parallelize", no_python_rows)
    monkeypatch.setattr(SparkSession, "_createFromLocal", no_python_rows)
    ctx.insert("nw", [{"k": f"k{j}", "v": j} for j in range(64)])
    ctx.insert("nw", [{"k": "k0", "v": 10}])  # rewrites one bucket
    store = ctx.views["nw_g"].matrel
    # the multi-version read, through the validity join
    assert len(store._referenced_dirs()) >= 2
    exp = {f"k{j}": j for j in range(64)}
    exp["k0"] = 10
    assert {r["k"]: r["s"] for r in ctx.read_view("nw_g").collect()} == exp
    assert ctx.combine_read("nw_g").collect()[0]["n"] == 65
    assert ctx.sql("SELECT sum(n) AS n FROM nw_sw").collect()[0]["n"] == 65
    stats = {r["name"]: r["input_rows"] for r in ctx.stats_df().collect()}
    assert stats == {"nw_g": 65, "nw_sw": 65}


def test_stream_batch_not_left_in_session_catalog(ctx, spark):
    """A transform and a stream-table join view bind the batch to the
    stream's name while their query is analysed; afterwards the name
    resolves to nothing on the context's own session."""
    ctx.create_stream("lk", "k string, v long")
    ctx.register_table("lk_dim", spark.range(3).selectExpr(
        "concat('k', id) AS k", "id * 10 AS w"))
    ctx.create_transform("lk_t", "SELECT k, v FROM lk WHERE v > 0")
    ctx.create_view("lk_j", "SELECT lk.k, sum(lk_dim.w) AS w FROM lk "
                            "JOIN lk_dim ON lk.k = lk_dim.k GROUP BY lk.k")
    ctx.insert("lk", [{"k": "k1", "v": 1}, {"k": "k2", "v": 2}])
    assert sorted(tuple(r) for r in ctx.read_view("lk_j").collect()) == [
        ("k1", 10), ("k2", 20)]
    assert ctx.transforms["lk_t"].stats.batches == 1
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        spark.sql("SELECT * FROM lk").collect()


def test_stream_name_binding_is_serialized(spark):
    """Parallel dispatch threads bind batches to one stream name on a
    shared session; each analysis must see its own frame (no other
    thread's columns, no name dropped under it)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from pipelinedb_spark.engine import _sql_over

    frames = [spark.range(1).selectExpr(f"id AS c{i}") for i in range(12)]

    def bind(i):
        return [_sql_over(frames[i], "bind_s", "SELECT * FROM bind_s").columns
                for _ in range(8)]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            got = list(pool.map(bind, range(12), timeout=120))
    finally:
        sys.setswitchinterval(old)
    assert got == [[[f"c{i}"]] * 8 for i in range(12)]
    assert not spark.catalog.tableExists("bind_s")
