"""One SQL reader: ``ctx.sql``, ``create_transform`` and delta combines
take statements, relations, aliases and combine() calls from Spark's
parse tree; streams, CVs and transforms share one name space; explicit
insert column lists name only stream columns."""

import pytest

from pipelinedb_spark import CQError, PipelineContext


@pytest.fixture(scope="module")
def rctx(spark, tmp_path_factory):
    ctx = PipelineContext(spark, root=str(tmp_path_factory.mktemp("rd")),
                          num_buckets=4)
    ctx.create_stream("s", "k string, r string, x int")
    ctx.create_view("v", "SELECT k, r, count(*) AS n FROM s GROUP BY k, r")
    ctx.insert("s", [(f"k{i % 7}", f"r{i % 3}", i) for i in range(100)])
    ctx.register_table("t", spark.createDataFrame([("k1", "v1")],
                                                  "k string, v string"))
    ctx.create_stream("clicks", "k string, s int")
    yield ctx
    ctx.close()


def _rows(query):
    return lambda ctx: [tuple(r) for r in ctx.sql(query).collect()]


# in run order: the INSERT cases come last, as they add rows to s
_CASES = {
    "order_by_limit": (_rows(
        "SELECT r, combine(n) AS n FROM v GROUP BY r "
        "ORDER BY n DESC LIMIT 1"), [("r0", 34)]),
    "having": (_rows(
        "SELECT r, combine(n) AS n FROM v GROUP BY r "
        "HAVING combine(n) > 33"), [("r0", 34)]),
    "cte_over_cv": (_rows(
        "WITH c AS (SELECT * FROM v) SELECT combine(n) AS n FROM c"),
        [(100,)]),
    "combine_in_literal": (_rows(
        "SELECT 'combine(x)' AS lbl, n FROM v WHERE k = 'k1' AND r = 'r1'"),
        [("combine(x)", 5)]),
    "join_names_cv_column": (_rows(
        "SELECT combine(n) AS n FROM v JOIN t ON t.v = 'v1' AND t.k = v.k"),
        [(15,)]),
    "transform_stream": (lambda ctx: ctx.create_transform(
        "tr", "SELECT k, s FROM clicks WHERE s > 0").stream, "clicks"),
    "insert_after_comment": (_rows(
        "/* load */ INSERT INTO s (k, r, x) SELECT k, 'r9', 1 FROM t"),
        [(1,)]),
    "insert_other_case": (_rows(
        "INSERT INTO S (k, r, x) SELECT k, 'r9', 1 FROM t"), [(1,)]),
}


@pytest.mark.parametrize("case", list(_CASES))
def test_statement_shapes_read_from_parse_tree(rctx, case):
    run, want = _CASES[case]
    assert run(rctx) == want


def test_one_relation_namespace(ctx):
    """A stream, CV or transform may not take a name another one
    holds; the existing relations keep working."""
    ctx.create_stream("ns", "x int")
    ctx.create_view("nv", "SELECT count(*) AS n FROM ns")
    ctx.create_transform("nt", "SELECT x FROM ns")
    creators = (lambda n: ctx.create_stream(n, "x int"),
                lambda n: ctx.create_view(n, "SELECT count(*) AS n FROM ns"),
                lambda n: ctx.create_transform(n, "SELECT x FROM ns"),
                lambda n: ctx.create_python_transform(n, "ns", lambda d: d))
    for create in creators:
        for held in ("ns", "nv", "nt", "NV"):
            with pytest.raises(CQError, match="already exists"):
                create(held)
    assert ctx.streams["ns"].readers == ["nv", "nt"]
    ctx.insert("ns", [(1,), (2,)])
    assert ctx.read_view("nv").collect()[0]["n"] == 2
    assert [r["n"] for r in ctx.sql("SELECT n FROM nv").collect()] == [2]


def test_namespace_pair_from_older_root_replays(spark, tmp_path):
    """A root written before the one-namespace rule may hold a stream
    and a CV of one name; a fresh context still loads it."""
    import json
    import os

    root = str(tmp_path / "old")
    ctx = PipelineContext(spark, root=root, num_buckets=4)
    ctx.create_stream("a", "x int")
    ctx.create_stream("b", "x int")
    path = os.path.join(root, "catalog.json")
    with open(path) as f:
        catalog = json.load(f)
    catalog.append({"kind": "view", "name": "a",
                    "sql": "SELECT count(*) AS n FROM b",
                    "opts": {"sw": None, "step_factor": 5.0, "ttl": None,
                             "ttl_column": None, "pk": None}})
    with open(path, "w") as f:
        json.dump(catalog, f)
    ctx2 = PipelineContext(spark, root=root, num_buckets=4)
    assert "a" in ctx2.streams and "a" in ctx2.views
    ctx2.close()


def test_explicit_column_list_names_stream_columns(ctx):
    """An INSERT column list (SELECT or VALUES body) and a tuple-row
    ``columns=`` list must name stream columns, as ``prepare_insert``
    requires; no all-NULL row is inserted."""
    ctx.create_stream("cl", "k string, x int")
    ctx.create_view("cl_n", "SELECT count(*) AS n FROM cl")
    for bad in (lambda: ctx.sql("INSERT INTO cl (kk, xx) SELECT 'a', 1"),
                lambda: ctx.sql("INSERT INTO cl (kk, xx) VALUES ('a', 1)"),
                lambda: ctx.insert("cl", [("a", 1)], columns=["kk", "xx"])):
        with pytest.raises(CQError, match="column 'kk' does not exist"):
            bad()
    assert ctx.streams["cl"].input_rows == 0
