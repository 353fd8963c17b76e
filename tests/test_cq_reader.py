"""One SQL reader for continuous queries: the CQ analyzer takes clauses,
select items, aliases, aggregates, relations and the sliding-window
predicate from Spark's parse tree, so comments, implicit aliases, quoted
identifiers and column names that equal a stream's name read as Spark
reads them.  Also: ``close()`` keeps a caller's state root."""

import os

import pytest

from pipelinedb_spark import CQError, PipelineContext


@pytest.fixture(scope="module")
def qctx(spark, tmp_path_factory):
    ctx = PipelineContext(spark, root=str(tmp_path_factory.mktemp("cq")),
                          num_buckets=4)
    ctx.create_stream("s", "k string, x int")
    ctx.create_stream("clicks", "k string, s int")
    ctx.create_stream("s2", "`from` string, x int")
    yield ctx
    ctx.close()


_ROWS = [("a", 1), ("a", 2), ("b", 3)]
_CLICKS = [("a", 1), ("a", 0), ("b", 2)]

# name: (stream, rows, CQ, expected columns, expected rows)
_MISREADS = {
    "implicit_alias_group_key": (
        "s", _ROWS, "SELECT k key, count(*) n FROM s GROUP BY k",
        ["key", "n"], {("a", 2), ("b", 1)}),
    "implicit_alias_aggregate": (
        "s", _ROWS, "SELECT k, count(*) n FROM s GROUP BY k",
        ["k", "n"], {("a", 2), ("b", 1)}),
    "line_comment": (
        "s", _ROWS,
        "SELECT k, count(*) AS n FROM s -- WHERE clause dropped\nGROUP BY k",
        ["k", "n"], {("a", 2), ("b", 1)}),
    "block_comment": (
        "s", _ROWS,
        "SELECT k, count(*) AS n /* FROM t */ FROM s GROUP BY k",
        ["k", "n"], {("a", 2), ("b", 1)}),
    "column_named_like_a_stream": (
        "clicks", _CLICKS,
        "SELECT k, count(*) AS n FROM "
        "(SELECT k, s FROM clicks WHERE s > 0) sub GROUP BY k",
        ["k", "n"], {("a", 1), ("b", 1)}),
    "backtick_identifier": (
        "s2", _ROWS,
        "SELECT `from` AS f, count(*) AS n FROM s2 GROUP BY `from`",
        ["f", "n"], {("a", 2), ("b", 1)}),
}


@pytest.mark.parametrize("case", list(_MISREADS))
def test_cq_read_from_parse_tree(qctx, case):
    """Each CQ here was rejected or misnamed by the clause splitter."""
    stream, rows, sql, cols, want = _MISREADS[case]
    qctx.create_view(case, sql)
    try:
        assert qctx.views[case].plan.stream == stream
        qctx.insert(stream, rows)
        df = qctx.read_view(case)
        assert df.columns == cols
        assert {tuple(r) for r in df.collect()} == want
    finally:
        qctx.drop_view(case)


def test_cte_rejected(qctx):
    with pytest.raises(CQError, match="don't support CTEs"):
        qctx.create_view("cte",
                         "WITH a AS (SELECT * FROM s) SELECT count(*) FROM a")


def test_sw_conjunct_keeps_or_grouping(qctx):
    """Removing the sliding-window conjunct rejoins the rest with AND;
    a parenthesised OR among them keeps its meaning."""
    qctx.create_view(
        "sw_or", "SELECT k, count(*) AS n FROM s "
        "WHERE (x > 5 OR k = 'b') AND arrival_timestamp > "
        "clock_timestamp() - interval '1 hour' AND k <> 'c' GROUP BY k")
    try:
        assert qctx.views["sw_or"].plan.sw_seconds == 3600
        qctx.insert("s", [("a", 1), ("a", 9), ("b", 1), ("c", 9)])
        got = {tuple(r) for r in qctx.read_view("sw_or").collect()}
        assert got == {("a", 1), ("b", 1)}
    finally:
        qctx.drop_view("sw_or")


def test_pg_quoted_alias(qctx):
    qctx.create_view("quoted",
                     'SELECT k, sum(x) AS "Total" FROM s GROUP BY k')
    try:
        qctx.insert("s", _ROWS)
        df = qctx.read_view("quoted")
        assert df.columns == ["k", "Total"]
        assert {tuple(r) for r in df.collect()} == {("a", 3), ("b", 3)}
    finally:
        qctx.drop_view("quoted")


def test_close_keeps_callers_root(spark, tmp_path):
    """``close()`` then a fresh context over the same root: the
    documented restart path reads the view back."""
    root = str(tmp_path / "keep")
    ctx = PipelineContext(spark, root=root, num_buckets=4)
    ctx.create_stream("cs", "k string")
    ctx.create_view("cn", "SELECT k, count(*) AS n FROM cs GROUP BY k")
    ctx.insert("cs", [("a",), ("a",)])
    ctx.close()
    ctx2 = PipelineContext(spark, root=root, num_buckets=4)
    assert [tuple(r) for r in ctx2.read_view("cn").collect()] == [("a", 2)]
    ctx2.close()
    own = PipelineContext(spark, num_buckets=4)
    own.close()
    assert not os.path.exists(own.root)
