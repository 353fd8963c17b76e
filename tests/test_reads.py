"""The read path: every read of a continuous view settles first (ships
the stream's buffered prepared rows, then commits pending batches),
and ``ctx.sql`` registers, fresh, only the relations a query names."""

import pytest
from pyspark.errors import AnalysisException

from pipelinedb_spark.matrel import MatrelStore


def _count_of_a(ctx, how):
    if how == "read_view":
        rows = ctx.read_view("rd_pv").collect()
    elif how == "sql":
        rows = ctx.sql("SELECT k, n FROM rd_pv").collect()
    elif how == "sql_combine":
        rows = ctx.sql("SELECT k, combine(n) AS n FROM rd_pv "
                       "GROUP BY k").collect()
    elif how == "combine_read":
        rows = ctx.combine_read("rd_pv", group_by=["k"]).collect()
    else:  # read_matrel: the count state is the visible count
        state = next(c for c in ctx.read_matrel("rd_pv").columns
                     if c.startswith("n"))
        rows = ctx.read_matrel("rd_pv").selectExpr(
            "k", f"`{state}` AS n").collect()
    return {r["k"]: r["n"] for r in rows}["a"]


@pytest.mark.parametrize("how", ["read_view", "sql", "sql_combine",
                                 "combine_read", "read_matrel"])
def test_prepared_rows_visible_to_every_read(ctx, how):
    ctx.create_stream("rd_ps", "k string, x long")
    ctx.create_view("rd_pv", "SELECT k, count(*) AS n FROM rd_ps "
                             "GROUP BY k")
    ctx.insert("rd_ps", [{"k": "a", "x": 1}])
    p = ctx.prepare_insert("rd_ps", columns=["k", "x"], batch_size=100)
    p.execute("a", 10)
    assert _count_of_a(ctx, how) == 2


def test_named_relations_are_registered_fresh(ctx):
    """Before the first commit, after a truncate, and after a drop or
    rename, a query sees the view as it is now."""
    ctx.create_stream("rd_fs", "k string")
    ctx.create_view("rd_fv", "SELECT k, count(*) AS n FROM rd_fs "
                             "GROUP BY k")
    n_mrel = "SELECT count(*) AS c FROM rd_fv_mrel"
    assert ctx.sql(n_mrel).first()["c"] == 0
    assert ctx.sql("SELECT * FROM rd_fv").count() == 0
    ctx.insert("rd_fs", [{"k": "a"}, {"k": "b"}])
    assert ctx.sql(n_mrel).first()["c"] == 2
    ctx.truncate_view("rd_fv")
    assert ctx.sql(n_mrel).first()["c"] == 0
    assert ctx.sql("SELECT * FROM rd_fv").count() == 0

    ctx.insert("rd_fs", [{"k": "a"}])
    assert ctx.sql("SELECT * FROM rd_fv").count() == 1
    ctx.insert("rd_fs", [{"k": "b"}])
    assert ctx.sql("SELECT * FROM RD_FV").count() == 2  # as Spark resolves
    assert ctx.sql("DESCRIBE rd_fv").count() == 2
    assert "== Physical Plan ==" in ctx.sql(
        "EXPLAIN SELECT * FROM rd_fv").first()[0]
    ctx.rename_view("rd_fv", "rd_fv2")
    for gone in ("rd_fv", "rd_fv_mrel"):
        with pytest.raises(AnalysisException, match=gone):
            ctx.sql(f"SELECT * FROM {gone}").collect()
    assert sorted(tuple(r) for r in ctx.sql("SELECT k, n FROM rd_fv2")
                  .collect()) == [("a", 1), ("b", 1)]
    ctx.drop_view("rd_fv2")
    for gone in ("rd_fv2", "rd_fv2_mrel"):
        with pytest.raises(AnalysisException, match=gone):
            ctx.sql(f"SELECT * FROM {gone}").collect()


def test_sql_reads_cost_only_the_named_views(ctx, monkeypatch):
    """A query over one of four views on a stream reads no other
    view's matrel manifest."""
    ctx.create_stream("rd_os", "k string")
    for i in range(4):
        ctx.create_view(f"rd_o{i}", "SELECT k, count(*) AS n FROM rd_os "
                                    "GROUP BY k")
    ctx.insert("rd_os", [{"k": "a"}])
    reads = []
    orig = MatrelStore._read_manifest

    def counting(self):
        reads.append(self.name)
        return orig(self)

    monkeypatch.setattr(MatrelStore, "_read_manifest", counting)
    rows = ctx.sql("SELECT k, n FROM rd_o2 ORDER BY n DESC").collect()
    assert [tuple(r) for r in rows] == [("a", 1)]
    assert reads and set(reads) == {"rd_o2"}
