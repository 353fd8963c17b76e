"""Type-variant aggregate coverage (reference runs each aggregate per
value type: int8, float, decimal, bool, text, bytea — cont_avg.sql,
typed_streams.sql, cont_complex_types.sql) + stats/catalog listings."""

import datetime
import pytest


def test_avg_sum_decimal(ctx):
    ctx.create_stream("ty1", "k string, v decimal(38,12)")
    ctx.create_view("cv_dec", "SELECT k, avg(v) AS a, sum(v) AS s, "
                              "count(v) AS n FROM ty1 GROUP BY k")
    from decimal import Decimal
    ctx.insert("ty1", [{"k": "a", "v": Decimal("1.5")},
                       {"k": "a", "v": Decimal("2.5")}])
    ctx.insert("ty1", [{"k": "a", "v": Decimal("3.0")}])
    row = ctx.read_view("cv_dec").collect()[0]
    assert float(row["s"]) == 7.0
    assert float(row["a"]) == pytest.approx(7.0 / 3.0)


def test_min_max_timestamp_and_string(ctx):
    ctx.create_stream("ty2", "k string, ts timestamp, name string")
    ctx.create_view("cv_mm",
                    "SELECT k, min(ts) AS first_ts, max(ts) AS last_ts, "
                    "min(name) AS lo, max(name) AS hi FROM ty2 GROUP BY k")
    t1 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    t2 = datetime.datetime(2024, 6, 15, 9, 30, 0)
    ctx.insert("ty2", [{"k": "a", "ts": t1, "name": "zeta"},
                       {"k": "a", "ts": t2, "name": "alpha"}])
    row = ctx.read_view("cv_mm").collect()[0]
    assert row["first_ts"] == t1 and row["last_ts"] == t2
    assert row["lo"] == "alpha" and row["hi"] == "zeta"


def test_typed_stream_coercion(ctx):
    """Inserts are coerced field-by-name to the declared schema
    (reference coerce_raw_input stream_fdw.c:325-433): extra fields
    dropped, missing fields null, strings cast to numbers."""
    ctx.create_stream("ty3", "k string, v long, f double")
    ctx.create_view("cv_co", "SELECT k, sum(v) AS s, count(f) AS nf "
                             "FROM ty3 GROUP BY k")
    ctx.insert("ty3", [{"k": "a", "v": "42", "extra": "ignored"},
                       {"k": "a", "v": 8, "f": 1.5}])
    row = ctx.read_view("cv_co").collect()[0]
    assert row["s"] == 50
    assert row["nf"] == 1  # missing f → null → not counted


def test_complex_array_column_in_stream(ctx):
    ctx.create_stream("ty4", "k string, tags array<string>")
    ctx.create_view(
        "cv_tags",
        "SELECT k, count(*) AS n, set_agg(size(tags)) AS sizes "
        "FROM ty4 GROUP BY k")
    ctx.insert("ty4", [{"k": "a", "tags": ["x", "y"]},
                       {"k": "a", "tags": ["z"]}])
    row = ctx.read_view("cv_tags").collect()[0]
    assert row["n"] == 2 and row["sizes"] == [1, 2]


def test_stats_and_listings(ctx):
    # output_rows counts osrel emissions; with no downstream readers
    # emission is reader-gated off by default, so opt into retention
    ctx.track_output_streams = True
    ctx.create_stream("st1", "k string, v long")
    ctx.create_view("cv_stat", "SELECT k, count(*) AS n FROM st1 GROUP BY k")
    ctx.create_transform("tr_stat", "SELECT k FROM st1 WHERE v > 0")
    ctx.insert("st1", [{"k": "a", "v": 1}, {"k": "b", "v": -1}])
    ctx.insert("st1", [{"k": "a", "v": 2}])

    views = {r["name"]: r for r in ctx.list_views().collect()}
    assert views["cv_stat"]["action"] == "materialize"
    assert views["tr_stat"]["action"] == "transform"

    streams = {r["name"]: r for r in ctx.list_streams().collect()}
    assert "cv_stat" in streams["st1"]["readers"]

    stats = {r["name"]: r for r in ctx.stats_df().collect()}
    assert stats["cv_stat"]["input_rows"] == 3
    assert stats["cv_stat"]["batches"] == 2
    assert stats["tr_stat"]["input_rows"] == 3
    assert stats["tr_stat"]["output_rows"] == 2  # v > 0 rows emitted
    assert stats["cv_stat"]["exec_ms"] > 0

    # stream-level ingest counters (reference stream_stats view)
    ss = {r["stream"]: r for r in ctx.stream_stats().collect()}
    assert ss["st1"]["input_rows"] == 3
    assert ss["st1"]["input_batches"] == 2

    # whole-context rollup by kind (reference db_stats view)
    db = {r["kind"]: r for r in ctx.db_stats().collect()}
    assert db["view"]["input_rows"] == 3
    assert db["view"]["executions"] == 2
    assert db["transform"]["output_rows"] == 2
    assert db["view"]["exec_ms"] > 0


def test_stats_count_streamed_epochs_and_change_feed_hops(ctx, tmp_path):
    """Every ingest entry counts its rows: a Structured Streaming epoch
    (the foreachBatch handler driven directly with a DataFrame) and
    the change-feed hop into a view over output_of(...).  An empty
    epoch counts no batch."""
    from pipelinedb_spark.streaming.runtime import _foreach_batch

    ctx.create_stream("st_ep", "k string, v long")
    ctx.create_view("cv_ep", "SELECT k, count(*) AS n FROM st_ep "
                             "GROUP BY k")
    ctx.create_view("cv_ep_down", "SELECT count(*) AS n "
                                  "FROM output_of('cv_ep')")
    handler = _foreach_batch(ctx, "st_ep", str(tmp_path / "ck_ep"))
    handler(ctx.spark.createDataFrame([], "k string, v long"), 0)
    handler(ctx.spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)],
                                      "k string, v long"), 1)
    ss = {r["stream"]: r for r in ctx.stream_stats().collect()}
    assert (ss["st_ep"]["input_rows"], ss["st_ep"]["input_batches"]) \
        == (3, 1)
    # the epoch changed groups a and b: two change rows per hop
    assert (ss["cv_ep_osrel"]["input_rows"],
            ss["cv_ep_osrel"]["input_batches"]) == (2, 1)
    ctx.insert("st_ep", [{"k": "c", "v": 4}])
    ss = {r["stream"]: r for r in ctx.stream_stats().collect()}
    assert (ss["st_ep"]["input_rows"], ss["st_ep"]["input_batches"]) \
        == (4, 2)
    assert (ss["cv_ep_osrel"]["input_rows"],
            ss["cv_ep_osrel"]["input_batches"]) == (3, 2)
    stats = {r["name"]: r for r in ctx.stats_df().collect()}
    assert stats["cv_ep"]["input_rows"] == 4
    assert stats["cv_ep"]["output_rows"] == 3
    assert stats["cv_ep_down"]["input_rows"] == 3
    assert ctx.read_view("cv_ep_down").collect()[0]["n"] == 3


def test_complex_typed_stream_coercion(ctx):
    """Array / map / struct stream columns coerce element-wise on
    insert (reference cont_complex_types.sql, typed_streams.sql) —
    including JSON-string inputs."""
    ctx.create_stream(
        "cx1",
        "k string, xs array<int>, m map<string,int>, "
        "s struct<a:int,b:string>")
    ctx.create_view(
        "cv_cx",
        "SELECT k, count(*) AS n, sum(size(xs)) AS total_elems, "
        "max(s.a) AS max_a FROM cx1 GROUP BY k")
    ctx.insert("cx1", [
        {"k": "a", "xs": [1, 2, "3"], "m": {"x": "7"},
         "s": {"a": 5, "b": "z"}},
        {"k": "a", "xs": "[4, 5]", "m": '{"y": 8}',
         "s": '{"a": 9, "b": "w"}'},
    ])
    row = ctx.read_view("cv_cx").collect()[0]
    assert row["n"] == 2 and row["total_elems"] == 5 and row["max_a"] == 9


def test_complex_coercion_errors(ctx):
    import pytest
    from pipelinedb_spark import CQError
    ctx.create_stream("cx2", "k string, xs array<int>")
    with pytest.raises(CQError, match="not a sequence"):
        ctx.insert("cx2", [{"k": "a", "xs": 42}])


def test_kafka_source_gated(ctx):
    """format('kafka') wiring exists; without the connector jar it
    fails with a clear CQError, not a ClassNotFoundException."""
    import pytest
    from pipelinedb_spark import CQError
    from pipelinedb_spark.streaming.runtime import attach_kafka_stream
    ctx.create_stream("kf1", "k string, v long")
    ctx.create_view("cv_kf", "SELECT k, count(*) AS n FROM kf1 GROUP BY k")
    with pytest.raises(CQError, match="kafka source unavailable"):
        attach_kafka_stream(ctx, "kf1", "localhost:9092", "topic")


def test_cv_sum_interval(ctx):
    """sum/avg/min over INTERVAL columns and interval arithmetic in a
    CQ (reference sum polymorphic family includes interval,
    pipelinedb--1.0.0.sql:142-265)."""
    import datetime
    ctx.create_stream("iv_s", "k string, iv interval day to second")
    ctx.create_view("cv_iv", "SELECT k, sum(iv) AS total, avg(iv) AS mean, "
                             "min(iv) AS shortest FROM iv_s GROUP BY k")
    td = datetime.timedelta
    ctx.insert("iv_s", [{"k": "a", "iv": td(hours=1)},
                        {"k": "a", "iv": td(minutes=30)}])
    ctx.insert("iv_s", [{"k": "a", "iv": td(seconds=30)},
                        {"k": "b", "iv": td(days=1)}])
    got = {r["k"]: r for r in ctx.read_view("cv_iv").collect()}
    assert got["a"]["total"] == td(hours=1, minutes=30, seconds=30)
    assert got["a"]["mean"] == td(minutes=30, seconds=10)
    assert got["a"]["shortest"] == td(seconds=30)
    assert got["b"]["total"] == td(days=1)

    # interval arithmetic inside the CQ: ts2 - ts1 aggregated
    ctx.create_stream("iv_s2", "t0 timestamp, t1 timestamp")
    ctx.create_view("cv_gap", "SELECT count(*) AS n, sum(t1 - t0) AS gap "
                              "FROM iv_s2")
    d = datetime.datetime
    ctx.insert("iv_s2", [{"t0": d(2020, 1, 1, 0, 0, 0),
                          "t1": d(2020, 1, 1, 2, 0, 0)},
                         {"t0": d(2020, 1, 2, 0, 0, 0),
                          "t1": d(2020, 1, 2, 0, 45, 0)}])
    row = ctx.read_view("cv_gap").collect()[0]
    assert row["n"] == 2 and row["gap"] == td(hours=2, minutes=45)
