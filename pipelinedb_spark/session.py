"""SparkSession factory tuned for the pipelinedb_spark engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads),
but every config here is chosen so the same plans scale to a large
cluster: AQE handles skew/coalescing at runtime, shuffle partitions are
sized for the local test scale and meant to be raised (or left to AQE)
at cluster scale, and Arrow makes the unavoidable pandas-UDF paths
batch-vectorized instead of row-at-a-time.  Arrow also carries every
frame built from driver-side rows — list inserts, the matrel validity
table, catalog listings — into the JVM (:func:`arrow_frame`), so no
commit or read starts a Python worker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULTS = {
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones. Essential at 100 TB where static partition counts are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Local-scale shuffle width; at cluster scale AQE coalesces upward
    # from a much larger initial number.
    "spark.sql.shuffle.partitions": "32",
    # Scale-adaptive shuffle width: plan every exchange at 512 and let
    # AQE coalesce down to actual data size.  With only the static 32
    # above, a 100x-data run packs 100x rows into each shuffle
    # partition — the sf100 probe OOM'd building the LSH self-join's
    # per-partition hash map exactly this way.  A high initial count
    # keeps per-task build/agg state bounded as data grows (the same
    # number a 1000-executor cluster would plan with), while
    # coalescing keeps small-SF latency at the 32-partition shape.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    # Arrow for all pandas-UDF / toPandas paths (sketch UDAFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast small dimension tables aggressively (TPC-H dims,
    # stream-table join lookup sides).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Timestamps: keep session in UTC so event-time bucketing is stable
    # across driver/executor timezones.
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: PipelineDB/PG-style permissive casts in stream coercion.
    "spark.sql.ansi.enabled": "false",
    # parquet TIMESTAMP(NANOS) (testdata events.ts in some generators)
    # has no Spark type — surface it as bigint ns; set once here, not
    # toggled per-read (racy on a shared session).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # cheap commits for the many small matrel/osrel parquet writes:
    # direct task commit (v2) and no _SUCCESS marker files
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
}


def arrow_frame(spark: SparkSession, rows: list,
                schema: T.StructType | str,
                slices: int | None = None) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``
    field order, or dicts), handed to the JVM as one Arrow table — the
    rule Spark Connect uses for local lists.  ``createDataFrame`` over
    a Python list builds a PythonRDD instead, and every job over that
    starts Python workers.  Values must already fit ``schema``
    (``engine._py_coerce`` is the per-value rule for inserts); the
    Arrow step rounds nothing that is already at scale.

    ``slices`` fixes the partition count.  The JVM spreads a small
    Arrow table as a LocalRelation over min(rows, cores) partitions,
    whatever its batch count, and ``coalesce(1)`` would declare the
    frame single-partition, so aggregates over it would drop the
    exchange a DataFrame insert of the same rows still runs: the two
    entries would cost different jobs.  So the rows go in as
    ``slices`` contiguous chunks, one array row each, one Arrow batch
    each, and ``inline`` expands them in the JVM: exactly ``slices``
    partitions in row order, on either of the JVM's routes (a
    LocalRelation, or past its size threshold one partition per
    batch)."""
    import pyarrow as pa
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    if slices is not None:
        bounds = [len(rows) * i // slices for i in range(slices + 1)]
        rows = [(rows[a:b],) for a, b in zip(bounds, bounds[1:])]
        # no null elements: ``inline`` would make every nested field
        # of a nullable-element array nullable
        schema = T.StructType([T.StructField("r", T.ArrayType(schema, False))])
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, False)
    else:
        table = to_arrow_schema(schema).empty_table()
    if slices is None:
        return spark.createDataFrame(table, schema)
    table = pa.Table.from_batches(table.to_batches(max_chunksize=1))
    return spark.createDataFrame(table, schema).select(F.inline("r"))


def get_spark(app_name: str = "pipelinedb_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally provided session
    (the driver passes its own session to ``entry``)."""
    for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        try:
            spark.conf.set(k, _DEFAULTS[k])
        except Exception:
            pass  # statically-configured entries can't be reset; fine
    return spark
