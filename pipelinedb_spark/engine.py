"""The continuous-query engine: streams, continuous views, transforms.

Public surface mirrors PipelineDB's DDL/DML verbs
(``CREATE FOREIGN TABLE … SERVER pipelinedb`` → ``create_stream``,
``CREATE VIEW … WITH (action=materialize)`` → ``create_view``,
``INSERT INTO stream`` → ``insert``, reading a CV → ``read_view``,
``output_of('cv')`` → ``output_of``, ``CREATE VIEW … action=transform``
→ ``create_transform``).  Reference lifecycle:
``src/pipeline_query.c:1600-1995`` (ExecCreateContViewStmt),
``src/worker.c:339-467`` (worker), ``src/combiner.c:1323-1633``
(combine/sync_combine), ``src/reaper.c`` (TTL).

Execution model: PipelineDB is a micro-batch engine (10k-row batches,
50 ms combiner commits).  Here every ``insert`` is one micro-batch that
flows worker-partial-agg → bucketed matrel MERGE → output-stream
emission, all as Spark DataFrame jobs.  ``attach_stream`` additionally
runs the same pipeline continuously from a Structured Streaming source
via ``foreachBatch`` (see ``streaming/runtime.py``).
"""

from __future__ import annotations

import decimal
import functools
import logging
import os
import re
import shutil
import tempfile
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelinedb_spark.aggregates import (REGISTRY, AggRegistry, AggSpec,
                                         state_col)
from pipelinedb_spark.functions.time import ts_epoch
from pipelinedb_spark.analyzer import CQError, CQPlan, analyze
from pipelinedb_spark.matrel import BUCKET_COL, MatrelStore
from pipelinedb_spark.session import arrow_frame

ARRIVAL_COL = "arrival_timestamp"
STEP_COL = "_step"
GID_COL = "_gid"
SEQ_COL = "_seq"  # arrival serial for append CVs with LIMIT/OFFSET


_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
             T.LongType: 64}
_WIDE = decimal.Context(prec=80)  # quantize never clips; range is checked


def _py_coerce(value: Any, dtype: T.DataType) -> Any:
    """Input-representation coercion for Python-literal inserts: cast
    each value to the declared field type, with the string-parse
    fallback PipelineDB applies (reference coerce_raw_input
    src/stream_fdw.c:325-433).  None / NaN → null."""
    if value is None:
        return None
    if isinstance(value, float) and value != value:  # NaN
        return None
    try:
        bits = _INT_BITS.get(type(dtype))
        if bits is not None:
            v = int(value)
            if not -(1 << bits - 1) <= v < 1 << bits - 1:
                raise CQError(f"cannot coerce {value!r} to "
                              f"{dtype.simpleString()}: out of range")
            return v
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            return float(value)
        if isinstance(dtype, T.StringType):
            return value if isinstance(value, str) else str(value)
        if isinstance(dtype, T.BooleanType):
            if isinstance(value, str):
                return value.strip().lower() in ("t", "true", "1", "yes", "on")
            return bool(value)
        if isinstance(dtype, T.DecimalType):
            # HALF_UP at the declared scale, the JVM's rule for a
            # Python decimal (Arrow's own quantize rounds HALF_EVEN)
            d = decimal.Decimal(str(value)).quantize(
                decimal.Decimal(1).scaleb(-dtype.scale),
                rounding=decimal.ROUND_HALF_UP, context=_WIDE)
            if d.is_finite() and len(d.as_tuple().digits) > dtype.precision:
                raise CQError(f"cannot coerce {value!r} to "
                              f"{dtype.simpleString()}: out of range")
            return d
        if isinstance(dtype, T.TimestampType) and isinstance(value, str):
            import datetime
            return datetime.datetime.fromisoformat(value)
        # complex types (reference cont_complex_types.sql,
        # typed_streams.sql): recurse element-wise
        if isinstance(dtype, T.ArrayType):
            if isinstance(value, str):
                import json
                value = json.loads(value)
            if not isinstance(value, (list, tuple)):
                raise CQError(f"cannot coerce {value!r} to "
                              f"{dtype.simpleString()}: not a sequence")
            return [_py_coerce(v, dtype.elementType) for v in value]
        if isinstance(dtype, T.MapType):
            if isinstance(value, str):
                import json
                value = json.loads(value)
            if not isinstance(value, dict):
                raise CQError(f"cannot coerce {value!r} to "
                              f"{dtype.simpleString()}: not a mapping")
            return {_py_coerce(k, dtype.keyType):
                    _py_coerce(v, dtype.valueType)
                    for k, v in value.items()}
        if isinstance(dtype, T.StructType):
            if isinstance(value, str):
                import json
                value = json.loads(value)
            if isinstance(value, dict):
                return tuple(_py_coerce(value.get(f.name), f.dataType)
                             for f in dtype.fields)
            if isinstance(value, (list, tuple)):
                if len(value) != len(dtype.fields):
                    raise CQError(
                        f"cannot coerce {value!r} to "
                        f"{dtype.simpleString()}: field count mismatch")
                return tuple(_py_coerce(v, f.dataType)
                             for v, f in zip(value, dtype.fields))
            raise CQError(f"cannot coerce {value!r} to "
                          f"{dtype.simpleString()}")
    except CQError:
        raise
    except (ValueError, TypeError, decimal.InvalidOperation) as e:
        raise CQError(f"cannot coerce {value!r} to {dtype.simpleString()}: {e}")
    return value


_BIND_LOCK = threading.Lock()


def _sql_over(df: DataFrame, name: str, query: str) -> DataFrame:
    """``query`` analysed with ``df`` bound to ``name`` for the analysis
    only.  The name goes on ``df``'s own session: a foreachBatch frame
    belongs to a cloned session with its own temp-view catalog.
    ``sql()`` resolves eagerly, so the name is dropped before this
    returns and a stream's batch never stays readable in the session
    catalog.  One lock covers bind, analyse and drop: parallel
    dispatch threads share a session."""
    sess = df.sparkSession
    with _BIND_LOCK:
        df.createOrReplaceTempView(name)
        try:
            return sess.sql(query)
        finally:
            sess.catalog.dropTempView(name)


def grouped_agg(df: DataFrame, key_cols: list, key_names: list[str],
                jvm_aggs: list, pd_aggs: list) -> DataFrame:
    """groupBy().agg() that tolerates a mix of JVM aggregates and
    grouped-agg pandas UDFs (Spark forbids them in one agg()): when
    both are present, run two grouped passes over the same (bounded,
    checkpointed) micro-batch and join back on the keys null-safely."""
    if not pd_aggs:
        return df.groupBy(*key_cols).agg(*jvm_aggs)
    if not jvm_aggs:
        return df.groupBy(*key_cols).agg(*pd_aggs)
    a = df.groupBy(*key_cols).agg(*jvm_aggs).alias("a")
    b = df.groupBy(*key_cols).agg(*pd_aggs).alias("b")
    if not key_names:
        joined = a.crossJoin(b)
        b_vals = b.columns
    else:
        cond = None
        for k in key_names:
            c = F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
            cond = c if cond is None else (cond & c)
        joined = a.join(b, cond, "inner")
        b_vals = [c for c in b.columns if c not in key_names]
    return joined.select(*[F.col(f"a.{c}") for c in a.columns],
                         *[F.col(f"b.{c}") for c in b_vals])


def _observe_count(df: DataFrame) -> tuple[DataFrame, Any]:
    """Attach a row-count Observation to ``df``: the count rides the
    first job that materializes the frame, so counting costs no job of
    its own.  Read it with ``_observed_count`` after that job ran."""
    from pyspark.sql import Observation
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _observed_count(obs: Any) -> int:
    """The row count an ``_observe_count`` Observation saw.  When Spark
    proves the observed input empty it prunes the observed node (e.g.
    below a grouped aggregate) and completes the Observation with a
    zero-length row; that reads as 0."""
    row = obs._jo.getRow()
    return int(row.get(0)) if row.length() else 0


@dataclass
class StreamDef:
    name: str
    schema: T.StructType
    # CVs/transforms consuming this stream, in creation order
    readers: list[str] = field(default_factory=list)
    # per-stream ingest counters (reference get_stream_stats,
    # sql:2792-2802 — input_bytes omitted: rows flow as columnar
    # DataFrames, not serialized tuples, so a byte count would be
    # fiction)
    input_rows: int = 0
    input_batches: int = 0


@dataclass
class Stats:
    input_rows: int = 0
    output_rows: int = 0
    batches: int = 0
    errors: int = 0
    exec_ms: float = 0.0


class ContView:
    """One continuous view: analyzer plan + matrel + overlay builder."""

    def __init__(self, ctx: "PipelineContext", name: str, sql: str,
                 plan: CQPlan, ttl: float | None, ttl_column: str | None,
                 max_age_fn: Callable[[], float] | None = None,
                 pk: str | None = None) -> None:
        self.ctx = ctx
        self.name = name
        self.sql = sql
        self.plan = plan
        self.ttl = ttl
        self.ttl_column = ttl_column
        self.active = True
        self.stats = Stats()
        self.matrel = MatrelStore(ctx.spark, ctx.matrel_root, name,
                                  num_buckets=ctx.num_buckets)
        self._registry = ctx.registry
        # pending micro-batches awaiting a combiner commit (the
        # reference's in-memory pre-combine between commit intervals,
        # src/combiner.c:1323-1369 + need_sync :1994)
        # (df, txn) pairs: per-batch txn tags so a commit can drop
        # individual replayed epochs and record EVERY source's high
        # version — a single-slot tag compared versions across
        # different app_ids and lost one source's accounting when
        # attachments changed mid-interval (code-review finding)
        self._pending: list[tuple[DataFrame,
                                  tuple[str, int] | None]] = []
        self._pending_lock = threading.Lock()
        # serializes matrel commits from concurrent writers (dispatch
        # thread vs background reaper/auto-compaction): the manifest
        # swap is last-writer-wins, so an unserialized merge racing a
        # compact could drop the merge's bucket updates
        self.commit_lock = threading.Lock()
        self._group_cols = list(plan.group_names)
        if plan.grouping_sets is not None:
            # grouping sets: matrel keyed by group cols + grouping_id
            # (reference keeps grouping sets on the worker and groups
            # the combiner by the hoisted columns, analyzer.c:2819-2859)
            self._group_cols = self._group_cols + [GID_COL]
        if plan.sw_column is not None:
            self._group_cols = self._group_cols + [STEP_COL]
        # append CV with LIMIT and/or OFFSET: rows carry an arrival
        # serial so the overlay can return the FIRST limit rows after
        # skipping offset, in arrival order (reference cont_limit.sql —
        # the matrel's $pk serial plays this role there)
        self._arrival_log = plan.append and (plan.limit is not None
                                             or plan.offset is not None)
        if self._arrival_log:
            self._group_cols = self._group_cols + [SEQ_COL]
        self._next_seq: int | None = None
        # user-designated matrel primary key (reference WITH (pk='col'),
        # pipeline_query.c:1735-1770, test cont_pk.sql): the designated
        # column replaces the group-hash as the matrel's row identity.
        if pk is not None:
            if not isinstance(pk, str):
                raise CQError("continuous view primary keys must be "
                              "specified with a valid column name")
            valid = set(plan.group_names) | {c.out for c in plan.aggs}
            if pk not in valid:
                raise CQError(f'primary key column "{pk}" not found')
        self.pk = pk
        # bucket identity: a pk that is a group column keys the matrel
        # buckets alone (point-lookups prune by pk hash); a pk on an
        # aggregate output cannot drive bucketing (its value changes
        # with every merge), so bucketing stays on the group hash and
        # pk uniqueness is enforced at read (finalize) time.
        self._bucket_cols = ([pk] if pk in set(plan.group_names)
                             else self._group_cols)
        # SW matrels use a TIME-LEADING bucket layout: bucket id =
        # floor(step_epoch / step), so every row of a bucket shares
        # ONE step and (a) window expiry is a manifest-level bucket
        # drop with zero read/rewrite of live data, (b) merges touch
        # only current-step buckets, (c) reads prune expired buckets
        # from the manifest before opening any file.  This is the
        # parquet analog of the reference's time-leading ls_hash_group
        # locality index (src/pipeline_query.c:771-903,
        # src/hashfuncs.c:93-137).  A store created under the older
        # hash layout keeps it (ensure_layout pins "hash"), preserving
        # replayed roots.
        self._time_bucketed = False
        if plan.sw_column is not None and self._bucket_cols == self._group_cols:
            step = float(plan.sw_step_seconds)
            if self.matrel.ensure_layout("step") == "step":
                self._time_bucketed = True
                # ROUND, not floor: STEP_COL is floor(e/step)*step
                # round-tripped through microsecond timestamps, so for
                # fractional steps (e.g. 2.1 s) the stored epoch sits
                # ±µs around k*step and floor(epoch/step) lands in
                # bucket k-1 for ~20% of steps — which would make
                # manifest-level expiry/pruning drop in-window rows.
                # epoch/step is always k ± 1e-9, never near .5, so
                # round() recovers k exactly.
                self.matrel.bucket_expr_fn = lambda: F.round(
                    ts_epoch(F.col(STEP_COL)) / F.lit(step)).cast("long")
        # matrel CHECK constraints: name -> boolean SQL expr over the
        # CV's user-visible columns (reference matrel_constraints.sql)
        self.constraints: dict[str, str] = {}

    # -- worker: micro-batch → partial states -------------------------------
    def worker(self, pre_df: DataFrame) -> DataFrame:
        plan = self.plan
        if plan.where:
            pre_df = pre_df.filter(F.expr(plan.where))
        keys = [F.expr(g).alias(n)
                for g, n in zip(plan.group_exprs, plan.group_names)]
        if self._arrival_log:
            # arrival serial: monotonically_increasing_id preserves
            # (partition, row) = ingest order with NO shuffle — a
            # row_number window here would collapse the batch to one
            # partition.  Serials are sparse, but only ORDER matters
            # (the overlay sorts by _seq); the persisted high-water
            # mark keeps later batches strictly above earlier ones.
            base = self._seq_base()
            pre_df = pre_df.withColumn(
                SEQ_COL,
                F.monotonically_increasing_id() + F.lit(base + 1))
            keys.append(F.col(SEQ_COL))
        if plan.sw_column is not None:
            step = float(plan.sw_step_seconds)
            keys.append(
                F.timestamp_seconds(
                    F.floor(ts_epoch(F.expr(plan.sw_column)) / step) * step
                ).alias(STEP_COL))
        jvm_aggs, pd_aggs = [], []
        for call in plan.aggs:
            spec = self._registry.get(call.func)
            target = pd_aggs if spec.pandas else jvm_aggs
            for suffix, col in spec.partial(call.worker_args()).items():
                target.append(col.alias(state_col(call.out, suffix)))
        if not jvm_aggs and not pd_aggs:
            # pure-DISTINCT CV: presence marker so merge has a state col
            jvm_aggs = [F.count(F.lit(1)).alias(state_col("_present", "n"))]
        if plan.grouping_sets is not None:
            if not pd_aggs and plan.sw_column is None:
                # aliased keys don't match set exprs; group on raw
                # exprs, rename leading grouping columns positionally
                raw_keys = [F.expr(g) for g in plan.group_exprs]
                sets = [[F.expr(g) for g in s] for s in plan.grouping_sets]
                out = (pre_df.groupingSets(sets, *raw_keys)
                       .agg(*jvm_aggs, F.grouping_id().alias(GID_COL)))
                renames = dict(zip(out.columns[: len(raw_keys)],
                                   plan.group_names))
                return out.withColumnsRenamed(renames)
            # pandas (sketch) aggregates can't ride Spark's native
            # grouping sets (grouped-agg UDFs don't mix into
            # groupingSets agg), and SW needs the step bucket as an
            # always-present key outside the grouping_id bit layout —
            # expand set-by-set: one grouped pass per set with absent
            # keys as typed NULLs and the same grouping_id bit layout
            # (MSB = first group expr), then union.  S extra passes
            # over the micro-batch, same shape Spark's own expansion
            # uses internally.
            nkeys = len(plan.group_exprs)
            set_names = list(plan.group_names)
            if plan.sw_column is not None:
                set_names.append(STEP_COL)
            frames = []
            for s_exprs in plan.grouping_sets:
                snorm = {re.sub(r"\s+", "", e).lower() for e in s_exprs}
                keys2, gid = [], 0
                for i, (g, name) in enumerate(zip(plan.group_exprs,
                                                  plan.group_names)):
                    present = re.sub(r"\s+", "", g).lower() in snorm
                    expr = (F.expr(g) if present
                            else F.when(F.lit(False), F.expr(g)))
                    keys2.append(expr.alias(name))
                    if not present:
                        gid |= 1 << (nkeys - 1 - i)
                if plan.sw_column is not None:
                    keys2.append(keys[-1])  # step-bucket key
                frames.append(
                    grouped_agg(pre_df, keys2, set_names,
                                list(jvm_aggs), list(pd_aggs))
                    .withColumn(GID_COL, F.lit(gid).cast("bigint")))
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out
        key_names = [n for n in plan.group_names]
        if plan.sw_column is not None:
            key_names.append(STEP_COL)
        return grouped_agg(pre_df, keys, key_names, jvm_aggs, pd_aggs)

    # -- combiner: merge partials over (old ∪ delta) ------------------------
    def state_merge_aggs(self) -> tuple[list, list]:
        """(JVM, pandas) aggregates that merge each aggregate's partial
        states back into state columns of the same names — the one
        combine rule of the commit-path merge, ``combine_read`` and the
        ``combine()`` SQL rewrite."""
        jvm_aggs, pd_aggs = [], []
        for call in self.plan.aggs:
            spec = self._registry.get(call.func)
            target = pd_aggs if spec.pandas else jvm_aggs
            s = lambda suffix, out=call.out: F.col(state_col(out, suffix))
            for suffix, col in spec.merge_exprs(s, call.args).items():
                target.append(col.alias(state_col(call.out, suffix)))
        return jvm_aggs, pd_aggs

    def with_finalized(self, df: DataFrame, prefix: str = "") -> DataFrame:
        """``df`` plus one column per aggregate, ``prefix + out``,
        holding the finalized value of its merged states."""
        for call in self.plan.aggs:
            spec = self._registry.get(call.func)
            s = lambda suffix, out=call.out: F.col(state_col(out, suffix))
            df = df.withColumn(prefix + call.out, spec.finalize(s, call.args))
        return df

    def merge_fn(self, df: DataFrame,
                 key_cols: list[str] | None = None) -> DataFrame:
        key_names = (self._group_cols if key_cols is None
                     else key_cols) + [BUCKET_COL]
        keys = [F.col(c) for c in key_names]
        jvm_aggs, pd_aggs = self.state_merge_aggs()
        if not jvm_aggs and not pd_aggs:
            jvm_aggs = [F.sum(F.col(state_col("_present", "n")))
                        .alias(state_col("_present", "n"))]
        return grouped_agg(df, keys, key_names, jvm_aggs, pd_aggs)

    # -- overlay: finalize states into user-visible rows ---------------------
    def finalize(self, states: DataFrame, extra_cols: list[str] | None = None,
                 recombine: bool = True) -> DataFrame:
        plan = self.plan
        df = states
        if plan.sw_column is not None and recombine:
            # re-combine in-window step buckets under the original keys
            # — STEP_COL must be excluded from the merge keys or rows
            # stay one-per-step (reference view_combines,
            # src/analyzer.c:2798-2805)
            df = self.merge_fn(
                df.withColumn(BUCKET_COL, F.lit(0)),
                key_cols=[c for c in self._group_cols if c != STEP_COL])
        df = self.with_finalized(df, "__fin_")
        fin_names = {call.out: f"__fin_{call.out}" for call in plan.aggs}
        # map normalized group-expr text -> matrel column
        gmap = {re.sub(r"\s+", "", g).lower(): n
                for g, n in zip(plan.group_exprs, plan.group_names)}
        out_cols = []
        for expr_text, alias in plan.select_items:
            if "{" in expr_text:
                sql_expr = expr_text
                for out, fin in fin_names.items():
                    sql_expr = sql_expr.replace("{" + out + "}", f"`{fin}`")
                out_cols.append(F.expr(sql_expr).alias(alias))
            else:
                norm = re.sub(r"\s+", "", expr_text).lower()
                src = gmap.get(norm, expr_text)
                out_cols.append(F.col(src).alias(alias))
        if extra_cols:
            out_cols = [F.col(c) for c in extra_cols] + out_cols
        if self._arrival_log and not extra_cols and SEQ_COL in df.columns:
            out_cols.append(F.col(SEQ_COL))
        if plan.append and not extra_cols:
            # no-agg CV: expand the count-compressed multiset back to
            # one row per materialized event (reference cqcreate0-2
            # matrels hold every event row; we store one row per
            # distinct projected tuple + multiplicity)
            n = F.col(state_col("_present", "n")).cast("int")
            df = df.withColumn("__rep",
                               F.explode(F.sequence(F.lit(1), n)))
        out = df.select(*out_cols)
        if (self.pk is not None and not extra_cols
                and plan.grouping_sets is None
                and plan.group_names != [self.pk]):
            # pk uniqueness when the designated pk is NOT the full group
            # identity (e.g. WITH (pk='count'), reference cont_pk.sql
            # test_pk1): conflicting rows collapse to one survivor per
            # pk value.  Deterministic: smallest remaining tuple wins.
            # (Deviation from PG: the reference surfaces whichever row
            # the constraint machinery left behind; we pick the minimum
            # — documented, deterministic, same uniqueness guarantee.)
            from pyspark.sql import Window
            others = [c for c in out.columns if c != self.pk]
            w = Window.partitionBy(self.pk).orderBy(
                *[F.asc_nulls_last(c) for c in others])
            out = (out.withColumn("__pk_rn", F.row_number().over(w))
                   .filter(F.col("__pk_rn") == 1).drop("__pk_rn"))
        if plan.distinct_on and not extra_cols:
            # DISTINCT ON: view-level dedup on the ON columns
            out = out.dropDuplicates(plan.distinct_on)
        if (plan.limit is not None or plan.offset) and not extra_cols:
            # overlay-only, like every sibling block above: internal
            # keyed frames (osrel emission, constraint evaluation) must
            # never be truncated
            if self._arrival_log and SEQ_COL in out.columns:
                # reference cont_limit.sql semantics: the view returns
                # the first `limit` rows AFTER skipping `offset`, in
                # ARRIVAL order (the matrel $pk serial there)
                out = out.orderBy(SEQ_COL)
                if plan.offset:
                    out = out.offset(plan.offset)
                if plan.limit is not None:
                    out = out.limit(plan.limit)
                out = out.drop(SEQ_COL)
            else:
                if plan.offset:
                    out = out.offset(plan.offset)
                if plan.limit is not None:
                    out = out.limit(plan.limit)
        return out

    def _seq_base(self) -> int:
        """Arrival-serial high-water mark; recovered from the matrel on
        the first batch after a restart."""
        if self._next_seq is None:
            cur = self.matrel.read()
            self._next_seq = 0 if cur is None else \
                int(cur.agg(F.max(SEQ_COL)).first()[0] or 0)
        return self._next_seq

    # -- per-batch processing -----------------------------------------------
    def accumulate(self, pre_df: DataFrame,
                   txn: tuple[str, int] | None = None) -> None:
        """Buffer a micro-batch without committing (commit-interval
        mode): the worker/combiner run once over the accumulated
        batches at the next commit or read.  A replayed epoch already
        sitting in the buffer is dropped here (same app, version ≤ a
        buffered one)."""
        with self._pending_lock:
            if txn is not None:
                for _, t in self._pending:
                    if t is not None and t[0] == txn[0] \
                            and txn[1] <= t[1]:
                        return  # replayed epoch already buffered
            self._pending.append((pre_df, txn))

    def commit_pending(self, emit_changes: bool = False) -> DataFrame | None:
        # the swap runs under its own lock: two concurrent flushes
        # (reader-triggered vs dispatch-triggered) must never both see
        # the same pending list — that was a double-merge TOCTOU
        with self._pending_lock:
            batches = self._pending
            self._pending = []
        if not batches:
            return None
        # drop epochs that already committed (post-crash replay lands
        # here when the buffer was rebuilt); record every source's
        # high version for the merge's txn tags
        keep: list[DataFrame] = []
        txns: dict[str, int] = {}
        for df, t in batches:
            if t is not None:
                if self.matrel.replayed(t):
                    continue
                txns[t[0]] = max(txns.get(t[0], -1), t[1])
            keep.append(df)
        if not keep:
            return None
        unioned = keep[0]
        for b in keep[1:]:
            unioned = unioned.unionByName(b, allowMissingColumns=True)
        return self.process_batch(unioned, emit_changes=emit_changes,
                                  txn=txns or None)

    def process_batch(self, pre_df: DataFrame,
                      emit_changes: bool = True,
                      txn: tuple[str, int] | dict | None = None
                      ) -> DataFrame | None:
        """Run worker + combiner for one micro-batch; returns the osrel
        rows (old/new/delta) or None when nothing changed / not asked.

        ``txn`` = (source app id, monotonically-increasing version),
        or a {app_id: version} dict covering a multi-source pending
        union: the tags commit atomically with the merge (matrel
        manifest swap), and a batch whose version was already
        committed is skipped BEFORE any work — replayed streaming
        epochs cannot double-merge, upgrading the foreachBatch bridge
        from at-least-once-in-a-window to effectively-once per view
        (the idempotent-writes pattern of transactional lakehouse
        stores).  The skip check re-runs under commit_lock right
        before the merge: the cheap pre-check alone was a TOCTOU —
        two threads carrying the same epoch could both pass it."""
        if self.matrel.replayed(txn):
            return None  # replayed source batch — already merged
        # bucket before the checkpoint, and piggyback the affected-
        # bucket probe on the checkpoint job itself (Observation): one
        # job materializes the partial states AND yields the bucket set
        # (which doubles as the emptiness check — no take(1) job)
        from pyspark.sql import Observation
        in_obs = None
        if not self._group_cols:
            # a GLOBAL aggregate's worker emits one zero-count state
            # row even for an EMPTY batch, which would drive a full
            # merge + matrel version bump per empty insert (grouped
            # views early-return via the empty affected set below).
            # Observe the input count on the worker's own
            # materialization — no extra job — and skip the commit
            # when nothing arrived (the pre-r15 n==0 early return,
            # without the count job the fast path removed).
            pre_df, in_obs = _observe_count(pre_df)
        obs = Observation()
        obs_cols = [F.collect_set(F.col(BUCKET_COL)).alias("bks")]
        if self._arrival_log:
            obs_cols.append(F.max(F.col(SEQ_COL)).alias("mx_seq"))
        delta = (self.worker(pre_df)
                 .withColumn(BUCKET_COL,
                             self.matrel.bucket_expr(self._bucket_cols))
                 .observe(obs, *obs_cols)
                 .localCheckpoint(eager=True))
        affected = sorted(int(b) for b in obs.get["bks"])
        if self._arrival_log and obs.get["mx_seq"] is not None:
            self._next_seq = int(obs.get["mx_seq"])
        if not affected:
            return None
        if in_obs is not None and _observed_count(in_obs) == 0:
            return None  # empty batch into a global aggregate
        with self.commit_lock:
            if self.matrel.replayed(txn):
                return None  # lost the race: another thread merged it
            old, merged = self.matrel.merge(
                delta, self._group_cols, self.merge_fn, affected=affected,
                pin_old=emit_changes or bool(self.constraints),
                constrain_fn=(self._apply_constraints if self.constraints
                              else None),
                txn=txn)
        self.stats.batches += 1
        if not emit_changes:
            return None
        return self._osrel_rows(old, merged, delta)

    def _apply_constraints(self, old: DataFrame | None,
                           merged: DataFrame) -> DataFrame:
        """Enforce matrel CHECK constraints at upsert (reference
        matrel_constraints.sql semantics: a merged row violating any
        constraint is rejected — the group keeps its previous matrel
        row, and a brand-new violating group is dropped).  Constraints
        are written over the CV's user-visible columns, so each merged
        state row is finalized (without SW recombine) for evaluation."""
        keys = self._group_cols + [BUCKET_COL]
        kcols = [f"__ck_{i}" for i in range(len(keys))]

        def keyed(df: DataFrame) -> DataFrame:
            for kc, k in zip(kcols, keys):
                df = df.withColumn(kc, F.col(k))
            return df

        fin = self.finalize(keyed(merged), extra_cols=kcols,
                            recombine=False)
        cond = None
        for expr_text in self.constraints.values():
            # SQL CHECK semantics (PG ExecConstraints): a check that
            # evaluates to NULL is SATISFIED, so coalesce each check
            # to true before combining.
            c = F.coalesce(F.expr(expr_text), F.lit(True))
            cond = c if cond is None else (cond & c)
        ok_keys = fin.filter(cond).select(*kcols)
        keep_new = merged.join(
            ok_keys,
            on=[merged[k].eqNullSafe(ok_keys[kc])
                for k, kc in zip(keys, kcols)],
            how="left_semi")
        if old is None:
            return keep_new
        bad_keys = fin.filter(~cond).select(*kcols)
        keep_old = old.join(
            bad_keys,
            on=[old[k].eqNullSafe(bad_keys[kc])
                for k, kc in zip(keys, kcols)],
            how="left_semi")
        return keep_new.unionByName(keep_old)

    def _osrel_rows(self, old: DataFrame | None, merged: DataFrame,
                    delta: DataFrame) -> DataFrame:
        """old/new(/delta) change rows (reference src/combiner.c:1578-1601;
        no-op elision compare_slots src/combiner.c:731-786).  Output
        schema matches the reference osrel: struct columns old/new/delta
        whose fields are the CV's user-visible row type."""
        keys = self._group_cols
        kcols = [f"__key_{i}" for i in range(len(keys))]

        def keyed(df: DataFrame, as_name: str) -> DataFrame:
            for kc, k in zip(kcols, keys):
                df = df.withColumn(kc, F.col(k))
            fin = self.finalize(df, extra_cols=kcols, recombine=False)
            val_cols = [c for c in fin.columns if c not in kcols]
            return fin.select(
                *[F.col(kc) for kc in kcols],
                F.struct(*[F.col(c) for c in val_cols]).alias(as_name))

        new_struct = keyed(merged, "new")
        # the delta's PARTIAL STATES ride each change row in a hidden
        # struct so downstream CVs can combine((delta).col) exactly —
        # merging states, not finalized values (reference delta
        # columns of combine-consuming CQs are bytea trans states,
        # analyzer.c:4586).  Both structs come out of ONE pass over
        # the delta (no extra join in the commit path).
        state_cols = [c for c in delta.columns
                      if c not in set(keys) | {BUCKET_COL}]
        ddf = delta.withColumn(BUCKET_COL, F.lit(0))
        for kc, k in zip(kcols, keys):
            ddf = ddf.withColumn(kc, F.col(k))
        dfin = self.finalize(ddf, extra_cols=kcols + state_cols,
                             recombine=False)
        dval_cols = [c for c in dfin.columns
                     if c not in set(kcols) | set(state_cols)]
        delta_struct = dfin.select(
            *[F.col(kc) for kc in kcols],
            F.struct(*[F.col(c) for c in dval_cols]).alias("delta"),
            F.struct(*[F.col(c) for c in state_cols]).alias("delta_states"))
        # no emptiness probe job: a non-None `old` is never empty —
        # read() returns None when no affected bucket is manifest-
        # listed, and every manifest-listed bucket holds ≥1 current
        # row (_commit drops buckets whose merged result is empty, and
        # present-tracking writes an entry only for buckets with rows)
        #
        # old/new/delta are attached with ONE union + grouped
        # aggregation instead of the former two LEFT JOINs: one
        # exchange instead of one per join side (guide §2.4), two
        # fewer AQE stage-jobs per change-emitting commit — the
        # remaining cost of the commit pipeline is its job COUNT (r15
        # attribution).  Equi-join NULL semantics are preserved
        # exactly: a key tuple containing NULL never matched across
        # the joins, so NULL-keyed rows are salted with a per-source
        # tag and never group across sources either (each source is
        # key-unique, so `first(ignorenulls)` picks the one real value
        # deterministically).  Pinned by the NULL-group-key duckdb
        # replay seat (tests/test_r16_opt.py).
        val_t = new_struct.schema["new"].dataType
        d_t = delta_struct.schema["delta"].dataType
        ds_t = delta_struct.schema["delta_states"].dataType

        def tagged(df: DataFrame, tag: str) -> DataFrame:
            cols = [F.col(kc) for kc in kcols]
            if kcols:
                nullkey = F.col(kcols[0]).isNull()
                for kc in kcols[1:]:
                    nullkey = nullkey | F.col(kc).isNull()
                cols.append(F.when(nullkey, F.lit(tag))
                            .otherwise(F.lit("")).alias("__nksrc"))
            for name, t in (("new", val_t), ("old", val_t),
                            ("delta", d_t), ("delta_states", ds_t)):
                cols.append((F.col(name) if name in df.columns
                             else F.lit(None).cast(t)).alias(name))
            return df.select(*cols)

        parts = [tagged(new_struct, "n"), tagged(delta_struct, "d")]
        if old is not None:
            parts.append(tagged(keyed(old, "old"), "o"))
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        gcols = kcols + (["__nksrc"] if kcols else [])
        joined = unioned.groupBy(*gcols).agg(
            F.first("old", ignorenulls=True).alias("old"),
            F.first("new", ignorenulls=True).alias("new"),
            F.first("delta", ignorenulls=True).alias("delta"),
            F.first("delta_states", ignorenulls=True)
            .alias("delta_states"))
        # old/delta-only groups have no counterpart in the former
        # left-join-from-new shape; no-op update elision unchanged
        changed = joined.filter(
            F.col("new").isNotNull() &
            (F.col("old").isNull() |
             (~F.col("old").eqNullSafe(F.col("new")))))
        return changed.select("old", "new", "delta", "delta_states")

    # -- reads ---------------------------------------------------------------
    def states(self, at: float | None = None, pin: str | None = None,
               window: bool = True) -> DataFrame:
        """The matrel states a read sees — the one states rule of
        every view read.  ``pin`` picks a named pin's states
        (MatrelStore.pin), else the live matrel's.  A SW view keeps
        only the steps in its window at ``at`` (default now; a pin's
        recorded ``at`` for a pin) unless ``window`` is False: under
        the step-bucketed layout expired steps are pruned at the
        MANIFEST (their files are never opened), and the exact step
        filter then trims the one boundary bucket.  No states read as
        an empty frame of the state schema."""
        read = self.matrel.read
        if pin is not None:
            rec = self.matrel.pins().get(pin)
            if rec is None:
                raise KeyError(
                    f"no pin {pin!r} on view {self.matrel.name}")
            at = float(rec["at"])
            read = functools.partial(self.matrel.read_pinned, pin)
        if self.plan.sw_column is None or not window:
            states = read()
        else:
            cutoff = (time.time() if at is None else at) \
                - float(self.plan.sw_seconds)
            tol = float(self.plan.sw_step_seconds)
            buckets = None
            if self._time_bucketed:
                ids = (self.matrel.bucket_ids() if pin is None
                       else map(int, rec["buckets"]))
                buckets = [b for b in ids if b * tol >= cutoff - tol]
            states = read(buckets) if buckets != [] else None
            if states is not None:
                states = states.filter(
                    ts_epoch(F.col(STEP_COL)) >= F.lit(cutoff) - tol)
        return self._probe() if states is None else states

    def read(self, at: float | None = None,
             pin: str | None = None) -> DataFrame:
        """Finalized overlay rows of :meth:`states`.  A pinned read is
        the view exactly as it stood at pin time, reproducible
        forever: a SW view evaluates its window at the pin's instant,
        so the rows stay the same after the live window slid past
        them and the reaper dropped their step buckets (pinned dirs
        are GC-exempt)."""
        return self.finalize(self.states(at, pin))

    def _probe(self) -> DataFrame:
        """The worker over an empty batch: a matrel-shaped frame with
        no rows."""
        empty = self.ctx.empty_stream_df(self.plan.stream)
        pre = self.ctx._worker_input(self.plan, self.plan.stream, empty)
        return self.worker(pre).withColumn(BUCKET_COL, F.lit(0)).limit(0)

    def _overlay_schema(self) -> T.StructType:
        return self.finalize(self._probe(), recombine=False).schema

    def _state_schema(self) -> T.StructType:
        """Schema of the matrel partial-state columns (the fields of
        the osrel's hidden delta_states struct)."""
        keys = set(self._group_cols) | {BUCKET_COL}
        return T.StructType([f for f in self._probe().schema.fields
                             if f.name not in keys])

    def key_cols(self) -> list[str]:
        """User-visible group columns of the overlay output."""
        return [name for (expr, name) in self.plan.select_items
                if "{" not in expr]

    def reap(self, now: float | None = None) -> int:
        """Delete TTL-expired rows (reference src/reaper.c:63-128).
        ``ttl_column`` names a user-visible CV column; group columns
        live in the matrel under their own name, while a
        single-state aggregate output (e.g. ``max(ts) AS mx``) maps to
        its state column."""
        if self.ttl is None:
            return 0
        col = self.ttl_column or (STEP_COL if self.plan.sw_column else None)
        if col is None:
            return 0
        cutoff = (now if now is not None else time.time()) - self.ttl
        if self._time_bucketed and col == STEP_COL:
            # step-bucketed layout: every row of bucket b has step
            # b*step, so expiry is a pure manifest-level bucket drop —
            # no read or rewrite of surviving data (reference reaper
            # DELETE becomes a partition drop)
            step = float(self.plan.sw_step_seconds)
            doomed = [b for b in self.matrel.bucket_ids()
                      if b * step < cutoff]
            with self.commit_lock:
                return self.matrel.drop_buckets(doomed)
        col = self.resolve_ttl_column(col)
        with self.commit_lock:
            return self.matrel.delete_where(ts_epoch(F.col(col)) < cutoff)

    def resolve_ttl_column(self, col: str) -> str:
        """Map a user-visible TTL column to its matrel column: group
        columns (and the SW step column) keep their name; a
        single-state aggregate output maps to its state column.
        Raises for unknown or multi-state columns so a bad
        ``ttl_column`` fails at ``set_ttl`` time, not in the reaper."""
        if col in self.plan.group_names or col == STEP_COL:
            return col
        for call in self.plan.aggs:
            if call.out == col:
                spec = self._registry.get(call.func)
                suffixes = list(spec.partial(call.args).keys())
                if len(suffixes) != 1:
                    raise CQError(
                        f"ttl_column {col!r} is a multi-state "
                        f"aggregate; TTL needs a single-state column")
                return state_col(call.out, suffixes[0])
        raise CQError(f"ttl_column {col!r} is not a column of "
                      f"continuous view {self.name}")


class Transform:
    """Stateless continuous transform (reference
    ``src/pipeline_query.c:984`` DefineContTransform,
    ``src/transform_receiver.c``)."""

    def __init__(self, ctx: "PipelineContext", name: str, sql: str,
                 stream: str, outputfunc: Callable[[DataFrame], None] | None):
        self.ctx = ctx
        self.name = name
        self.sql = sql
        self.stream = stream
        self.outputfunc = outputfunc
        self.active = True
        self.stats = Stats()

    def process_batch(self, batch: DataFrame) -> DataFrame:
        out = _sql_over(batch, self.stream, self.sql)
        if self.outputfunc is not None:
            self.outputfunc(out)
        self.stats.batches += 1
        return out


class PyTransform(Transform):
    """Continuous transform whose body is a Python
    ``DataFrame → DataFrame`` function instead of SQL — the Spark-first
    generalization of the reference's trigger-function transforms
    (``CREATE VIEW ... WITH (action=transform, outputfunc=...)``,
    src/pipeline_query.c:984): any DataFrame-API operator (the whole
    curation layer — gopher_filter, pii_redact, dedup kernels) can run
    continuously over a stream, with its output flowing to the
    transform's output stream for downstream CQs."""

    def __init__(self, ctx: "PipelineContext", name: str, stream: str,
                 fn: Callable[[DataFrame], DataFrame] | None,
                 fn_ref: str | None,
                 outputfunc: Callable[[DataFrame], None] | None):
        super().__init__(ctx, name, f"<python:{fn_ref or 'unbound'}>",
                         stream, outputfunc)
        self.fn = fn
        self.fn_ref = fn_ref
        if fn is None:
            self.active = False  # replay couldn't re-import the fn

    def process_batch(self, batch: DataFrame) -> DataFrame:
        if self.fn is None:
            raise CQError(
                f"python transform {self.name} has no bound function "
                f"(catalog replay could not import {self.fn_ref!r}); "
                f"re-bind with set_transform_fn")
        out = self.fn(batch)
        if self.outputfunc is not None:
            self.outputfunc(out)
        self.stats.batches += 1
        return out


class PreparedInsert:
    """A prepared stream-insert statement (reference
    prepared_stream_insert.sql; EXECUTE data path
    src/stream_fdw.c:477-585).  ``execute`` binds positional params to
    the prepared column list and buffers the row; buffers flush as one
    micro-batch at ``batch_size``, on ``flush()``/``close()``, or
    whenever a consuming CV is read."""

    def __init__(self, ctx: "PipelineContext", stream: str,
                 columns: list[str], batch_size: int = 256) -> None:
        self.ctx = ctx
        self.stream = stream
        self.columns = columns
        self.batch_size = max(1, batch_size)
        self._rows: list[dict] = []

    def execute(self, *params) -> None:
        if len(params) != len(self.columns):
            raise CQError(
                f"prepared insert on {self.stream} expects "
                f"{len(self.columns)} parameters "
                f"({self.columns}), got {len(params)}")
        self._rows.append(dict(zip(self.columns, params)))
        if len(self._rows) >= self.batch_size:
            self.flush()

    __call__ = execute

    def execute_many(self, param_rows: Iterable[Iterable[Any]]) -> None:
        for row in param_rows:
            self.execute(*row)

    def flush(self) -> int:
        if not self._rows:
            return 0
        rows, self._rows = self._rows, []
        return self.ctx.insert(self.stream, rows, columns=self.columns)

    def close(self) -> None:
        """DEALLOCATE: flush any pending rows and unregister."""
        self.flush()
        if self in self.ctx._prepared:
            self.ctx._prepared.remove(self)


def _named(names: dict, rel: str) -> str | None:
    """The one of ``names`` that relation ``rel`` denotes, matched
    case-insensitively as Spark resolves identifiers."""
    if rel in names:
        return rel
    return next((n for n in names if n.lower() == rel.lower()), None)


def _seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _plans(plan):
    """``(name, node)`` of each plan node of a parsed statement, CTE
    bodies, subqueries (inner children) and an EXPLAIN's plan too."""
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.nodeName()
        yield kind, node
        stack += _seq(node.children()) + _seq(node.innerChildren()) + (
            [node.logicalPlan()] if kind == "ExplainCommand" else [])


def _relation_name(kind: str, node) -> str | None:
    """The single-part name a relation node reads, else None."""
    if kind in ("UnresolvedRelation", "UnresolvedTableOrView"):
        ident = _seq(node.multipartIdentifier())
        return ident[0] if len(ident) == 1 else None


def _combine_calls(exprs: list) -> list:
    """combine()/sw_combine() calls in parsed expressions, in order."""
    calls, stack = [], list(exprs)
    while stack:
        e = stack.pop()
        if (e.nodeName() == "UnresolvedFunction" and
                e.nameParts().last().lower() in ("combine", "sw_combine")):
            calls.append(e)
        else:
            stack += _seq(e.children())
    return sorted(calls, key=lambda c: _span(c)[0])


def _span(node) -> tuple[int, int]:
    """``[start, stop)`` of a parsed node in its statement's text."""
    o = node.origin()
    return o.startIndex().get(), o.stopIndex().get() + 1


def _text(text: str, node, subs: dict | None = None) -> str:
    """The text of a parsed expression, each combine() call in it
    replaced by ``subs``' text for its argument."""
    lo, hi = _span(node)
    out = text[lo:hi]
    for call in reversed(_combine_calls([node]) if subs else []):
        s, e = _span(call)
        arg = call.arguments().apply(0).nameParts().apply(0)
        out = out[:s - lo] + subs[arg] + out[e - lo:]
    return out


class PipelineContext:
    """Top-level engine handle — one per SparkSession + state directory."""

    def __init__(self, spark: SparkSession, root: str | None = None,
                 num_buckets: int = 32,
                 registry: AggRegistry = REGISTRY,
                 track_output_streams: bool = False,
                 commit_interval_batches: int = 1) -> None:
        self.spark = spark
        self.root = root or tempfile.mkdtemp(prefix="pipelinedb_spark_")
        self.matrel_root = os.path.join(self.root, "matrels")
        os.makedirs(self.matrel_root, exist_ok=True)
        self.num_buckets = num_buckets
        self.registry = registry
        self.streams: dict[str, StreamDef] = {}
        self.views: dict[str, ContView] = {}
        self.transforms: dict[str, Transform] = {}
        self.tables: dict[str, DataFrame] = {}
        # Reader-gated emission (the DEFAULT, False): old/new/delta
        # change rows are computed and written only for osrels that a
        # downstream CQ actually reads — the reference closes an osrel
        # immediately when nothing is reading it and skips emission
        # entirely (src/combiner.c:1477-1489; SW twin :1619-1622), and
        # always-on emission costs ~1.5× ingest throughput (83k→55k
        # rows/s, PLANS.md).  True opts into unconditional emission so
        # ``output_of()`` has a retained history tail even with no
        # readers attached — an extension the reference doesn't have
        # (its osrels are unread streams with no retention).  With
        # gating, a reader that attaches mid-stream sees only
        # POST-attach changes, exactly like subscribing to a stream.
        self.track_output_streams = track_output_streams
        # >1 = the reference's commit_interval: inserts accumulate and
        # the worker/combiner run once per N batches (or on read/flush),
        # amortizing per-job overhead (src/config.c:373-379).
        self.commit_interval_batches = max(1, commit_interval_batches)
        # run per-view worker+combiner phases concurrently when one
        # batch feeds several CVs (each CV owns its matrel store; the
        # reference runs one combiner process per CQ group likewise)
        self.parallel_dispatch = True
        # Output-stream rows live on DISK (bucketed parquet segments),
        # never in driver memory: each emission appends a segment dir
        # and `output_of()` reads the segments back as a DataFrame.
        # Retention is bounded (reference osrels are streams — readers
        # consume them; we keep a bounded replay tail).
        self.osrel_root = os.path.join(self.root, "osrels")
        os.makedirs(self.osrel_root, exist_ok=True)
        self.osrel_retention_segments = 256
        # once-per-osrel warning when output_of() is read on a
        # reader-gated stream that never emitted (round-6 default flip)
        self._osrel_gate_warned: set[str] = set()
        self._osrel_seq: dict[str, int] = {}
        self._osrel_schema: dict[str, T.StructType] = {}
        # Durable catalog: DDL replay log so a fresh context over the
        # same root re-attaches streams/CVs to their matrels (the
        # pipelinedb.cont_query / pipeline_stream catalogs, reference
        # pipelinedb--1.0.0.sql:16-56).
        self._catalog_path = os.path.join(self.root, "catalog.json")
        self._replaying = False
        # thread-local dispatch depth: a nested insert() from inside a
        # transform outputfunc (insert_into_stream chains) continues
        # the depth chain, so the cycle guard still fires
        self._depth_tls = threading.local()
        self._catalog: list[dict] = []
        # live PREPARE handles (prepared stream inserts)
        self._prepared: list["PreparedInsert"] = []
        # the one SQL reader (_parse), what runs its plans (_frame)
        self._parser = spark._jsparkSession.sessionState().sqlParser()
        self._dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
        self._calls_fn = (spark._jvm.org.apache.spark.sql.catalyst.trees
                          .TreePattern.UNRESOLVED_FUNCTION())
        from pipelinedb_spark.functions import register_sql_functions
        register_sql_functions(spark)
        self._load_catalog()

    # -- catalog ---------------------------------------------------------------
    def _load_catalog(self) -> None:
        import json
        if not os.path.exists(self._catalog_path):
            return
        with open(self._catalog_path) as f:
            records = json.load(f)
        self._replaying = True
        try:
            for rec in records:
                if rec["kind"] == "stream":
                    self.create_stream(
                        rec["name"], T.StructType.fromJson(rec["schema"]))
                elif rec["kind"] == "view":
                    try:
                        self.create_view(rec["name"], rec["sql"], **rec["opts"])
                    except CQError as e:
                        if "not combinable" not in str(e):
                            raise
                        # view uses a sketch aggregate: attach them and retry
                        from pipelinedb_spark.aggregates import \
                            register_sketch_aggs
                        register_sketch_aggs()
                        self.create_view(rec["name"], rec["sql"], **rec["opts"])
                elif rec["kind"] == "transform":
                    self.create_transform(rec["name"], rec["sql"])
                elif rec["kind"] == "py_transform":
                    fn = None
                    if rec.get("fn_ref"):
                        try:
                            import importlib
                            mod, _, qual = rec["fn_ref"].partition(":")
                            obj = importlib.import_module(mod)
                            for part in qual.split("."):
                                obj = getattr(obj, part)
                            fn = obj
                        except Exception as exc:
                            logging.getLogger(__name__).warning(
                                "replay: cannot import %s for python "
                                "transform %s (created inactive): %s",
                                rec["fn_ref"], rec["name"], exc)
                    if fn is not None:
                        self.create_python_transform(rec["name"],
                                                     rec["stream"], fn)
                    else:
                        t = PyTransform(self, rec["name"], rec["stream"],
                                        None, rec.get("fn_ref"), None)
                        self.transforms[rec["name"]] = t
                        self.streams[rec["stream"]].readers.append(
                            rec["name"])
                        self._register_osrel(rec["name"])
                elif rec["kind"] == "constraint":
                    self.add_matrel_constraint(
                        rec["view"], rec["cname"], rec["check"])
        finally:
            self._replaying = False
        self._catalog = records

    def _catalog_flush(self) -> None:
        import json
        tmp = self._catalog_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._catalog, f)
        os.replace(tmp, self._catalog_path)

    def _catalog_add(self, rec: dict) -> None:
        if self._replaying:
            return
        self._catalog.append(rec)
        self._catalog_flush()

    def _catalog_remove(self, kind: str, name: str) -> None:
        self._catalog = [r for r in self._catalog
                         if not (r["kind"] == kind and r["name"] == name)]
        self._catalog_flush()

    # -- DDL -----------------------------------------------------------------
    def _check_new_name(self, name: str) -> None:
        """One relation namespace: a new stream, CV or transform may not
        take a name that any of them holds, matched as Spark resolves
        names.  Checked at CREATE only: a catalog written before this
        rule may hold such a pair and still replays."""
        for kind, held in (("stream", self.streams),
                           ("continuous view", self.views),
                           ("transform", self.transforms)):
            taken = None if self._replaying else _named(held, name)
            if taken is not None:
                raise CQError(f"{kind} {taken} already exists")

    def create_stream(self, name: str, schema: T.StructType | str) -> StreamDef:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        self._check_new_name(name)
        if ARRIVAL_COL not in schema.fieldNames():
            schema = schema.add(ARRIVAL_COL, T.TimestampType())
        sd = StreamDef(name=name, schema=schema)
        self.streams[name] = sd
        self._catalog_add({"kind": "stream", "name": name,
                           "schema": schema.jsonValue()})
        return sd

    def alter_stream(self, name: str,
                     add_column: str | T.StructType | None = None
                     ) -> StreamDef:
        """``ALTER STREAM ... ADD COLUMN`` — the only column DDL the
        reference permits on streams (commands.c:360-381 rejects DROP/
        ALTER TYPE/etc.; pipeline_stream.c:63-84 re-resolves the stream
        row type).  ``add_column`` is a DDL fragment ("x int, y text")
        or a StructType.  Live semantics match the reference: existing
        CVs keep running (their plans reference only old columns), new
        inserts may populate the new columns, and the widened schema is
        persisted to the catalog so a fresh context replays it."""
        sd = self.streams.get(name)
        if sd is None:
            raise CQError(f"stream {name} does not exist")
        if name.endswith("_osrel"):
            raise CQError("cannot alter a CQ output stream")
        if add_column is None:
            raise CQError("alter_stream supports ADD COLUMN only "
                          "(reference commands.c:360-381)")
        add = (add_column if isinstance(add_column, T.StructType)
               else T.StructType.fromDDL(add_column))
        for f in add.fields:
            if f.name in sd.schema.fieldNames():
                raise CQError(
                    f"column {f.name} already exists in stream {name}")
        # keep arrival_timestamp last — insert coercion appends it
        fields = [f for f in sd.schema.fields if f.name != ARRIVAL_COL]
        fields += list(add.fields)
        if ARRIVAL_COL in sd.schema.fieldNames():
            fields.append(sd.schema[ARRIVAL_COL])
        sd.schema = T.StructType(fields)
        for rec in self._catalog:
            if rec["kind"] == "stream" and rec["name"] == name:
                rec["schema"] = sd.schema.jsonValue()
        if not self._replaying:
            self._catalog_flush()
        return sd

    def register_table(self, name: str, df: DataFrame) -> None:
        """Static dimension table usable in stream-table joins."""
        self.tables[name] = df
        df.createOrReplaceTempView(name)

    def create_view(self, name: str, sql: str, sw: str | None = None,
                    step_factor: float = 5.0, ttl: str | None = None,
                    ttl_column: str | None = None,
                    pk: str | None = None) -> ContView:
        self._check_new_name(name)
        sql = self._rewrite_output_of(sql)
        if not self._replaying:
            # bare year()/minute()/... are TRUNCATION in CQ SQL
            # (reference parity, sql:2590-2618).  Applied at CREATE
            # only — the catalog stores the rewritten form, so a
            # pre-rewrite catalog (whose bare names meant Spark
            # extracts against an int-keyed matrel) replays verbatim
            from pipelinedb_spark.analyzer import rewrite_datepart_truncs
            sql = rewrite_datepart_truncs(sql)
        sql = self._rewrite_delta_combines(sql)
        plan = analyze(sql, set(self.streams), self.registry,
                       sw=sw, step_factor=step_factor)
        ttl_secs = None
        if ttl is not None:
            from pipelinedb_spark.analyzer import parse_interval
            ttl_secs = parse_interval(ttl)
        elif plan.sw_seconds is not None:
            ttl_secs = plan.sw_seconds + 2 * (plan.sw_step_seconds or 0)
        cv = ContView(self, name, sql, plan, ttl_secs, ttl_column, pk=pk)
        # fail fast at CREATE: resolve the worker plan against the
        # (empty) stream schema so unknown columns / bad expressions
        # error now, not at first insert (reference builds worker
        # plans at CREATE, analyze_cont_view.sql "column doesn't
        # exist"; pipeline_query.c:1989-1992).  Skipped when the source
        # schema is still unknown (an osrel whose owner couldn't be
        # resolved eagerly) — then resolution stays lazy as before.
        if self.streams[plan.stream].schema.fields:
            try:
                cv._overlay_schema()
            except Exception as exc:
                raise CQError(f"invalid continuous query: {exc}") from exc
        self.views[name] = cv
        self.streams[plan.stream].readers.append(name)
        self._register_osrel(name)
        self._catalog_add({"kind": "view", "name": name, "sql": sql,
                           "opts": {"sw": sw, "step_factor": step_factor,
                                    "ttl": ttl, "ttl_column": ttl_column,
                                    "pk": pk}})
        return cv

    def insert_into_stream(self, *targets: str
                           ) -> Callable[[DataFrame], None]:
        """Outputfunc factory mirroring the reference's
        ``pipelinedb.insert_into_stream('s0' [, 's1' ...])``
        (sql:2700-2712, src/stream_fdw.c:589): a transform's output
        rows are forwarded POSITIONALLY into the target stream(s).
        ``create_transform`` validates the transform's output arity
        and types against every target at CREATE (cont_transform.sql
        ct_invalid cases)."""
        for t in targets:
            if t not in self.streams:
                raise CQError(f"unknown stream {t}")

        def fn(df: DataFrame) -> None:
            for t in targets:
                cols = [f.name for f in self.streams[t].schema.fields
                        if f.name != ARRIVAL_COL]
                self.insert(t, df.toDF(*cols))
        fn.__pdb_targets__ = tuple(targets)
        return fn

    def _validate_stream_targets(self, out_schema: T.StructType,
                                 targets: tuple) -> None:
        """Positional arity/type check of a transform's output against
        its insert_into_stream targets (reference errors when the
        transform output doesn't match the target stream's row type,
        cont_transform.sql:55-57)."""
        for t in targets:
            tgt = [f for f in self.streams[t].schema.fields
                   if f.name != ARRIVAL_COL]
            if len(out_schema.fields) != len(tgt):
                raise CQError(
                    f"transform output has {len(out_schema.fields)} "
                    f"columns but stream {t} expects {len(tgt)}")
            for of, tf in zip(out_schema.fields, tgt):
                ok = (of.dataType == tf.dataType
                      or (isinstance(of.dataType, T.NumericType)
                          and isinstance(tf.dataType, T.NumericType))
                      or isinstance(tf.dataType, T.StringType))
                if not ok:
                    raise CQError(
                        f"transform output column {of.name} "
                        f"({of.dataType.simpleString()}) does not match "
                        f"stream {t} column {tf.name} "
                        f"({tf.dataType.simpleString()})")

    def create_transform(self, name: str, sql: str,
                         outputfunc: Callable[[DataFrame], None] | None = None
                         ) -> Transform:
        """CREATE VIEW … WITH (action=transform): ``sql`` runs over each
        batch of the one stream among the relations of its parse tree
        (``output_of('cv')`` reads the CV's output stream)."""
        self._check_new_name(name)
        sql = self._rewrite_output_of(sql)
        if not self._replaying:
            # bare datepart truncation, CREATE-time only (see
            # create_view) — replayed catalogs keep their stored form
            from pipelinedb_spark.analyzer import rewrite_datepart_truncs
            sql = rewrite_datepart_truncs(sql)
        streams = {s for r in self._relations(self._parse(sql))
                   if (s := _named(self.streams, r)) is not None}
        if len(streams) != 1:
            raise CQError("transform must read exactly one stream, not "
                          f"{sorted(streams)}")
        clauses_stream = streams.pop()
        # Validate the SELECT resolves against the stream's schema NOW,
        # so a broken transform fails at create_transform rather than
        # surfacing later as an UNRESOLVED_COLUMN when a downstream CQ
        # is created over its (silently empty) output stream.
        from pyspark.errors import AnalysisException
        try:
            probe_schema = _sql_over(self.empty_stream_df(clauses_stream),
                                     clauses_stream, sql).schema
        except AnalysisException as exc:
            raise CQError(f"invalid transform query: {exc}") from exc
        targets = getattr(outputfunc, "__pdb_targets__", None)
        if targets:
            self._validate_stream_targets(probe_schema, targets)
        t = Transform(self, name, sql, clauses_stream, outputfunc)
        self.transforms[name] = t
        self.streams[clauses_stream].readers.append(name)
        self._register_osrel(name)
        self._catalog_add({"kind": "transform", "name": name, "sql": sql})
        return t

    def create_python_transform(
            self, name: str, stream: str,
            fn: Callable[[DataFrame], DataFrame],
            outputfunc: Callable[[DataFrame], None] | None = None
    ) -> "PyTransform":
        """Continuous transform with a Python DataFrame→DataFrame body
        — runs any DataFrame-API operator (quality filters, PII
        redaction, dedup fingerprints) per micro-batch, output flowing
        to ``output_of(name)`` for downstream CQs.

        The catalog stores ``module:qualname`` when ``fn`` is an
        importable module-level function (the analog of the reference
        referencing a trigger function by name) so replay re-binds it;
        a lambda/closure still works in-session, but a fresh context
        over the same root replays the transform INACTIVE until
        ``set_transform_fn`` re-binds a function."""
        if stream not in self.streams:
            raise CQError(f"unknown stream {stream}")
        self._check_new_name(name)
        # fail at CREATE, not first insert: the fn must accept the
        # stream's schema and return a DataFrame
        try:
            probe = fn(self.empty_stream_df(stream))
        except Exception as exc:
            raise CQError(
                f"invalid python transform: fn failed on the stream "
                f"schema probe: {exc}") from exc
        if not isinstance(probe, DataFrame):
            raise CQError("python transform fn must return a DataFrame, "
                          f"got {type(probe).__name__}")
        fn_ref = None
        mod = getattr(fn, "__module__", None)
        qual = getattr(fn, "__qualname__", "")
        if mod and mod != "__main__" and "<locals>" not in qual:
            fn_ref = f"{mod}:{qual}"
        t = PyTransform(self, name, stream, fn, fn_ref, outputfunc)
        self.transforms[name] = t
        self.streams[stream].readers.append(name)
        self._register_osrel(name)
        self._catalog_add({"kind": "py_transform", "name": name,
                           "stream": stream, "fn_ref": fn_ref})
        return t

    def set_transform_fn(self, name: str,
                         fn: Callable[[DataFrame], DataFrame]) -> None:
        """Re-bind a python transform's function (after a replay that
        could not import it, or to hot-swap logic); re-activates."""
        t = self.transforms.get(name)
        if not isinstance(t, PyTransform):
            raise CQError(f"{name} is not a python transform")
        t.fn = fn
        t.active = True
        # a replay with an unimportable fn_ref registered the osrel
        # with an EMPTY schema; refresh it from the re-bound fn so
        # CREATE ... FROM output_of(name) validates against real
        # columns before the first batch arrives
        osrel = f"{name}_osrel"
        sd = self.streams.get(osrel)
        if sd is not None and not sd.schema.fields:
            sd.schema = fn(self.empty_stream_df(t.stream)).schema
        mod = getattr(fn, "__module__", None)
        qual = getattr(fn, "__qualname__", "")
        if mod and mod != "__main__" and "<locals>" not in qual:
            t.fn_ref = f"{mod}:{qual}"
            for rec in self._catalog:
                if rec["kind"] == "py_transform" and rec["name"] == name:
                    rec["fn_ref"] = t.fn_ref
            if not self._replaying:
                self._catalog_flush()

    def _osrel_create_schema(self, name: str) -> T.StructType:
        """Resolve a CQ's output-stream schema at CREATE time so a later
        ``CREATE ... FROM output_of('name')`` validates against real
        columns instead of an empty struct (reference materializes the
        osrel rowtype at DefineContView, src/pipeline_query.c:640-668:
        old/new/delta composite of the CV's row type).  The CQ's query
        was validated at CREATE, so failures here are unexpected —
        logged and fallen back to the lazy empty schema rather than
        silently swallowed."""
        from pyspark.errors import AnalysisException
        try:
            if name in self.views:
                cv = self.views[name]
                row = cv._overlay_schema()
                st = T.StructType([T.StructField(f.name, f.dataType, True)
                                   for f in row.fields])
                if cv.plan.sw_column is not None:
                    # SWs don't have delta streams: the ticker emits
                    # (old, new) only, and a downstream (delta).x must
                    # fail validation exactly like the reference
                    # (delta_streams.sql:4-7)
                    return T.StructType([T.StructField(c, st, True)
                                         for c in ("old", "new")])
                fields = [T.StructField(c, st, True)
                          for c in ("old", "new", "delta")]
                # non-SW change rows also carry the delta's raw
                # partial states for downstream combine((delta).x)
                fields.append(T.StructField(
                    "delta_states", cv._state_schema(), True))
                return T.StructType(fields)
            if name in self.transforms:
                tr = self.transforms[name]
                if isinstance(tr, PyTransform):
                    if tr.fn is None:
                        return T.StructType()  # unbound after replay
                    return tr.fn(self.empty_stream_df(tr.stream)).schema
                return _sql_over(self.empty_stream_df(tr.stream),
                                 tr.stream, tr.sql).schema
        except AnalysisException as exc:
            logging.getLogger(__name__).warning(
                "could not resolve output-stream schema for %s "
                "(falling back to lazy empty schema): %s", name, exc)
        return T.StructType()

    def _register_osrel(self, name: str) -> None:
        osrel = f"{name}_osrel"
        if osrel not in self.streams:
            self.streams[osrel] = StreamDef(
                name=osrel, schema=self._osrel_create_schema(name))
        base = os.path.join(self.osrel_root, osrel)
        if os.path.isdir(base):
            # fresh context over an existing root: resume the sequence
            segs = [int(e[4:]) for e in os.listdir(base)
                    if e.startswith("seg_")]
            self._osrel_seq[osrel] = (max(segs) + 1) if segs else 0

    def _rewrite_output_of(self, sql: str) -> str:
        # FROM output_of('cv') → FROM cv_osrel (reference
        # src/analyzer.c:776-828)
        return re.sub(r"(?i)output_of\s*\(\s*'([^']+)'\s*\)", r"\1_osrel", sql)

    def _register_delta_combine(self, up: str, call) -> str:
        """Derive + register the aggregate behind a rewritten
        ``combine((delta).col)``: its PARTIAL phase is the upstream
        aggregate's MERGE over the incoming delta_states fields, so
        downstream continuous aggregation is exact (weighted avg,
        distinct counts, sketch unions) — reference
        get_combine_target_aggref, src/analyzer.c:4360-4470."""
        spec = self.registry.get(call.func)
        fname = f"__dcmb_{up}_{call.out}".lower()
        # register UNCONDITIONALLY: an upstream dropped and recreated
        # with a different aggregate under the same output column must
        # rebind the derived spec (a stale spec would zip the new
        # state-field args against the old suffixes and silently
        # mis-merge)
        suffixes = list(spec.partial(call.args).keys())
        cargs = list(call.args)

        def partial(args, _sfx=suffixes, _spec=spec, _cargs=cargs):
            sub = {sfx: F.expr(a) for sfx, a in zip(_sfx, args)}
            return _spec.merge_exprs(lambda sfx: sub[sfx], _cargs)

        self.registry.register(AggSpec(
            fname, partial,
            spec.merge,
            lambda s, a, _spec=spec, _cargs=cargs: _spec.finalize(s, _cargs),
            state_is_value=spec.state_is_value,
            pandas=spec.pandas,
            merge_with_args=(
                (lambda s, a, _spec=spec, _cargs=cargs:
                 _spec.merge_with_args(s, _cargs))
                if spec.merge_with_args is not None else None)))
        return fname

    def _rewrite_delta_combines(self, sql: str) -> str:
        """CVs combining DELTA STREAMS (reference delta_streams.sql):
        ``combine((delta).col)`` over ``output_of('up')`` re-merges the
        upstream aggregate's partial states, which ride every change
        row in the hidden ``delta_states`` struct — finalized delta
        VALUES are not re-mergeable (avg of avgs is wrong), states are.
        Rewrites each call to a derived registered aggregate over the
        state fields; idempotent across catalog replay.  A qualified
        ``(alias.delta).col`` binds to the upstream of the relation its
        parse tree aliases.  CQ text, which Spark's parser may reject or
        misread (DISTINCT ON), is parsed only when it calls combine()."""
        alias_of: dict[str, str] = {}
        exprs = []
        if re.search(r"(?i)\bcombine\s*\(", sql):
            for kind, node in _plans(self._parse(sql)):
                exprs += _seq(node.expressions())
                alias = None
                if kind == "SubqueryAlias":
                    alias, node = node.alias(), node.child()
                    kind = node.nodeName()
                rel = _relation_name(kind, node) or ""
                if (rel.lower().endswith("_osrel") and (up := _named(
                        self.views, rel[:-len("_osrel")])) is not None):
                    alias_of[(alias or rel).lower()] = up
        ups = sorted(set(alias_of.values()))
        # no upstream: not an output-stream query; analyze errors
        for call in reversed(_combine_calls(exprs) if ups else []):
            args = _seq(call.arguments())
            parts = (_seq(args[0].nameParts()) if len(args) == 1 and
                     args[0].nodeName() == "UnresolvedAttribute" else [])
            if len(parts) not in (2, 3) or parts[-2].lower() != "delta":
                continue  # not a delta combine; analyze judges it
            qual, col = (parts[0] if len(parts) == 3 else None), parts[-1]
            if qual is not None:
                up = alias_of.get(qual.lower())
                if up is None:
                    raise CQError(
                        f'relation "{qual}" in combine((delta).{col}) '
                        "does not match any output-stream relation "
                        "in the FROM clause")
            elif len(ups) == 1:
                up = ups[0]
            else:
                raise CQError(
                    f"combine((delta).{col}) is ambiguous over "
                    f"multiple output streams {ups}; qualify "
                    "the delta with its relation alias")
            cv = self.views[up]
            if cv.plan.sw_column is not None:
                # SWs don't have delta streams (delta_streams.sql:4,
                # expected out: column "delta" does not exist)
                raise CQError('column "delta" does not exist')
            agg = next((c for c in cv.plan.aggs if c.out == col), None)
            if agg is None:
                raise CQError("combine argument is not an aggregate column")
            fname = self._register_delta_combine(up, agg)
            q = f"{qual}." if qual else ""
            fargs = ", ".join(f"{q}delta_states.{state_col(col, x)}" for x
                              in self.registry.get(agg.func).partial(agg.args))
            s, e = _span(call)
            sql = f"{sql[:s]}{fname}({fargs}){sql[e:]}"
        # replay of an already-rewritten catalog entry: re-register.
        # Candidate view names longest-first, but only stop on a
        # SUCCESSFUL registration — with ambiguous names (views 'a'
        # and 'a_b', token 'a_b_c' meaning view 'a' col 'b_c') the
        # longer prefix has no matching agg column and must fall
        # through to the shorter candidate
        for tok in set(re.findall(r"__dcmb_(\w+)\(", sql)):
            for v in sorted(self.views, key=len, reverse=True):
                if not tok.startswith(v.lower() + "_"):
                    continue
                colname = tok[len(v) + 1:]
                cc = next((c for c in self.views[v].plan.aggs
                           if c.out.lower() == colname), None)
                if cc is not None:
                    self._register_delta_combine(v, cc)
                    break
        return sql

    def drop_view(self, name: str, cascade: bool = False) -> None:
        """DROP VIEW [CASCADE]: dropping a CV whose output stream has
        readers requires CASCADE, which then drops the dependents too
        (reference output_streams.sql:23 — 'cannot drop view os0
        because other objects depend on it')."""
        if name in self.views:
            os_sd = self.streams.get(f"{name}_osrel")
            deps = sorted(os_sd.readers) if os_sd is not None else []
            if deps and not cascade:
                raise CQError(
                    f"cannot drop continuous view {name}: other "
                    f"continuous queries {deps} depend on its output "
                    "stream (use cascade=True)")
            for dep in deps:
                if dep in self.views:
                    self.drop_view(dep, cascade=True)
                elif dep in self.transforms:
                    self.drop_transform(dep)
        cv = self.views.pop(name, None)
        if cv:
            cv.matrel.drop()
            self._unregister(name)
            # derived __dcmb_* specs stay REGISTERED on purpose: the
            # registry is process-global by default, so unregistering
            # here would break an identically-named derived spec in
            # another live context.  Staleness is handled where it
            # matters — _register_delta_combine re-registers
            # unconditionally when a downstream is (re)created, so a
            # recreated upstream with a different aggregate under the
            # same column rebinds correctly.
            for sd in self.streams.values():
                if name in sd.readers:
                    sd.readers.remove(name)
            self.streams.pop(f"{name}_osrel", None)
            shutil.rmtree(os.path.join(self.osrel_root, f"{name}_osrel"),
                          ignore_errors=True)
            self._catalog_remove("view", name)
            for rec in list(self._catalog):
                if rec["kind"] == "constraint" and rec.get("view") == name:
                    self._catalog_remove("constraint", rec["name"])

    def rename_view(self, old: str, new: str) -> None:
        """``ALTER VIEW <cv> RENAME TO <new>`` (reference
        cont_alter.sql:5, src/commands.c): the CV, its matrel store,
        its output stream, and every catalog record move to the new
        name; CQs reading the CV's output stream keep working.  The
        matrel's *relation* name in the reference stays put — here the
        storage directory must follow the CV name so catalog replay
        finds it, but users address the matrel only through the CV."""
        cv = self.views.get(old)
        if cv is None:
            raise CQError(f"continuous view {old} does not exist")
        if (new in self.views or new in self.transforms
                or new in self.streams):
            raise CQError(f"name {new!r} is already in use")
        self._settle(old)
        self.views.pop(old)
        self._unregister(old)
        cv.name = new
        self.views[new] = cv
        cv.matrel.rename(new)
        # source-stream reader registration
        for sd in self.streams.values():
            sd.readers = [new if r == old else r for r in sd.readers]
        # output stream: rekey + move segments on disk
        old_os, new_os = f"{old}_osrel", f"{new}_osrel"
        if old_os in self.streams:
            sd = self.streams.pop(old_os)
            sd.name = new_os
            self.streams[new_os] = sd
        for mapping in (self._osrel_seq, self._osrel_schema):
            if old_os in mapping:
                mapping[new_os] = mapping.pop(old_os)
        old_osdir = os.path.join(self.osrel_root, old_os)
        if os.path.isdir(old_osdir):
            os.rename(old_osdir, os.path.join(self.osrel_root, new_os))
        # downstream CQs created over output_of(old): repoint their
        # stream reference and stored SQL so catalog replay agrees
        for reader in list(self.views.values()) + list(
                self.transforms.values()):
            tgt = reader.plan.stream if hasattr(reader, "plan") \
                else reader.stream
            if tgt != old_os:
                continue
            if hasattr(reader, "plan"):
                reader.plan.stream = new_os
            else:
                reader.stream = new_os
            new_sql = re.sub(r"\b" + re.escape(old_os) + r"\b", new_os,
                             reader.sql)
            # rewritten delta-combines embed the upstream view name in
            # the derived aggregate token — carry it to the new name
            # and re-register so replay (and this session) resolve it.
            # EXACT tokens only (view name + a real aggregate column of
            # the renamed view): a blind `__dcmb_{old}_` prefix sub
            # would also corrupt a prefix-named sibling's tokens
            # (__dcmb_a_b_n while renaming view 'a')
            for call in cv.plan.aggs:
                tok_old = f"__dcmb_{old}_{call.out}".lower()
                tok_new = f"__dcmb_{new}_{call.out}".lower()
                new_sql = re.sub(rf"(?i)\b{re.escape(tok_old)}\s*\(",
                                 tok_new + "(", new_sql)
            reader.sql = new_sql
            if "__dcmb_" in new_sql:
                self._rewrite_delta_combines(new_sql)
            for rec in self._catalog:
                if rec["kind"] in ("view", "transform") \
                        and rec["name"] == reader.name:
                    rec["sql"] = new_sql
        # old-name derived delta-combine specs stay REGISTERED — live
        # downstream plans in this session were analyzed against them
        for rec in self._catalog:
            if rec["kind"] == "view" and rec["name"] == old:
                rec["name"] = new
            elif rec["kind"] == "constraint" and rec.get("view") == old:
                rec["view"] = new
                rec["name"] = f"{new}.{rec['cname']}"
        if not self._replaying:
            self._catalog_flush()

    def _unregister(self, name: str) -> None:
        """Drop a gone CV's session temp views, so a query naming it
        fails on the name instead of scanning deleted files."""
        for rel in (name, f"{name}_mrel"):
            self.spark.catalog.dropTempView(rel)

    def rename_matrel(self, name: str) -> None:
        """Direct matrel renames are rejected exactly like the
        reference (cont_alter.sql:6: 'cannot rename materialization
        table') — the matrel's identity is bound to its CV."""
        for cv_name in self.views:
            if name in (cv_name, f"{cv_name}_mrel"):
                raise CQError(
                    f'cannot rename materialization table "{cv_name}_mrel" '
                    f'for continuous view "{cv_name}"')
        raise CQError(f"materialization table {name} does not exist")

    def drop_transform(self, name: str) -> None:
        tr = self.transforms.pop(name, None)
        if tr:
            for sd in self.streams.values():
                if name in sd.readers:
                    sd.readers.remove(name)
            self.streams.pop(f"{name}_osrel", None)
            shutil.rmtree(os.path.join(self.osrel_root, f"{name}_osrel"),
                          ignore_errors=True)
            self._catalog_remove("transform", name)
            self._catalog_remove("py_transform", name)

    def drop_stream(self, name: str, cascade: bool = False) -> None:
        """DROP FOREIGN TABLE [CASCADE] (reference: dropping a stream
        requires CASCADE when continuous queries read it, and then
        drops them too — test create_cont_view.sql / cont_alter.sql
        'drop cascades to view')."""
        sd = self.streams.get(name)
        if sd is None:
            raise CQError(f"stream {name} does not exist")
        if name.endswith("_osrel"):
            raise CQError("cannot drop a CQ output stream directly")
        if sd.readers and not cascade:
            raise CQError(
                f"cannot drop stream {name}: continuous queries "
                f"{sorted(sd.readers)} depend on it (use cascade=True)")
        # dropping a reader CQ removes its osrel, whose own readers
        # must cascade too — recurse until the closure is gone
        def drop_cq(r: str) -> None:
            os_sd = self.streams.get(f"{r}_osrel")
            if os_sd is not None:
                for rr in list(os_sd.readers):
                    drop_cq(rr)
            if r in self.views:
                self.drop_view(r)
            elif r in self.transforms:
                self.drop_transform(r)

        while sd.readers:
            r = sd.readers[0]
            drop_cq(r)
            if r in sd.readers:     # stale registry entry
                sd.readers.remove(r)
        self.streams.pop(name, None)
        self._catalog_remove("stream", name)

    # -- DML -----------------------------------------------------------------
    def insert(self, stream: str, rows: Iterable[Any] | DataFrame,
               columns: list[str] | None = None,
               targets: list[str] | None = None) -> int:
        """INSERT INTO stream — one micro-batch through every consumer.
        Reference data path: src/stream_fdw.c:477-585 →
        microbatch_send_to_worker → worker → combiner.
        ``targets`` restricts which CQs consume this insert (the
        stream_targets GUC, reference src/config.c:349-355).

        Row lists and DataFrames, like Structured Streaming epochs and
        change-feed hops, enter through one rule (``_ingest``): the
        input is checkpointed only when several consumers read it or
        commits are deferred; the row count is ``len(rows)`` for a
        list, else an Observation on the first job that materializes
        the batch; an empty batch returns 0 before dispatch whenever
        its count is known first.  Returns the row count, which the
        stream and consumer stats add for every non-empty batch."""
        sd = self.streams.get(stream)
        if sd is None:
            raise CQError(f"unknown stream {stream}")
        n = None
        if not isinstance(rows, DataFrame):
            rows = list(rows)
            n = len(rows)  # known driver-side: no count job at all
        return self._ingest(stream, self._coerce_batch(sd, rows, columns),
                            n, targets=targets)

    def _ingest(self, stream: str, batch: DataFrame, n: int | None = None,
                targets: list[str] | None = None,
                txn: tuple[str, int] | None = None,
                snapshot: bool = False) -> int:
        """Enter one coerced batch into ``stream``; the single path for
        ``insert()``, Structured Streaming epochs (``txn``) and
        change-feed hops (``snapshot``: a just-written osrel segment).
        Decides, once for every entry:

        * materialize: checkpoint the input only when several active
          consumers read it (they must see the same arrival
          timestamps) or commits are deferred (an accumulated lazy
          plan may outlive its source).  A lone synchronous view's
          worker checkpoint materializes the batch anyway, and a
          snapshot is already stable;
        * count: ``n`` when the caller knows it (row lists, osrel
          segments), else an Observation riding the first job that
          materializes the batch: the input checkpoint, or the lone
          view's worker checkpoint;
        * empty: return 0 before dispatch whenever the count is known
          first; only non-empty batches add to the stats.

        Returns the batch's row count."""
        sd = self.streams[stream]
        consumers = [c for r in sd.readers
                     if (targets is None or r in targets) and
                     (c := self.views.get(r) or self.transforms.get(r))
                     is not None and c.active]
        deferred = self.commit_interval_batches > 1
        lone = (consumers[0] if len(consumers) == 1 and not deferred
                and isinstance(consumers[0], ContView) else None)
        obs = None
        if n is None:
            batch, obs = _observe_count(batch)
        if (consumers or obs) and (deferred or not (lone or snapshot)):
            # NOTE: no .coalesce() before this checkpoint — a
            # no-shuffle coalesce stalls ~2-5 s in the locality-aware
            # partition grouper (measured; partitions have no preferred
            # locations).  _coerce_batch sizes a list's slices instead.
            batch = batch.localCheckpoint(eager=True)
            if obs is not None:
                n, obs = _observed_count(obs), None
        if n == 0 or not consumers:
            return n
        if obs is not None and lone.matrel.replayed(txn):
            # the view skips a replayed epoch before any job, so the
            # observed count would never arrive
            return 0

        def count(n: int) -> int:
            if n:
                sd.input_batches += 1
                sd.input_rows += n
                for c in consumers:
                    c.stats.input_rows += n
            return n

        depth = getattr(self._depth_tls, "depth", 0)
        if depth > 16:
            raise CQError("continuous-query cycle detected")
        if obs is None:
            count(n)
        self._depth_tls.depth = depth + 1
        try:
            self._dispatch(stream, batch, targets, txn)
        finally:
            self._depth_tls.depth = depth
        if obs is not None:
            n = count(_observed_count(obs))
        return n

    def _coerce_batch(self, sd: StreamDef, rows, columns) -> DataFrame:
        """Name-based projection + cast onto the declared stream schema
        (reference exec_stream_project/coerce_raw_input
        src/stream_fdw.c:325-433)."""
        if isinstance(rows, DataFrame):
            src = rows
        else:
            rows = list(rows)
            if not rows:
                return arrow_frame(self.spark, [], sd.schema)
            declared = [f.name for f in sd.schema.fields
                        if f.name != ARRIVAL_COL]
            if isinstance(rows[0], dict):
                cols = list(declared)
                # clients may set arrival_timestamp explicitly (the
                # reference allows it; SW tests use synthetic time) —
                # keep it when any row supplies it
                if any(ARRIVAL_COL in r for r in rows):
                    cols.append(ARRIVAL_COL)
                dict_rows = rows
            else:
                cols = columns or declared[: len(rows[0])]
                self._check_columns(sd, cols)
                dict_rows = [dict(zip(cols, r)) for r in rows]
            fields = [sd.schema[c] for c in cols if c in sd.schema.fieldNames()]
            schema = T.StructType(fields)
            data = [tuple(_py_coerce(r.get(f.name), f.dataType)
                          for f in fields) for r in dict_rows]
            # slice count derived from the batch size, not the core
            # count: a local frame spreads even a 2-row list across
            # up to defaultParallelism slices, and every downstream job
            # then schedules that many near-empty tasks (a 32-task
            # eager checkpoint of 2 rows measured ~10× the 1-slice
            # cost).  ceil(n/1000) keeps bulk inserts parallel — at
            # lower core counts defaultParallelism caps it (guide §2.4
            # scale-adaptive partitioning)
            slices = max(1, min(self.spark.sparkContext.defaultParallelism,
                                -(-len(data) // 1000)))
            src = arrow_frame(self.spark, data, schema, slices)
        out_cols = []
        for f in sd.schema.fields:
            if f.name == ARRIVAL_COL:
                if f.name in src.columns:
                    # rows without an explicit arrival time fall back
                    # to the ingest clock
                    out_cols.append(
                        F.coalesce(F.col(f.name).cast(f.dataType),
                                   F.current_timestamp())
                        .alias(ARRIVAL_COL))
                else:
                    out_cols.append(F.current_timestamp().alias(ARRIVAL_COL))
            elif f.name in src.columns:
                out_cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                out_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return src.select(*out_cols)

    def _dispatch(self, stream: str, batch: DataFrame,
                  targets: list[str] | None,
                  txn: tuple[str, int] | None) -> None:
        sd = self.streams[stream]
        readers = [r for r in sd.readers
                   if targets is None or r in targets]

        def run_view(rname: str):
            """Worker + combiner for one CV, plus the view's own osrel
            SEGMENT WRITE (round-8 task 8: the write is a whole Spark
            job, so emitting as soon as this view's merge lands
            overlaps it with sibling merges instead of waiting for the
            slowest view).  Returns (osrel, segment path, rows) for
            the SERIAL phase, or None when the commit emitted nothing.
            The serial phase only performs downstream DISPATCH, which
            recursively runs downstream CQ merges and must stay
            ordered and unthreaded (two osrels feeding one downstream
            CV must never interleave its matrel commits)."""
            cv = self.views[rname]
            pre = self._worker_input(cv.plan, stream, batch)
            t0 = time.monotonic()
            if self.commit_interval_batches > 1:
                # replay guard at ACCUMULATE time: a replayed epoch
                # whose version is already committed must not re-enter
                # the pending buffer (it would ride a later interval's
                # merge and double-count)
                if cv.matrel.replayed(txn):
                    os_rows = None
                else:
                    cv.accumulate(pre, txn=txn)
                    if len(cv._pending) >= self.commit_interval_batches:
                        os_rows = cv.commit_pending(
                            emit_changes=self._emits_changes(cv))
                    else:
                        os_rows = None
            else:
                os_rows = cv.process_batch(
                    pre, emit_changes=self._emits_changes(cv), txn=txn)
            cv.stats.exec_ms += (time.monotonic() - t0) * 1000.0
            if os_rows is None:
                return None
            osrel = f"{rname}_osrel"
            return (osrel, *self._write_osrel_segment(osrel, os_rows))

        view_names = [r for r in readers
                      if r in self.views and self.views[r].active]
        emissions: dict[str, tuple] = {}
        failures: dict[str, BaseException] = {}

        def run_view_guarded(rname: str):
            # per-view isolation: one failing view must not abort the
            # batch before siblings that already COMMITTED their
            # matrels get their osrel rows emitted (a committed-but-
            # unemitted view silently starves downstream CQs of deltas)
            try:
                emissions[rname] = run_view(rname)
            except BaseException as exc:  # re-raised after emission
                failures[rname] = exc
                self.views[rname].stats.errors += 1

        if len(view_names) > 1 and self.parallel_dispatch:
            # concurrent combiners: each CV's worker+merge touches its
            # OWN matrel store, so the per-view phase parallelizes
            # safely (the reference runs one combiner process per CQ
            # group for the same reason); Spark schedules the
            # concurrent jobs across the shared executor pool
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(
                    max_workers=min(8, len(view_names))) as pool:
                list(pool.map(run_view_guarded, view_names))
        else:
            for rname in view_names:
                run_view_guarded(rname)

        for rname in readers:  # serial phase, original reader order
            if emissions.get(rname):
                self._forward_osrel(*emissions[rname])
            elif rname in self.transforms:
                t = self.transforms[rname]
                if not t.active:
                    continue
                t0 = time.monotonic()
                out = t.process_batch(batch)
                t.stats.exec_ms += (time.monotonic() - t0) * 1000.0
                # reader-gated like CV osrels: the transform body still
                # ran (its outputfunc fired inside process_batch), but
                # the output DataFrame is lazy — skipping the segment
                # write when nothing reads the osrel costs zero jobs
                if self._wants_osrel(f"{rname}_osrel"):
                    self._emit_osrel(f"{rname}_osrel", out)

        if failures:  # surface the first failure, siblings fully emitted
            raise failures[next(n for n in view_names if n in failures)]

    def _wants_osrel(self, osrel: str) -> bool:
        """Should change rows be computed/written for this output
        stream?  True when history retention is opted in
        (``track_output_streams``) or a downstream CQ reads the osrel
        (reference src/combiner.c:1477-1489: the osrel is closed
        immediately, and emission skipped, when nothing reads it)."""
        if self.track_output_streams:
            return True
        sd = self.streams.get(osrel)
        return bool(sd and sd.readers)

    def _emits_changes(self, cv: "ContView") -> bool:
        """Should a commit of ``cv`` compute change rows?  SW views emit
        only via the ticker (tick_sw), matching the reference
        (combiner.c:992 — SW osrel rows come from the SW tick, not
        per-batch combines)."""
        return (cv.plan.sw_column is None and
                self._wants_osrel(f"{cv.name}_osrel"))

    def _worker_input(self, plan: CQPlan, stream: str,
                      batch: DataFrame) -> DataFrame:
        if re.fullmatch(r"[A-Za-z_][\w.]*", plan.from_clause.strip()):
            return batch  # simple FROM stream
        return _sql_over(batch, stream, f"SELECT * FROM {plan.from_clause}")

    def _write_osrel_segment(self, osrel: str,
                             rows: DataFrame) -> tuple[str | None, int]:
        """Append change rows to the osrel's parquet segment log and
        return (segment path, rows emitted) — (None, 0) when the batch
        emitted nothing.
        The rows never pass through the driver (reference combiner
        emits osrel tuples executor-side, src/combiner.c:1578-1601);
        the row count rides the write job as an Observation.

        Thread-safe across DISTINCT osrels (each view owns its osrel:
        seq/schema/gc/stat state is per-osrel keyed), which is what
        lets parallel_dispatch emit each view's segment as soon as its
        own merge lands instead of after the slowest sibling."""
        seq = self._osrel_seq.get(osrel, 0)
        seg = os.path.join(self.osrel_root, osrel, f"seg_{seq}")
        observed, obs = _observe_count(rows)
        observed.write.mode("overwrite").parquet(seg)
        n = _observed_count(obs)
        if n == 0:
            shutil.rmtree(seg, ignore_errors=True)
            return None, 0
        self._osrel_seq[osrel] = seq + 1
        self._osrel_schema[osrel] = rows.schema
        self._osrel_gc(osrel)
        src = osrel[: -len("_osrel")]
        owner = self.views.get(src) or self.transforms.get(src)
        if owner is not None:
            owner.stats.output_rows += n
        return seg, n

    def _emit_osrel(self, osrel: str, rows: DataFrame) -> int:
        """Segment write + downstream dispatch in one step (the
        transform/ticker path; batch-parallel CV dispatch splits the
        two so dispatch stays in reader order).  Returns rows
        emitted."""
        seg, n = self._write_osrel_segment(osrel, rows)
        self._forward_osrel(osrel, seg, n)
        return n

    def _forward_osrel(self, osrel: str, seg: str | None, n: int) -> None:
        """Feed a just-written segment of ``n`` change rows to the CQs
        reading ``osrel``.  They read the segment back: a stable
        snapshot (immutable until retention GC, 256 segments away), so
        the change-row plan is not recomputed and, with synchronous
        commits, not re-checkpointed either (``_ingest`` snapshot)."""
        sd = self.streams.get(osrel)
        if seg is None or sd is None or not sd.readers:
            return
        rows = self._read_osrel_segment(osrel, seg)
        if not sd.schema.fields:
            sd.schema = rows.schema
        self._ingest(osrel, rows, n, snapshot=True)

    def _read_osrel_segment(self, osrel: str, seg: str) -> DataFrame:
        """Read back ONE just-written segment.  The writer recorded the
        segment's exact schema (`_osrel_schema`), so passing it skips
        the reader's footer-inference pass — ~50 ms of driver time per
        downstream dispatch (guide §1.2 constant-work removal)."""
        schema = self._osrel_schema.get(osrel)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(seg)

    def _osrel_segments(self, osrel: str) -> list[str]:
        base = os.path.join(self.osrel_root, osrel)
        if not os.path.isdir(base):
            return []
        segs = sorted((int(e[4:]), e) for e in os.listdir(base)
                      if e.startswith("seg_"))
        return [os.path.join(base, e) for _, e in segs]

    def _osrel_gc(self, osrel: str) -> None:
        segs = self._osrel_segments(osrel)
        for path in segs[: max(0, len(segs) - self.osrel_retention_segments)]:
            shutil.rmtree(path, ignore_errors=True)

    # -- reads ----------------------------------------------------------------
    def _settle(self, name: str) -> ContView:
        """The one prelude of every read of CV ``name``: ship the
        buffered prepared rows of the CV's stream, then commit the
        CV's pending batches.  Returns the view."""
        cv = self.views[name]
        if self._prepared:
            self._flush_prepared(cv.plan.stream)
        if cv._pending:
            os_rows = cv.commit_pending(emit_changes=self._emits_changes(cv))
            if os_rows is not None:
                self._emit_osrel(f"{name}_osrel", os_rows)
        return cv

    def read_view(self, name: str, at: float | None = None) -> DataFrame:
        return self._settle(name).read(at=at)

    def pin_view(self, name: str, pin_name: str) -> dict:
        """Pin view ``name``'s current state under ``pin_name`` — a
        named, GC-exempt snapshot of the matrel's bucket map, taken
        under the view's commit lock (so it can never interleave with
        a combiner merge).  ``read_view_pinned`` replays the view
        exactly as it stood, across later merges, compactions, SW
        expiry, and truncates — reproducible inputs for a training
        run over continuously-maintained aggregates.  Returns the pin
        record ({buckets, version, at})."""
        cv = self._settle(name)
        with cv.commit_lock:
            return cv.matrel.pin(pin_name)

    def unpin_view(self, name: str, pin_name: str) -> None:
        """Drop a view pin; its version dirs become reclaimable on
        the matrel's next GC sweep unless still live or held by
        another pin."""
        cv = self.views[name]
        with cv.commit_lock:
            cv.matrel.unpin(pin_name)

    def view_pins(self, name: str) -> dict:
        """Live pin records of a view: {pin_name: {buckets, version,
        at}}."""
        return self.views[name].matrel.pins()

    def read_view_pinned(self, name: str, pin_name: str) -> DataFrame:
        """Finalized rows of a view pin (see :meth:`pin_view`); no
        settle, a pin is immutable."""
        return self.views[name].read(pin=pin_name)

    def read_matrel(self, name: str) -> DataFrame:
        return self._settle(name).states(window=False)

    def output_of(self, name: str, with_seq: bool = False) -> DataFrame:
        """Retained tail of a CQ's output stream, read from disk —
        scale-safe for high-cardinality CVs and long-running engines.

        Row order across segments is NOT emission order (a multi-path
        parquet scan orders files for split packing, not by name);
        ``with_seq=True`` appends an ``_seq`` column carrying each
        row's emission-batch number (its segment index) so callers
        can ``orderBy("_seq")`` — e.g. to fold a ticker's old/new
        chain.  Rows within one batch share a seq; their relative
        order is immaterial (one change row per group per batch)."""
        osrel = f"{name}_osrel"
        segs = self._osrel_segments(osrel)
        if not segs:
            schema = self._osrel_schema.get(osrel)
            if schema is None:
                # nothing emitted yet (e.g. reader-gated with no
                # readers): fall back to the CREATE-time osrel schema
                sd = self.streams.get(osrel)
                schema = (sd.schema if sd is not None and sd.schema.fields
                          else T.StructType())
                if not self._wants_osrel(osrel) and \
                        osrel not in self._osrel_gate_warned:
                    # round-6 default flip (emission is reader-gated,
                    # matching src/combiner.c:1477-1489): surface the
                    # behavior change once instead of silently
                    # returning empty frames forever
                    self._osrel_gate_warned.add(osrel)
                    logging.getLogger(__name__).warning(
                        "output_of(%r): nothing has been emitted and "
                        "no downstream CQ reads this output stream — "
                        "change-row emission is reader-gated by "
                        "default; pass track_output_streams=True to "
                        "PipelineContext for a retained history tail "
                        "with no readers attached", name)
            empty = arrow_frame(self.spark, [], schema)
            return (empty.withColumn("_seq", F.lit(None).cast("long"))
                    if with_seq else empty)
        # segments may span an emission-schema change (e.g. an added
        # struct column): merge instead of trusting the first file
        df = self.spark.read.option("mergeSchema", "true") \
            .parquet(*segs)
        if with_seq:
            df = df.withColumn(
                "_seq",
                # anchored to the dir that directly CONTAINS the file:
                # a bare seg_(\d+) takes the FIRST match anywhere in
                # the absolute path, so a store root like
                # /data/seg_3/pdb (or a view named seg_2_foo) would
                # stamp every row with the same wrong _seq — the same
                # sharp edge as matrel's __v extraction (round-11
                # review)
                F.regexp_extract(F.input_file_name(),
                                 r"/seg_(\d+)/[^/]*$", 1)
                .cast("long"))
        return df

    def combine_read(self, name: str, group_by: list[str] | None = None,
                     at: float | None = None,
                     pin: str | None = None) -> DataFrame:
        """Read-time re-rollup over persisted partial states — the
        ``combine(col)`` feature (reference RewriteCombineAggs
        src/analyzer.c:4662; test user_combine.sql).  ``pin`` rolls
        up a named snapshot's states instead of the live matrel (SW
        cutoff at the pin instant), so a training run's coarser
        summaries stay derivable from the exact state it consumed."""
        # no settle for a pin: it is immutable — settling would run a
        # whole combiner merge whose output this read ignores
        cv = self.views[name] if pin is not None else self._settle(name)
        states = cv.states(at, pin)
        group_by = group_by or []
        keys = [F.col(c) for c in group_by]
        jvm_aggs, pd_aggs = cv.state_merge_aggs()
        merged = (grouped_agg(states, keys, group_by, jvm_aggs, pd_aggs)
                  if (jvm_aggs or pd_aggs) else states)
        return cv.with_finalized(merged).select(
            *group_by, *[call.out for call in cv.plan.aggs])

    # -- ops ------------------------------------------------------------------
    def combine_table(self, name: str, states: DataFrame) -> None:
        """Bulk-merge a table of partial-state rows into a CV's matrel
        (backfill / repartition tool; reference combine_table
        src/combiner.c:2250-2351).  ``states`` must have the matrel's
        group + state columns."""
        cv = self.views[name]
        with cv.commit_lock:
            cv.matrel.merge(states, cv._bucket_cols, cv.merge_fn)

    def dump_state(self, name: str, path: str) -> int:
        """Export a CV's matrel partial states to a portable directory
        (the pg_dump path of reference test_dump_restore.py: the dump
        carries matrel rows + catalog entries, and restoring them
        reproduces CV results without replaying the stream).  Writes
        the partial-state parquet plus a DUMP.json recording the CV's
        SQL for compatibility checking at restore.  Returns the number
        of state rows dumped."""
        import json
        if name not in self.views:
            raise CQError(f"continuous view {name} does not exist")
        cv = self._settle(name)
        states = cv.matrel.read()
        os.makedirs(path, exist_ok=True)
        n = 0
        if states is not None:
            states, obs = _observe_count(states)
            states.write.mode("overwrite").parquet(os.path.join(path, "states"))
            n = _observed_count(obs)
        with open(os.path.join(path, "DUMP.json"), "w") as f:
            json.dump({"name": name, "sql": cv.sql, "rows": n}, f)
        return n

    def restore_state(self, name: str, path: str,
                      merge: bool = False) -> int:
        """Import matrel partial states written by ``dump_state`` into
        an existing CV with the same definition (reference
        test_dump_restore.py).  ``merge=False`` replaces the matrel —
        the dump/restore-into-fresh-install flow; ``merge=True``
        combines the dumped states with the live ones (partial states
        are combinable by design, the same property combine_table
        uses) — the shard-migration flow.  Bucket ids are recomputed
        for this context's bucket count, so dumps move between
        engines with different num_buckets."""
        import json
        cv = self.views.get(name)
        if cv is None:
            raise CQError(f"continuous view {name} does not exist")
        with open(os.path.join(path, "DUMP.json")) as f:
            meta = json.load(f)
        if " ".join(meta["sql"].split()) != " ".join(cv.sql.split()):
            raise CQError(
                f"dump of {meta['name']!r} does not match the definition "
                f"of {name!r}; restore into a CV created with the same SQL")
        if meta["rows"] == 0:
            if not merge:
                with cv.commit_lock:
                    cv.matrel.truncate()
            return 0
        states = self.spark.read.parquet(os.path.join(path, "states")) \
            .drop(BUCKET_COL)
        with cv.commit_lock:
            if merge:
                cv.matrel.merge(states, cv._bucket_cols, cv.merge_fn)
            else:
                cv.matrel.overwrite(states, cv._bucket_cols)
        return int(meta["rows"])

    # matrels_writable GUC analog (reference cont_matrel.sql:
    # UPDATE/DELETE/INSERT against a matrel are rejected unless
    # pipelinedb.matrels_writable is on)
    matrels_writable: bool = False

    def _writable_matrel(self, name: str) -> "ContView":
        cv = self.views.get(name)
        if cv is None:
            raise CQError(f"continuous view {name} does not exist")
        if not self.matrels_writable:
            raise CQError("cannot modify materialization table: set "
                          "ctx.matrels_writable = True "
                          "(pipelinedb.matrels_writable)")
        self._settle(name)
        return cv

    def update_matrel(self, name: str, set_exprs: dict[str, str],
                      where: str | None = None) -> None:
        """``UPDATE <cv>_mrel SET col = expr [WHERE ...]`` over the
        matrel's state columns (reference cont_matrel.sql; for simple
        aggregates like count the state column IS the visible value).
        Subsequent stream inserts merge on top of the edited states."""
        cv = self._writable_matrel(name)
        states = cv.matrel.read()
        if states is None:
            return
        cond = F.expr(where) if where else F.lit(True)
        for col in set_exprs:
            if col not in states.columns:
                raise CQError(f"matrel column {col!r} does not exist "
                              f"(state columns: "
                              f"{[c for c in states.columns]})")
        # SQL UPDATE evaluates every SET right-hand side against the OLD
        # row, so build all replacements over the original columns in
        # one select (sequential withColumn would let a later expr see
        # an earlier assignment's new value).
        df = states.select(*[
            (F.when(cond, F.expr(set_exprs[c])).otherwise(F.col(c))
             if c in set_exprs else F.col(c)).alias(c)
            for c in states.columns])
        with cv.commit_lock:
            cv.matrel.overwrite(df.drop(BUCKET_COL), cv._bucket_cols)

    def delete_matrel_rows(self, name: str,
                           where: str | None = None) -> int:
        """``DELETE FROM <cv>_mrel [WHERE ...]`` (reference
        cont_matrel.sql); no WHERE empties the matrel."""
        cv = self._writable_matrel(name)
        with cv.commit_lock:
            if where is None:
                cv.matrel.truncate()
                return -1
            return cv.matrel.delete_where(F.expr(where))

    def add_matrel_constraint(self, view: str, name: str,
                              check: str) -> None:
        """``ALTER TABLE <cv>_mrel ADD CONSTRAINT ... CHECK (...)``
        (reference matrel_constraints.sql): a boolean expression over
        the CV's user-visible columns enforced at every upsert —
        violating merges are rejected and the group keeps its previous
        row (new violating groups never materialize).  Validated at
        ADD against the CV's row type; persisted for catalog replay."""
        cv = self.views.get(view)
        if cv is None:
            raise CQError(f"continuous view {view} does not exist")
        try:
            arrow_frame(self.spark, [], cv._overlay_schema()) \
                .filter(F.expr(check))
        except Exception as exc:
            raise CQError(f"invalid constraint {name!r}: {exc}") from exc
        cv.constraints[name] = check
        self._catalog_add({"kind": "constraint", "name": f"{view}.{name}",
                           "view": view, "cname": name, "check": check})

    def drop_matrel_constraint(self, view: str, name: str) -> None:
        cv = self.views.get(view)
        if cv is None:
            raise CQError(f"continuous view {view} does not exist")
        cv.constraints.pop(name, None)
        self._catalog_remove("constraint", f"{view}.{name}")

    def copy_from(self, stream: str, path: str, fmt: str = "parquet",
                  options: dict[str, str] | None = None) -> int:
        """COPY stream FROM file — bulk file→stream ingestion
        (reference DoStreamCopy src/copy.c:601)."""
        reader = self.spark.read.format(fmt)
        if fmt in ("csv", "json"):
            reader = reader.option("header", "true")
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        return self.insert(stream, reader.load(path))

    def activate(self, name: str, on: bool = True) -> None:
        if name in self.views:
            self.views[name].active = on
        elif name in self.transforms:
            self.transforms[name].active = on

    def deactivate(self, name: str) -> None:
        self.activate(name, False)

    def truncate_view(self, name: str) -> None:
        cv = self.views[name]
        with cv.commit_lock:
            cv.matrel.truncate()

    def compact_view(self, name: str) -> int:
        """Rewrite a CV's matrel into one fresh packed version and drop
        all old version dirs (VACUUM FULL analog) — bounds the disk
        amplification of stale rows pinned by cold buckets.  Returns
        the number of version dirs removed."""
        cv = self.views.get(name)
        if cv is None:
            raise CQError(f"continuous view {name} does not exist")
        self._settle(name)
        with cv.commit_lock:
            return cv.matrel.compact()

    def flush(self) -> None:
        """Sync barrier (reference pipeline_flush): commit every CV's
        pending batches; streaming attachments additionally call
        processAllAvailable (see streaming/runtime.py)."""
        for p in list(self._prepared):
            p.flush()
        for name in list(self.views):
            self._settle(name)

    # -- prepared inserts (PREPARE / EXECUTE) ------------------------------
    def prepare_insert(self, stream: str,
                       columns: list[str] | None = None,
                       batch_size: int = 256) -> "PreparedInsert":
        """``PREPARE p AS INSERT INTO stream (cols) VALUES ($1, ...)``
        analog (reference prepared_stream_insert.sql,
        src/stream_fdw.c:477-585).  Returns a handle whose
        ``execute(*params)`` binds one row; rows buffer client-side and
        ship as one micro-batch per ``batch_size`` (the reference
        likewise microbatches prepared inserts per commit).  Every
        read of a consuming CV — ``read_view``, ``ctx.sql``,
        ``combine_read``, ``read_matrel``, ``pin_view`` — ships
        pending rows first, so results are always consistent with
        every EXECUTE so far."""
        sd = self.streams.get(stream)
        if sd is None:
            raise CQError(f"unknown stream {stream}")
        if columns is None:
            columns = sd.schema.fieldNames()
        self._check_columns(sd, columns)
        p = PreparedInsert(self, stream, list(columns), batch_size)
        self._prepared.append(p)
        return p

    @staticmethod
    def _check_columns(sd: StreamDef, columns: list[str]) -> None:
        """An explicit column list names only the stream's columns."""
        valid = sd.schema.fieldNames()
        for c in columns:
            if c not in valid:
                raise CQError(f"column {c!r} does not exist in stream "
                              f"{sd.name} (columns: {valid})")

    def _flush_prepared(self, stream: str) -> None:
        for p in list(self._prepared):
            if p.stream == stream:
                p.flush()

    def reap_ttl(self, name: str, now: float | None = None) -> int:
        self._settle(name)
        return self.views[name].reap(now=now)

    def tick_sw(self, name: str, now: float | None = None) -> int:
        """Sliding-window output-stream ticker: recompute instantaneous
        SW values, diff against the previous tick's rows, emit
        (old, new) change rows to the CV's output stream, and GC
        expired matrel steps (reference tick_sw_groups
        src/combiner.c:992-1134; SW osrels carry no delta column).
        Returns the number of change rows emitted."""
        cv = self._settle(name)
        if cv.plan.sw_column is None:
            raise CQError(f"{name} is not a sliding-window view")
        now = now if now is not None else time.time()
        osdir = os.path.join(self.osrel_root, f"{name}_osrel")
        snap = os.path.join(osdir, "_snap")
        if not self._wants_osrel(f"{name}_osrel"):
            # reference parity (src/combiner.c:1619-1622): with no
            # output-stream readers the SW tick skips snapshot + diff
            # + emission entirely; only window expiry still runs.  A
            # reader attaching later sees post-attach ticks (its first
            # tick emits every in-window row as an old=NULL insert).
            shutil.rmtree(snap, ignore_errors=True)
            cv.reap(now=now)
            return 0
        # snapshot this tick's instantaneous SW rows to DISK (a parquet
        # snapshot swapped per tick) instead of an accumulating chain
        # of localCheckpoints: the previous tick's blocks were only
        # freed by GC, so a long-running ticker grew storage memory
        # unboundedly.  The diff against the previous snapshot is a
        # DataFrame full-outer join with no-op elision — no driver
        # collect of CV rows, so a SW CV with millions of groups ticks
        # fine (reference tick_sw_groups src/combiner.c:992-1134
        # likewise diffs in the combiner).  Bonus: tick state survives
        # an engine restart, so the first post-restart tick diffs
        # against the last emitted snapshot instead of re-emitting
        # every group as an insert.
        new_snap = os.path.join(osdir, "_snap.new")
        cv.read(at=now).write.mode("overwrite").parquet(new_snap)
        cur = self.spark.read.parquet(new_snap)
        kcols = cv.key_cols()
        kaliases = [f"__k{i}" for i in range(len(kcols))]

        def sided(df: DataFrame, side: str) -> DataFrame:
            keys = [F.col(k).alias(a) for k, a in zip(kcols, kaliases)]
            return df.select(*keys,
                             F.struct(*[F.col(c) for c in df.columns])
                             .alias(side))

        new_side = sided(cur, "new")
        prev_df = (self.spark.read.parquet(snap)
                   if os.path.isdir(snap) else None)
        if prev_df is not None:
            joined = new_side.join(sided(prev_df, "old"), on=kaliases,
                                   how="full_outer")
        else:
            joined = new_side.withColumn(
                "old", F.lit(None).cast(new_side.schema["new"].dataType))
        changes = (joined.filter(~F.col("old").eqNullSafe(F.col("new")))
                   .select("old", "new"))
        cv.reap(now=now)
        n = self._emit_osrel(f"{name}_osrel", changes)
        # emission consumed both snapshots; promote the new one.  The
        # promotion is not atomic with the emission write: a crash in
        # between re-diffs against the pre-emission snapshot next tick
        # and re-emits that tick's changes — the same at-least-once
        # window as the foreachBatch epoch marker (and the reference's
        # tick cache, which is memory-only and re-emits EVERYTHING on
        # restart, combiner.c:78-96; persisting the snapshot at all is
        # strictly stronger than the reference contract).
        shutil.rmtree(snap, ignore_errors=True)
        os.rename(new_snap, snap)
        return n

    def empty_stream_df(self, stream: str) -> DataFrame:
        return arrow_frame(self.spark, [], self.streams[stream].schema)

    def sql(self, query: str, at: float | None = None) -> DataFrame:
        """Ad-hoc SQL over continuous views (the ordinary read path,
        reference §3.3).  The statement is read once, by Spark's own
        parser, and runs as that parsed plan.  Each CV it names is
        settled and registered fresh as its overlay at ``at``, each
        ``<cv>_mrel`` as the CV's matrel, each registered table as
        itself; naming a stream raises ``CQError``.  ``INSERT INTO
        stream [(cols)] {SELECT … | VALUES …}`` inserts the body's rows;
        ``combine(col)`` over one CV re-aggregates its partial states
        (:meth:`_rewrite_combine_sql`)."""
        plan = self._parse(query)
        if plan.nodeName() == "InsertIntoStatement":
            stream = _named(self.streams, _relation_name(
                plan.table().nodeName(), plan.table()) or "")
            if stream is not None:
                return self._insert_select(stream, plan)
        rels = self._relations(plan)
        df = self._rewrite_combine_sql(plan, query, at, rels)
        if df is not None:
            return df
        self._register(rels, at)
        return self._frame(plan)

    def _parse(self, text: str):
        """``text`` as Spark's parser reads it: the engine's one SQL reader.
        INSERT targets, columns and bodies, relations, aliases and
        combine() calls come from this tree, never from the text."""
        return self._parser.parsePlan(text)

    def _frame(self, plan) -> DataFrame:
        """A parsed plan as a DataFrame, analysed now, not re-parsed."""
        return DataFrame(self._dataset.ofRows(self.spark._jsparkSession,
                                              plan), self.spark)

    def _relations(self, plan) -> set[str]:
        """Single-part relation names a parsed statement reads."""
        return {rel for kind, node in _plans(plan)
                if (rel := _relation_name(kind, node)) is not None}

    def _register(self, rels: set[str], at: float | None) -> None:
        """Register, fresh, each CV (overlay at ``at``), ``<cv>_mrel``
        and table named in ``rels`` as a session temp view.  Streams
        are not scannable relations (reference stream_fdw.c): naming
        one raises."""
        for rel in rels:
            stream = _named(self.streams, rel)
            if stream is not None:
                raise CQError(f"stream {stream} is not a relation: only "
                              "continuous queries read streams")
            cv = _named(self.views, rel)
            owner = (_named(self.views, rel[:-5])
                     if rel.lower().endswith("_mrel") else None)
            table = _named(self.tables, rel)
            if cv is not None:
                self.read_view(cv, at).createOrReplaceTempView(rel)
            elif owner is not None:
                self.read_matrel(owner).createOrReplaceTempView(rel)
            elif table is not None:
                self.tables[table].createOrReplaceTempView(rel)

    def _insert_select(self, stream: str, ins) -> DataFrame:
        """``INSERT INTO stream [(cols)] {SELECT … | VALUES …}`` (reference
        stream_insert_subselect.sql, stream_exprs.sql): the parsed body
        runs as parsed, its columns take the list's names (a ``VALUES``
        body without one: the stream's columns in order) and its rows
        enter the stream by name.  Reading a stream in it raises."""
        body = ins.query()
        cols = _seq(ins.userSpecifiedCols())
        self._check_columns(self.streams[stream], cols)
        if not cols and body.nodeName() in ("LocalRelation",
                                            "UnresolvedInlineTable"):
            cols = [f.name for f in self.streams[stream].schema.fields
                    if f.name != ARRIVAL_COL]
        self._register(self._relations(body), None)
        df = self._frame(body)
        if cols:
            if len(cols) != len(df.columns):
                raise CQError("INSERT column list arity doesn't match "
                              "the SELECT output")
            df = df.toDF(*cols)
        n = self.insert(stream, df)
        return arrow_frame(self.spark, [(n,)], "inserted long")

    def _rewrite_combine_sql(self, plan, query: str, at: float | None,
                             rels: set[str]) -> DataFrame | None:
        """General ``combine(col)`` rewrite (reference RewriteCombineAggs
        src/analyzer.c:4662; test user_combine.sql:24-50), shaped by the
        parse tree.  FROM/WHERE, with any WITH, runs as parsed while
        the one CV's own name is bound to its matrel *states*; GROUP BY
        re-merges them under the query's grouping; each ``combine(x)``
        in the SELECT list and HAVING reads the finalized ``x``
        (``round(combine(x), 2)``, ``combine(x)/combine(n)``); ORDER
        BY, LIMIT and OFFSET apply over the output columns.
        Returns None when the SELECT list calls no combine()."""
        if not plan.containsPattern(self._calls_fn):
            return None  # no function call at all: one JVM check
        node, with_, outer, having = plan, None, [], None
        if node.nodeName() == "UnresolvedWith":
            with_, node = node, node.child()
        while (kind := node.nodeName()) in ("Sort", "Offset", "GlobalLimit",
                                            "LocalLimit"):
            outer.append(node)
            node = node.child()
        if kind == "UnresolvedHaving":
            having, node = node, node.child()
            kind = node.nodeName()
        if kind not in ("Aggregate", "Project"):
            return None
        agg = kind == "Aggregate"
        items = _seq(node.aggregateExpressions() if agg else node.projectList())
        groups = _seq(node.groupingExpressions()) if agg else []
        calls = _combine_calls(items)
        if not calls:
            return None
        cv_names = {_named(self.views, r) for r in rels} - {None}
        if len(cv_names) != 1:
            # combine() over a plain table (user_combine.sql:14)
            raise CQError("relation is not a continuous view" if not
                          cv_names else "combine() reads one continuous "
                          f"view, not {sorted(cv_names)}")
        cv_name = cv_names.pop()
        cv = self.views[cv_name]
        # argument validation, mirroring the reference's targeted
        # errors (user_combine.sql:8-22 / expected/user_combine.out)
        agg_outs = {call.out for call in cv.plan.aggs}
        for call in calls:
            args = _seq(call.arguments())
            if len(args) != 1:
                raise CQError(
                    f"function {_text(query, call)} does not exist: "
                    "combine accepts a single aggregate column")
            if (args[0].nodeName() != "UnresolvedAttribute"
                    or args[0].nameParts().size() != 1):
                raise CQError(
                    "combine argument must be a single aggregate column")
            arg = args[0].nameParts().apply(0)
            if arg not in agg_outs:
                if arg in cv._overlay_schema().fieldNames():
                    raise CQError(
                        "combine argument is not an aggregate column")
                raise CQError(f'column "{arg}" does not exist')
        from pyspark.errors import AnalysisException
        seq = self.spark._jvm.PythonUtils.toSeq
        base = node.child()
        if with_ is not None:
            base = with_.withNewChildren(seq([base]))
        # group keys: bare identifiers keep their name, expressions get
        # positional aliases; select items equal to a key read it
        key_names = [
            g.nameParts().apply(0) if g.nodeName() == "UnresolvedAttribute"
            and g.nameParts().size() == 1 else f"__g{i}"
            for i, g in enumerate(groups)]
        keys = [F.expr(_text(query, g)).alias(k)
                for g, k in zip(groups, key_names)]
        fin = {call.out: f"`__fin_{call.out}`" for call in cv.plan.aggs}
        states = self._settle(cv_name).states(at)
        try:
            states.createOrReplaceTempView(cv_name)
            self._register({r for r in rels
                            if _named(self.views, r) is None}, at)
            base = self._frame(base)
            # re-merge partial states under the query grouping and
            # finalize every combinable column
            df = cv.with_finalized(
                grouped_agg(base, keys, key_names, *cv.state_merge_aggs()),
                "__fin_")
            if having is not None:
                df = df.filter(F.expr(
                    _text(query, having.havingCondition(), fin)))
            cols = []
            for item in items:
                kind = item.nodeName()
                expr = (item.child() if kind in ("Alias", "UnresolvedAlias")
                        else item)
                key = next((k for g, k in zip(groups, key_names)
                            if g.equals(expr)), None)
                col = (F.col(key) if key is not None
                       else F.expr(_text(query, expr, fin)))
                cols.append(col.alias(item.name() if kind == "Alias"
                                      else _text(query, expr)))
            top = df.select(*cols)._jdf.logicalPlan()
            for node in reversed(outer):
                top = node.withNewChildren(seq([top]))
            return self._frame(top)
        except AnalysisException as exc:
            # a validated combine query with a bad FROM/WHERE surfaces
            # ITS analysis error (ORDER BY combine(x) is one)
            raise CQError(f"invalid combine query: {exc}") from exc
        finally:
            self.spark.catalog.dropTempView(cv_name)

    # -- introspection (pipelinedb.views / proc_stats analogs,
    #    reference miscutils.c catalogs + stats.c counters) -----------------
    def version(self) -> str:
        """pipelinedb.version() analog (reference pipeline_version,
        sql:2620-2623)."""
        from pipelinedb_spark import __version__
        return (f"pipelinedb_spark {__version__} "
                f"(PipelineDB 1.0.0-compatible surface) "
                f"on Spark {self.spark.version}")

    def set_ttl(self, name: str, ttl: str | None = None,
                ttl_column: str | None = None) -> tuple:
        """pipelinedb.set_ttl(cv, interval, column) — change or clear a
        CV's TTL at runtime (reference pipeline_set_ttl,
        sql:2636-2639).  Returns (name, ttl_seconds, ttl_column);
        persisted to the catalog for replay."""
        cv = self.views.get(name)
        if cv is None:
            raise CQError(f"continuous view {name} does not exist")
        if cv.plan.sw_column is not None:
            raise CQError("cannot set TTL on a sliding-window view "
                          "(its window defines expiration)")
        if ttl is None:
            cv.ttl, cv.ttl_column = None, None
        else:
            from pipelinedb_spark.analyzer import parse_interval
            if ttl_column is not None:
                cv.resolve_ttl_column(ttl_column)  # typo fails here,
                # not silently in the background reaper
            cv.ttl = parse_interval(ttl)
            cv.ttl_column = ttl_column
        for rec in self._catalog:
            if rec["kind"] == "view" and rec["name"] == name:
                rec["opts"]["ttl"] = ttl
                rec["opts"]["ttl_column"] = ttl_column
        if not self._replaying:
            self._catalog_flush()
        return (name, cv.ttl, cv.ttl_column)

    def ttl_expire(self, name: str) -> int:
        """pipelinedb.ttl_expire(cv) — synchronously delete this CV's
        TTL-expired rows, returning the delete count (reference
        pipeline_ttl_expire, sql:2630-2633; reaper.c:63-128)."""
        cv = self.views.get(name)
        if cv is None:
            raise CQError(f"continuous view {name} does not exist")
        self._settle(name)
        return cv.reap()

    def get_worker_querydef(self, name: str) -> str:
        """Worker-plan introspection (reference
        pipeline_get_worker_querydef, sql:2661-2664): the partial-agg
        plan this CV runs per micro-batch, as Spark's formatted plan."""
        cv = self.views.get(name)
        if cv is None:
            raise CQError(f"continuous view {name} does not exist")
        probe = cv.worker(self._plan_batch(cv))
        return probe._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))

    def get_combiner_querydef(self, name: str) -> str:
        """Combiner-plan introspection (reference
        pipeline_get_combiner_querydef, sql:2666-2669): the
        merge-partials plan, as Spark's formatted plan."""
        cv = self.views.get(name)
        if cv is None:
            raise CQError(f"continuous view {name} does not exist")
        probe = cv.worker(self._plan_batch(cv)) \
            .withColumn(BUCKET_COL, F.lit(0))
        merged = cv.merge_fn(probe)
        return merged._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))

    def _plan_batch(self, cv: "ContView") -> DataFrame:
        """A one-row list batch of nulls for ``cv``'s stream, run
        through the worker input: the querydefs show the plan a list
        insert runs.  An empty local frame would let the optimizer
        fold the whole plan into an empty scan."""
        stream = cv.plan.stream
        batch = self._coerce_batch(self.streams[stream], [{}], None)
        return self._worker_input(cv.plan, stream, batch)

    def list_views(self) -> DataFrame:
        rows = []
        for name, cv in self.views.items():
            rows.append((name, "materialize", cv.sql, cv.active,
                         cv.plan.sw_seconds, cv.ttl))
        for name, tr in self.transforms.items():
            rows.append((name, "transform", tr.sql, tr.active, None, None))
        return arrow_frame(
            self.spark, rows,
            "name string, action string, query string, active boolean, "
            "sw_seconds double, ttl_seconds double")

    def list_streams(self) -> DataFrame:
        rows = [(name, sd.schema.simpleString(), sd.readers)
                for name, sd in self.streams.items()]
        return arrow_frame(self.spark, rows,
                           "name string, schema string, readers array<string>")

    def stats_df(self) -> DataFrame:
        """Per-CQ counters (reference pipelinedb.query_stats,
        sql:2744-2764)."""
        rows = []
        for name, cv in self.views.items():
            st = cv.stats
            rows.append((name, "view", st.input_rows, st.output_rows,
                         st.batches, st.errors, st.exec_ms))
        for name, tr in self.transforms.items():
            st = tr.stats
            rows.append((name, "transform", st.input_rows, st.output_rows,
                         st.batches, st.errors, st.exec_ms))
        return arrow_frame(
            self.spark, rows,
            "name string, kind string, input_rows long, output_rows long, "
            "batches long, errors long, exec_ms double")

    def stream_stats(self) -> DataFrame:
        """Per-stream ingest counters (reference
        pipelinedb.stream_stats, sql:2792-2802; input_bytes omitted —
        batches flow as columnar DataFrames, not serialized tuples)."""
        rows = [(name, sd.input_rows, sd.input_batches)
                for name, sd in self.streams.items()]
        return arrow_frame(self.spark, rows,
                           "stream string, input_rows long, input_batches long")

    def db_stats(self) -> DataFrame:
        """Whole-context rollup by CQ kind (reference
        pipelinedb.db_stats, sql:2766-2780)."""
        return (self.stats_df().groupBy("kind")
                .agg(F.sum("input_rows").alias("input_rows"),
                     F.sum("output_rows").alias("output_rows"),
                     F.sum("batches").alias("executions"),
                     F.sum("errors").alias("errors"),
                     F.sum("exec_ms").alias("exec_ms"))
                .orderBy("kind"))

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
