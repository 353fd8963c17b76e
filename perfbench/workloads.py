"""The benchmark's workloads, driven through the package surface only.

Every load is closed-loop with one client: each ingest or read call
starts when the previous one has returned, the way the foreachBatch
bridge feeds the engine.  A run, in one Spark session:

1. builds one context cold (untimed: it pays the JVM's start-up) and
   runs ``warm_steps`` untimed steps on it: the first commits of a JVM
   run 2-4x slower than later ones while the JIT compiles the commit
   path;
2. builds ``WARM_SETUPS`` untimed and then ``setups`` timed fresh
   contexts (context, DDL, preload); set-up time is the timed ones'
   median;
3. runs ``POST_SETUP_WARM`` untimed steps on the last context, then
   times steps until ``seconds`` of operation time have passed;
4. checks every answer against the Python reference built from the
   same seeded inputs: the reads inside timed steps and, on fanout, a
   final read of each view.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import time
import traceback
from collections import defaultdict

from perfbench import checks, gen, stats
from perfbench import trace as tr

# untimed set-ups before the timed ones: the first set-ups after the cold
# one still speed up from one to the next as the JIT compiles their path
WARM_SETUPS = 1
POST_SETUP_WARM = 1
# 2 buckets per core of the 4-core box the bounds were set on: at the
# engine's default of 32, commits and reads take ~1.4x longer, so
# fewer samples fit in a run
NUM_BUCKETS = 8
# sliding-window views below use '1 hour', whose step is 5% of it
SW_STEP_S = 180


class Workload:
    """Shared loop, timing, failure accounting and traced-run counters.
    Subclasses provide ``setup``, ``step`` and ``verify``."""

    views: tuple[str, ...] = ()
    warm_steps = 0
    # timed set-ups; set-up time is their median
    setups = 5

    def __init__(self, spark, workdir: str, seed: int,
                 rec: tr.Recorder | None = None) -> None:
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.rec = rec
        self.ctx = None
        self.commit_ms: list[float] = []
        self.read_ms: dict[str, list[float]] = defaultdict(list)
        self.rows = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, list[float]] = defaultdict(list)
        self._jobs_seen = -1
        self._dirs = 0
        # Rows carry an explicit arrival time: a seeded number of window
        # steps (gen.batch_step) before the step the run started in.  So
        # a window holds the same steps whatever the wall clock; stamped
        # by the ingest clock, a run that crossed a step boundary held
        # one more step than a run that did not.
        self.anchor = int(time.time() // SW_STEP_S) * SW_STEP_S

    def arrival(self, j: int) -> datetime.datetime:
        """Arrival time ``j`` window steps before the anchor step."""
        return datetime.datetime.fromtimestamp(
            self.anchor - j * SW_STEP_S, tz=datetime.timezone.utc)

    # -- driving ---------------------------------------------------------------
    def run(self, seconds: float) -> None:
        # wall time from the start of run() to the end of each phase
        self.phases: dict[str, float] = {}
        start = time.perf_counter()

        def mark(phase: str) -> None:
            self.phases[phase] = time.perf_counter() - start
        self.prepare()
        mark("prepare")
        self.setup_s = []
        t0 = time.perf_counter()
        self.setup()
        self.setup_cold_s = time.perf_counter() - t0
        mark("cold")
        n = self.warm_steps
        for i in range(n):
            self.step(i, timed=False)
        mark("warm")
        for j in range(WARM_SETUPS + self.setups):
            self.close()
            t0 = time.perf_counter()
            self.setup()
            if j >= WARM_SETUPS:
                self.setup_s.append(time.perf_counter() - t0)
        mark("setups")
        # the batch sequence goes on where the cold context left it; each
        # set-up starts a reference of its own
        for i in range(n, n + POST_SETUP_WARM):
            self.step(i, timed=False)
        mark("postwarm")
        self.timed_s = 0.0
        # rows per second of each timed step: its insert and its reads
        self.step_rates: list[float] = []
        i = n + POST_SETUP_WARM
        before = self._load_counters()
        while self.timed_s < seconds:
            rows, t = self.rows, self.timed_s
            self.step(i, timed=True)
            self.step_rates.append((self.rows - rows) / (self.timed_s - t))
            i += 1
        # the report's mean rate is over the loop, not the final reads
        self.loop_s = self.timed_s
        self.loop_load = {k: v - before[k]
                          for k, v in self._load_counters().items()}
        mark("loop")
        self.verify()
        mark("verify")
        if self.rec is not None:
            self.end_state()

    def _load_counters(self) -> dict[str, float]:
        """JVM garbage-collection time and this machine's CPU time split,
        for the report file: they tell a slow run's cause apart."""
        mf = self.spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory
        out = {"jvm_gc_ms": float(sum(
            b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))}
        with open("/proc/stat") as f:
            cpu = [float(x) for x in f.readline().split()[1:9]]
        tick = os.sysconf("SC_CLK_TCK")
        for name, v in zip(("user", "nice", "system", "idle", "iowait",
                            "irq", "softirq", "steal"), cpu):
            out[f"cpu_{name}_s"] = v / tick
        return out

    def prepare(self) -> None:
        """Build inputs that every set-up shares, outside the timers."""

    def close(self) -> None:
        if self.ctx is not None:
            self.ctx.close()
            self.ctx = None

    def new_dir(self, kind: str) -> str:
        self._dirs += 1
        return os.path.join(self.workdir, f"{kind}{self._dirs}")

    def new_ctx(self):
        from pipelinedb_spark import PipelineContext
        root = self.new_dir("ctx")
        self.ctx = PipelineContext(self.spark, root=root,
                                   num_buckets=NUM_BUCKETS)
        return self.ctx

    @contextlib.contextmanager
    def span(self, name: str):
        """A span of the benchmark's own around a call that is not wrapped
        by ``trace.install``; nothing when the run is untraced."""
        sp = self.rec.begin(name) if self.rec else None
        try:
            yield
        finally:
            if sp is not None:
                self.rec.end(sp)

    def _op(self, kind: str, label: str | None, fn):
        """Run one timed operation; returns (result, seconds) with
        result None when it raised."""
        self.attempted += 1
        jobs0 = self._last_job() if self.rec else None
        sp = self.rec.begin(f"op.{kind}", label) if self.rec else None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            out = None
            self.failed += 1
            self.errors.append(f"{kind} {label}: "
                               f"{traceback.format_exc(limit=3)}")
        dt = time.perf_counter() - t0
        self.timed_s += dt
        if sp is not None:
            self.rec.end(sp)
            self.layer[f"jobs.{kind}"].append(self._last_job() - jobs0)
        return out, dt

    def commit(self, stream: str, rows, n: int, timed: bool,
               columns: list[str] | None = None) -> None:
        if not timed:
            self.ctx.insert(stream, rows, columns)
            return
        before = self._matrel_versions() if self.rec else None
        out, dt = self._op("commit", stream,
                           lambda: self.ctx.insert(stream, rows, columns))
        if out is not None:
            self.rows += n
        self.commit_ms.append(dt * 1000.0)
        if self.rec is not None:
            self.layer["bytes_written"].append(
                self._bytes_written_since(before))

    def read(self, shape: str, plan, check, timed: bool = True) -> None:
        """Time planning plus collect of one read; the check runs
        outside the timer and a wrong answer counts as a failure."""
        if not timed:
            plan().collect()
            return
        holder = {}

        def go():
            df = holder["df"] = plan()
            return df.collect()
        rows, dt = self._op("read", shape, go)
        self.read_ms[shape].append(dt * 1000.0)
        if rows is None:
            return
        if self.rec is not None:
            self.layer["files_scanned"].append(
                len(holder["df"].inputFiles()))
        try:
            errs = check([r.asDict() for r in rows])
        except Exception:
            errs = [f"check {shape}: {traceback.format_exc(limit=3)}"]
        if errs:
            self.failed += 1
            self.errors.extend(errs[:5])

    # -- traced-run counters ------------------------------------------------------
    def _last_job(self) -> int:
        sc = self.spark.sparkContext
        # job-start events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        ids = sc.statusTracker().getJobIdsForGroup(None)
        self._jobs_seen = max([self._jobs_seen, *ids])
        return self._jobs_seen

    def _manifests(self):
        from pipelinedb_spark.manifestio import resolve_manifest_io
        from pipelinedb_spark.matrel import DEFAULT_MANIFEST_FORMAT
        for cv in self.ctx.views.values():
            st = cv.matrel
            io = resolve_manifest_io(st.dir, "MANIFEST", st.manifest_format,
                                     DEFAULT_MANIFEST_FORMAT)
            yield st, io.read_versioned()[0]

    def _matrel_versions(self) -> dict[str, int]:
        return {st.name: m["version"] for st, m in self._manifests()}

    def _bytes_written_since(self, before: dict[str, int]) -> int:
        total = 0
        for st, m in self._manifests():
            for d, info in m.get("dirs", {}).items():
                if int(d[1:]) > before.get(st.name, 0):
                    total += info["bytes"]
        return total

    def layer_extras(self, durations) -> dict[str, tuple[float, str]]:
        """Per-layer metrics only this workload exercises; ``durations``
        maps a span name to the durations of its spans under commits."""
        return {}

    def end_state(self) -> None:
        """Traced runs: state counters read once, after the loop."""
        live = stale = 0
        for st, m in self._manifests():
            live += len({os.path.relpath(p, st.dir).split(os.sep)[0]
                         for p in m["buckets"].values()})
            stale += st.stale_stats()[1]
        self.layer["live_version_dirs"].append(live)
        self.layer["stale_bytes"].append(stale)


class Fanout(Workload):
    """The commit floor: ~2k-row Python-list inserts into one stream read
    by four views plus one view over the plain view's change feed."""

    views = ("plain", "sw", "hll", "joined", "cascade")
    warm_steps = 2
    # after the loop each view is read and checked this many more times
    final_passes = 1
    CHECKS = {"plain": checks.check_plain, "sw": checks.check_sw,
              "hll": checks.check_hll, "joined": checks.check_joined,
              "cascade": checks.check_cascade}

    def setup(self) -> None:
        ctx = self.new_ctx()
        ctx.create_stream("ev", "k string, region string, v double, "
                                "u string")
        ctx.register_table("dim", self.spark.createDataFrame(
            gen.fanout_dim(), "k string, grp string"))
        ctx.create_view("plain", "SELECT k, count(*) AS n, sum(v) AS s, "
                        "avg(v) AS a, min(v) AS mn, max(v) AS mx "
                        "FROM ev GROUP BY k")
        ctx.create_view("sw", "SELECT k, count(*) AS n, sum(v) AS s "
                        "FROM ev GROUP BY k", sw="1 hour")
        ctx.create_view("hll", "SELECT region, count(DISTINCT u) AS du "
                        "FROM ev GROUP BY region")
        ctx.create_view("joined", "SELECT dim.grp AS grp, count(*) AS n, "
                        "sum(ev.v) AS s FROM ev JOIN dim ON ev.k = dim.k "
                        "GROUP BY dim.grp")
        ctx.create_view("cascade", "SELECT sum((delta).n) AS dn "
                        "FROM output_of('plain')")
        self.ref = checks.FanoutRef()

    def step(self, i: int, timed: bool) -> None:
        rows = gen.fanout_batch(self.seed, i)
        at = self.arrival(gen.batch_step(self.seed, "fanout", i))
        for r in rows:
            r["arrival_timestamp"] = at
        self.commit("ev", rows, len(rows), timed)
        self.ref.add(rows)
        # one view read per step, round robin, so the reads spread over
        # the whole loop instead of one burst after it
        self.read_view(self.views[i % len(self.views)], timed)

    def read_view(self, name: str, timed: bool = True) -> None:
        self.read(f"view.{name}", lambda: self.ctx.read_view(name),
                  lambda rows: self.CHECKS[name](rows, self.ref), timed)

    def verify(self) -> None:
        for _ in range(self.final_passes):
            for name in self.views:
                self.read_view(name)


class SketchBulk(Workload):
    """The data path and sketch kernels: pre-materialized DataFrame
    inserts into t-digest, top-k and moment views over ~1k groups."""

    views = ("tdigest", "topk")
    warm_steps = 3
    SCHEMA = "k string, item string, v double"

    def _frame(self, i: int):
        rows = gen.sketch_batch(self.seed, i)
        return rows, self.spark.createDataFrame(rows, self.SCHEMA) \
            .localCheckpoint(eager=True)

    def setup(self) -> None:
        from pipelinedb_spark import register_sketch_aggs
        register_sketch_aggs()
        ctx = self.new_ctx()
        ctx.create_stream("m", self.SCHEMA)
        ctx.create_view("tdigest", "SELECT k, count(*) AS n, avg(v) AS a, "
                        "stddev(v) AS sd, percentile_cont(0.9) WITHIN GROUP "
                        "(ORDER BY v) AS p90 FROM m GROUP BY k")
        ctx.create_view("topk", "SELECT k, topk_agg(item, 5) AS tk "
                        "FROM m GROUP BY k")
        self.ref = checks.SketchRef()

    def step(self, i: int, timed: bool) -> None:
        rows, df = self._frame(i)
        self.commit("m", df, len(rows), timed)
        self.ref.add(rows)

    def verify(self) -> None:
        from pipelinedb_spark.functions.sketch_fns import topk_py
        self.read("view.tdigest", lambda: self.ctx.read_view("tdigest"),
                  lambda rows: checks.check_tdigest(rows, self.ref))

        def topk(rows):
            return checks.check_topk(
                [(r["k"], [v for v, _ in topk_py(bytes(r["tk"]),
                                                 checks.TOPK)])
                 for r in rows], self.ref)
        self.read("view.topk", lambda: self.ctx.read_view("topk"), topk)


class ReadMix(Workload):
    """Reads beside writes: a preloaded ~100k-group view and a sliding-
    window view; each cycle is one small skewed insert and four reads."""

    views = ("agg", "window")
    warm_steps = 1
    # each set-up loads the 100k-row preload: ~2 s against fanout's 0.7 s
    setups = 3
    SCHEMA = "k string, region string, v double"

    def prepare(self) -> None:
        import pandas as pd
        from pyspark.sql import functions as F
        rows = gen.read_preload(self.seed)
        # through pandas and Arrow: 0.6 s against 1.1 s from a row list,
        # measured in a warm JVM (the first Spark job of a run pays ~4 s
        # either way)
        pdf = pd.DataFrame(rows, columns=["k", "region", "v", "j"])
        pdf["t"] = self.anchor - pdf.pop("j") * SW_STEP_S
        df = self.spark.createDataFrame(pdf, self.SCHEMA + ", t long")
        self._preload = (rows, df.select(
            "k", "region", "v",
            F.timestamp_seconds("t").alias("arrival_timestamp"))
            .localCheckpoint(eager=True))

    def setup(self) -> None:
        ctx = self.new_ctx()
        ctx.create_stream("ev", self.SCHEMA)
        ctx.create_view("agg", "SELECT k, region, count(*) AS n, "
                        "sum(v) AS s FROM ev GROUP BY k, region")
        ctx.create_view("window", "SELECT region, count(*) AS n FROM ev "
                        "GROUP BY region", sw="1 hour")
        self.ref = checks.ReadRef()
        rows, df = self._preload
        ctx.insert("ev", df)
        self.ref.add(rows)

    def step(self, i: int, timed: bool) -> None:
        rows, key = gen.read_batch(self.seed, i)
        at = self.arrival(gen.batch_step(self.seed, "read_mix", i))
        self.commit("ev", [(*r, at) for r in rows], len(rows),
                    timed, ["k", "region", "v", "arrival_timestamp"])
        self.ref.add(rows)
        ctx, ref = self.ctx, self.ref
        reads = (
            ("top", lambda: ctx.sql("SELECT k, region, n FROM agg "
                                    "ORDER BY n DESC LIMIT 10"),
             lambda r: checks.check_top(r, ref)),
            ("point", lambda: ctx.read_view("agg").filter(
                f"k = '{key[0]}' AND region = '{key[1]}'"),
             lambda r: checks.check_point(r, ref, key)),
            ("sw", lambda: ctx.read_view("window"),
             lambda r: checks.check_window(r, ref)),
            ("rollup", lambda: ctx.combine_read("agg", group_by=["region"]),
             lambda r: checks.check_rollup(r, ref)),
        )
        for shape, plan, check in reads:
            self.read(shape, plan, check, timed)

    def verify(self) -> None:
        pass  # every timed read above was checked


class DedupIngest(Workload):
    """The curation layer, with the engine idle: each step probes a doc
    batch against an LSH index, drops the near-duplicates it finds,
    scores the survivors with quality_flags and appends the ones that
    pass to the index."""

    warm_steps = 2
    SCHEMA = "doc_id long, text string"
    NEAR_DUP = 0.5           # est_jaccard at or above which a doc is dropped

    def prepare(self) -> None:
        self._base = self.spark.createDataFrame(
            gen.dedup_corpus(self.seed), self.SCHEMA) \
            .localCheckpoint(eager=True)

    def setup(self) -> None:
        from pipelinedb_spark.operators.dedup import lsh_index_persist
        self.index = self.new_dir("idx")
        lsh_index_persist(self._base, self.index)

    def step(self, i: int, timed: bool) -> None:
        from pyspark.sql import functions as F

        from pipelinedb_spark.operators.dedup import (lsh_index_append,
                                                      lsh_index_probe)
        from pipelinedb_spark.operators.quality import quality_flags
        docs, planted = gen.dedup_batch(self.seed, i)

        def ingest():
            df = self.spark.createDataFrame(docs, self.SCHEMA)
            with self.span("dedup.probe"):
                cands = lsh_index_probe(self.spark, self.index, df).collect()
            flagged = {r["new_id"] for r in cands
                       if r["est_jaccard"] >= self.NEAR_DUP}
            keep = df.filter(~F.col("doc_id").isin(list(flagged)))
            with self.span("quality.flags"):
                scored = quality_flags(keep).select(
                    "doc_id", "passes_quality").collect()
            good = [r["doc_id"] for r in scored if r["passes_quality"]]
            with self.span("dedup.append"):
                lsh_index_append(self.spark, self.index,
                                 keep.filter(F.col("doc_id").isin(good)))
            return len(cands), flagged, len(scored)

        if not timed:
            ingest()
            return
        out, dt = self._op("commit", "dedup", ingest)
        self.commit_ms.append(dt * 1000.0)
        if out is None:
            return
        self.rows += len(docs)
        n_cands, flagged, scored = out
        self.layer["candidates"].append(n_cands)
        errs = checks.check_dedup(flagged, planted, len(docs), scored)
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    def verify(self) -> None:
        pass  # every timed step above was checked

    def end_state(self) -> None:
        from pipelinedb_spark.indexstore import open_index
        self.layer["index_dirs"].append(len(open_index(self.index).dirs()))

    def layer_extras(self, durations) -> dict[str, tuple[float, str]]:
        return {
            "dedup.probe_ms": (_med(durations("dedup.probe")), "ms"),
            "quality.flags_ms": (_med(durations("quality.flags")), "ms"),
            "dedup.append_ms": (_med(durations("dedup.append")), "ms"),
            "dedup.candidates_per_batch": (_med(self.layer["candidates"]),
                                           "count"),
            "indexstore.live_dirs": (_med(self.layer["index_dirs"]),
                                     "count"),
        }


WORKLOADS = {"fanout": Fanout, "read_mix": ReadMix,
             "sketch_bulk": SketchBulk, "dedup_ingest": DedupIngest}


def end_to_end(w: Workload) -> dict[str, tuple[float, str]]:
    out = {
        "setup_s": (stats.median(w.setup_s), "s"),
        # median over timed steps of rows / step time: a step that ran
        # through a stall of the host moves it no more than any other
        "rows_per_s": (stats.median(w.step_rates), "1/s"),
        "commit_p50_ms": (stats.median(w.commit_ms), "ms"),
    }
    return out


def report_only(w: Workload, rss_mb: float) -> dict[str, tuple[float, str]]:
    """End-to-end metrics measured and printed but not in BENCHMARK.json:
    they spread too far between runs to bound (README, Metrics not in
    the list)."""
    return {
        # median over read shapes of each shape's median: every shape (or
        # fanout view) weighs the same however many times a run read it
        "read_p50_ms": (stats.median(
            [stats.median(v) for v in w.read_ms.values()]), "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


# process_batch spans reported on every workload: the views of the
# workloads in BENCHMARK.json; the others add their own
LISTED_VIEWS = Fanout.views + ReadMix.views
READ_SHAPES = ("top", "point", "sw", "rollup")


def _med(xs) -> float:
    return stats.median(xs) if xs else 0.0


def per_layer(w: Workload, session_s: float) -> dict[str, tuple[float, str]]:
    """Summarize the traced run's spans and counters, one value per
    layer metric; a metric the workload does not exercise reads 0."""
    spans = [sp for sp in w.rec.spans if sp.end is not None]
    kids = tr.children_of(spans)
    commits = [sp for sp in spans if sp.name == "op.commit"]
    reads = [sp for sp in spans if sp.name == "op.read"]
    ms = lambda sp: (sp.end - sp.start) * 1000.0  # noqa: E731

    inserts = [c for op in commits for c in kids.get(op.id, [])
               if c.name == "engine.insert"]
    per_commit = [tr.descendants(op, kids) for op in commits]
    under_commit = [d for ds in per_commit for d in ds]
    under_read = [d for op in reads for d in tr.descendants(op, kids)]

    def durations(pool, name, label=None):
        return [ms(sp) for sp in pool if sp.name == name
                and (label is None or sp.label == label)]

    out = {
        "spark.session_s": (session_s, "s"),
        "analyzer.analyze_ms": (_med(durations(spans, "analyzer.analyze")),
                                "ms"),
        "engine.jobs_per_commit": (_med(w.layer["jobs.commit"]), "count"),
        "engine.insert_ms": (_med([ms(s) for s in inserts]), "ms"),
        "engine.insert_self_ms": (_med(
            [tr.self_time(s, kids) * 1000.0 for s in inserts]), "ms"),
        "engine.children_cover_ms": (_med(
            [tr.covered([(c.start, c.end) for c in kids.get(s.id, [])],
                        s.start, s.end) * 1000.0 for s in inserts]), "ms"),
        "engine.blocking_child_ms": (_med(
            [max((ms(c) for c in kids.get(s.id, [])), default=0.0)
             for s in inserts]), "ms"),
    }
    for v in dict.fromkeys(LISTED_VIEWS + w.views):
        out[f"engine.process_batch_ms.{v}"] = (_med(durations(
            under_commit, "engine.process_batch", v)), "ms")
    for name in ("read_view", "combine_read", "sql"):
        out[f"engine.{name}_ms"] = (_med(durations(under_read,
                                                   f"engine.{name}")), "ms")
    out.update({
        "matrel.merge_ms": (_med(durations(under_commit, "matrel.merge")),
                            "ms"),
        "matrel.read_ms": (_med(durations(under_read, "matrel.read")), "ms"),
        "matrel.bytes_written_per_commit": (_med(w.layer["bytes_written"]),
                                            "bytes"),
        "matrel.live_version_dirs": (_med(w.layer["live_version_dirs"]),
                                     "count"),
        "matrel.stale_bytes": (_med(w.layer["stale_bytes"]), "bytes"),
        "manifestio.reads_per_commit": (_med(
            [sum(d.name == "manifestio.read" for d in ds)
             for ds in per_commit]), "count"),
        "manifestio.writes_per_commit": (_med(
            [sum(d.name == "manifestio.write" for d in ds)
             for ds in per_commit]), "count"),
        "manifestio.write_ms": (_med(durations(under_commit,
                                               "manifestio.write")), "ms"),
    })
    for shape in READ_SHAPES:
        out[f"read.{shape}_ms"] = (_med(w.read_ms.get(shape, [])), "ms")
    out.update({
        "read.jobs_per_read": (_med(w.layer["jobs.read"]), "count"),
        "read.files_scanned": (_med(w.layer["files_scanned"]), "count"),
    })
    out.update(w.layer_extras(lambda name: durations(under_commit, name)))
    return out
