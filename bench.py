#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
the machine-readable headline as the LAST stdout line:
{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} — compact enough for the driver's
bounded tail capture.  A preceding detail line carries the per-query
median/spread dispersion stats (round-9 protocol).

Each query is forced end-to-end with the noop sink (full computation,
no driver collect overhead distorting the measurement).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "stream_table_join_enrich",
    "grouping_sets_rollup",
    "ndv_exact_and_hll",
    "stats_moments",
    "regr_family",
    "topk_per_group",
    "quantile_family",
    "date_round_buckets",
    "sliding_window_agg",
    "sw_step_overlay_combine",
    "doc_fingerprints",
    "text_profile",
    "ngram_jaccard_neardup",
    "minhash_lsh_candidates",
    "ann_cosine_topk",
    "events_agg_families",
    "cv_engine_rollup",
]


# scaling-evidence subset: the queries whose plans carry the
# at-100TB claims (corpus self-joins, engine commits, wide aggs)
SCALE_SUBSET = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "ndv_exact_and_hll",
    "regr_family",
    "quantile_family",
    "text_profile",
    "doc_fingerprints",
    "minhash_lsh_candidates",
    "ann_cosine_topk",
    "events_agg_families",
    "cv_engine_rollup",
]


def _spin_calibrate(seconds: float = 0.3, reps: int = 5) -> float:
    """Single-thread spin-loop calibration (loops/sec).  Compared with
    the stored idle-box constant in BENCH_SPIN.json to flag artifacts
    measured under ambient load — the round-5 artifact showed +8.5%
    that an idle re-run fully erased, so a contended run must be
    visible in the emitted JSON.  Best of ``reps`` short windows:
    one long window averages across cpufreq/turbo ramp-up, which made
    an IDLE box read 0.70-0.78 with ±8% run-to-run wobble — peak
    capability is the stable quantity (bw already measures best-of-3
    for the same reason)."""
    best = 0.0
    for _ in range(reps):
        end = time.perf_counter() + seconds
        n = 0
        x = 0
        while time.perf_counter() < end:
            for _ in range(100_000):
                x += 1
            n += 1
        best = max(best, n / seconds)
    return best


def _bw_calibrate() -> float:
    """Memory-bandwidth calibration (GB/s over a 128 MB copy, best of
    3).  Shuffle/scan-heavy queries are bandwidth-bound, and a noisy
    co-tenant can halve effective bandwidth while a single-core spin
    loop (pure register arithmetic) measures clean — both sentinels
    are needed to trust an artifact."""
    import numpy as np
    src = np.ones(16 * 1024 * 1024, dtype=np.float64)  # 128 MB
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return (src.nbytes * 2 / best) / 1e9  # read + write


def _steal_pct(interval: float = 0.2) -> float:
    """CPU steal time over a short window (%): the direct signal for
    hypervisor-level CPU theft, which a co-tenant VM exerts WITHOUT
    showing up in this guest's loadavg.  0 on bare metal."""
    def snap():
        try:
            with open("/proc/stat") as f:
                vals = [int(x) for x in f.readline().split()[1:]]
        except (OSError, ValueError):
            return 0, 1
        return (vals[7] if len(vals) > 7 else 0), max(1, sum(vals))

    s0, t0 = snap()
    time.sleep(interval)
    s1, t1 = snap()
    return 100.0 * (s1 - s0) / max(1, t1 - t0)


def _throttle_probe() -> dict:
    """CPU-throttling observability (ADVICE round 11): the
    steady-slow-host gate trusts any box with stable ratios above its
    floors, but steady cgroup CPU-quota throttling or thermal capping
    presents exactly that signature.  Record the raw counters a
    reader needs to tell a slower host GENERATION (zero throttling,
    full clocks) from a sustained-throttled box:

    * cgroup cpu.stat ``nr_throttled`` / throttled time (v2 at
      /sys/fs/cgroup/cpu.stat, v1 at /sys/fs/cgroup/cpu/cpu.stat) —
      ADVANCING between probes means quota throttling is active now;
    * the configured quota (v2 cpu.max / v1 cfs_quota_us) — a finite
      quota under ncpus explains a stable sub-1.0 spin ratio;
    * cpufreq cur/max (cpu0) — sustained thermal/power capping shows
      as cur pinned far below max.

    All fields best-effort: containers hide some or all of these, and
    a missing counter is recorded as absent rather than zero so the
    reader can tell "not throttled" from "not observable"."""
    out: dict = {}
    for path, keys in (
            ("/sys/fs/cgroup/cpu.stat",
             {"nr_throttled": "nr_throttled",
              "throttled_usec": "throttled_usec"}),
            ("/sys/fs/cgroup/cpu/cpu.stat",
             {"nr_throttled": "nr_throttled",
              "throttled_time": "throttled_ns"})):
        try:
            with open(path) as f:
                stat = dict(line.split()[:2] for line in f
                            if line.strip())
        except OSError:
            continue
        for src, dst in keys.items():
            if src in stat:
                out[dst] = int(stat[src])
        break
    try:  # cgroup v2 quota: "max 100000" or "50000 100000"
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota, period = f.read().split()
        if quota != "max":
            out["cpu_quota_cores"] = round(int(quota) / int(period), 2)
    except (OSError, ValueError):
        try:  # v1 quota: -1 = none
            with open("/sys/fs/cgroup/cpu/cpu.cfs_quota_us") as f:
                quota = int(f.read())
            with open("/sys/fs/cgroup/cpu/cpu.cfs_period_us") as f:
                period = int(f.read())
            if quota > 0:
                out["cpu_quota_cores"] = round(quota / period, 2)
        except (OSError, ValueError):
            pass
    try:
        base = "/sys/devices/system/cpu/cpu0/cpufreq"
        with open(f"{base}/scaling_cur_freq") as f:
            cur = int(f.read())
        with open(f"{base}/cpuinfo_max_freq") as f:
            mx = int(f.read())
        out["cpufreq_cur_over_max"] = round(cur / max(1, mx), 3)
    except (OSError, ValueError):
        pass
    return out


def _contention_sentinel() -> dict:
    base_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_SPIN.json")
    spin = _spin_calibrate()
    bw = _bw_calibrate()
    base = {}
    if os.path.exists(base_path):
        with open(base_path) as f:
            base = json.load(f)
    changed = False
    # the spin key is METHOD-VERSIONED: v2 is best-of-5 peak windows,
    # the legacy key was one 1.0s averaged window — comparing a peak
    # measurement against an averaged baseline would systematically
    # inflate spin_ratio and let a genuinely contended box pass the
    # gate.  A missing v2 baseline is captured fresh (assume idle,
    # the same assumption as the original capture).
    if "loops_per_sec_v2" not in base:
        base["loops_per_sec_v2"] = round(spin, 1)
        changed = True
    if "mem_gb_per_sec" not in base:
        base["mem_gb_per_sec"] = round(bw, 2)
        changed = True
    loadavg = os.getloadavg()[0]
    steal = _steal_pct()
    if changed:
        # A baseline captured on a busy box poisons every future
        # gate read (ratios self-certify at 1.0 — the exact r10
        # failure the gate exists to catch): only PERSIST when the
        # observable load signals are clean, and always stamp the
        # artifact so a reader knows this run's ratios are
        # self-referential.  (Pure memory-bandwidth pressure with no
        # runnable threads and no steal is not detectable at capture
        # time — hence the stamp, not just the persist guard.)
        if loadavg <= max(2.0, (os.cpu_count() or 8) / 8.0) \
                and steal <= 1.0:
            base["note"] = ("idle-box calibration; re-capture only "
                            "on an idle machine")
            with open(base_path, "w") as f:
                json.dump(base, f)
    spin_ratio = spin / base["loops_per_sec_v2"]
    bw_ratio = bw / base["mem_gb_per_sec"]
    out = {
        "spin_ratio": round(spin_ratio, 3),
        "bw_ratio": round(bw_ratio, 3),
        "loadavg_1m": round(loadavg, 2),
        "steal_pct": round(steal, 2),
        # spin catches CPU theft; bandwidth catches noisy-neighbor
        # memory pressure that spin can't see; the throttle counters
        # let a reader tell slow-host-generation from sustained
        # quota/thermal throttling (ADVICE round 11)
        "throttle": _throttle_probe(),
        "contended": spin_ratio < 0.9 or bw_ratio < 0.8,
    }
    if changed:
        out["baseline_captured_this_run"] = True
    return out


def _gated_sentinel() -> dict:
    """Sentinel GATES the run (round-10 verdict task 5): the r10
    artifact was taken at loadavg 6.68 and every query moved +3-23%
    with zero code change, costing the round a clean delta read.  If
    the box looks busy — calibration off baseline OR loadavg above
    ncpus/8 — sleep and re-probe up to BENCH_GATE_ATTEMPTS times
    before measuring, then measure anyway and stamp the artifact
    `degraded` so the reader knows the numbers carry ambient error
    bars.  Quiet is required, not proven: spin can read >1.0 on a
    contended box (r10 read 1.127 at loadavg 6.68 — turbo clocks),
    so loadavg rides the gate alongside both calibrations.
    Overrides: $SPARK_GRAFT_BENCH_GATE_ATTEMPTS,
    $SPARK_GRAFT_BENCH_GATE_SLEEP."""
    attempts = int(os.environ.get("SPARK_GRAFT_BENCH_GATE_ATTEMPTS", "6"))
    sleep_s = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_SLEEP", "20"))
    load_cap = max(2.0, (os.cpu_count() or 8) / 8.0)

    def quiet(s: dict) -> bool:
        return (0.95 <= s["spin_ratio"]
                and s["bw_ratio"] >= 0.9
                and s["loadavg_1m"] <= load_cap)

    # Steady-slow-host acceptance (round-11): the stored calibration
    # was captured on a different host generation, so a QUIET box here
    # can read spin 0.7-0.8 forever and every artifact would stamp
    # degraded.  Contention is distinguishable from a slower host:
    # theft shows as loadavg, hypervisor steal time, or probe-to-probe
    # drift, while a slower host reads STABLE ratios with all three
    # clean.  Require 3 consecutive stable probes (spin band ≤5%, bw
    # band ≤5%), loadavg under the cap, and steal ≤1% — then the run
    # is trusted and `host_ratio` rides the artifact so cross-round
    # readers normalize absolute numbers across host generations.
    def steady(hist: list[dict]) -> bool:
        last = hist[-3:]
        if len(last) < 3:
            return False

        def band(key: str) -> float:
            return (max(s[key] for s in last)
                    - min(s[key] for s in last))

        # floors: a co-tenant steadily saturating the memory
        # controller reads STABLE ratios with zero steal and zero
        # guest loadavg — bw collapse (or spin collapse) is
        # contention however stable it looks.  A slower host
        # generation sits well above these (observed 0.75/0.78).
        # advancing cgroup throttle counters are ACTIVE quota
        # throttling, not a slower host generation — reject even if
        # the ratios hold steady (ADVICE round 11).  A missing
        # counter (container hides the cgroup files) contributes
        # nothing either way; the raw counters ride the artifact so
        # the reader can audit the call.
        for key in ("nr_throttled", "throttled_usec", "throttled_ns"):
            seen = [s["throttle"][key] for s in last
                    if key in s.get("throttle", {})]
            if len(seen) >= 2 and seen[-1] > seen[0]:
                return False
        return (all(s["loadavg_1m"] <= load_cap for s in last)
                and max(s["steal_pct"] for s in last) <= 1.0
                and min(s["spin_ratio"] for s in last) >= 0.6
                and min(s["bw_ratio"] for s in last) >= 0.7
                and band("spin_ratio") <= 0.05
                and band("bw_ratio") <= 0.05)

    def one_pass() -> dict:
        history = [_contention_sentinel()]
        while (not quiet(history[-1]) and not steady(history)
               and len(history) < attempts):
            s = history[-1]
            print(f"bench gate: box busy (spin {s['spin_ratio']}, "
                  f"bw {s['bw_ratio']}, load "
                  f"{s['loadavg_1m']} > cap {load_cap:.1f}?) — "
                  f"sleeping {sleep_s:.0f}s "
                  f"(attempt {len(history)}/{attempts})",
                  file=sys.stderr)
            time.sleep(sleep_s)
            history.append(_contention_sentinel())
        sentinel = history[-1]
        sentinel["gate_attempts"] = len(history)
        return _stamp(sentinel, history)

    def _stamp(sentinel: dict, history: list[dict]) -> dict:
        sentinel["load_cap"] = round(load_cap, 1)
        if not quiet(sentinel) and steady(history):
            sentinel["steady_slow_host"] = True
            sentinel["host_ratio"] = round(sum(
                s["spin_ratio"] for s in history[-3:]) / 3, 3)
            # both dimensions: bandwidth-bound queries scale with bw,
            # compute-bound with spin — a reader normalizing absolute
            # numbers across host generations needs both
            sentinel["host_bw_ratio"] = round(sum(
                s["bw_ratio"] for s in history[-3:]) / 3, 3)
        sentinel["degraded"] = not quiet(sentinel) \
            and not sentinel.get("steady_slow_host", False)
        # Host-normalization factor (round-11 verdict task 1): two
        # consecutive degraded-box rounds made cross-round absolute
        # reads blind, so the artifact carries a normalized series
        # alongside the raw one: normalized = raw × host_factor, where
        # host_factor is the CONSERVATIVE (larger, i.e. least-
        # flattering) of the two calibration ratios — a slower box
        # reads ratios < 1 and the max shrinks the times least; a
        # faster box reads > 1 and the max inflates them most.
        # Steady-slow hosts use the 3-probe averaged ratios the gate
        # already certified; quiet boxes sit at ≈1.0 so the normalized
        # series coincides with raw; degraded boxes get the final
        # probe's ratios with a basis stamp saying the factor is an
        # ambient estimate, not a certified host constant.
        if sentinel.get("steady_slow_host"):
            factor = max(sentinel["host_ratio"],
                         sentinel["host_bw_ratio"])
            basis = "steady_slow_host_3probe_avg"
        else:
            factor = max(sentinel["spin_ratio"], sentinel["bw_ratio"])
            basis = ("quiet_final_probe" if quiet(sentinel)
                     else "degraded_ambient_estimate")
        sentinel["host_factor"] = round(factor, 3)
        sentinel["host_factor_basis"] = basis
        return sentinel

    sentinel = one_pass()
    # Deferred-retry window (r14 verdict task 6): r14's gate correctly
    # detected a degraded host but proceeded after exhausting its ~2
    # minutes of probes, costing the round a clean absolute read.
    # Before ACCEPTING a degraded artifact, wait one longer window
    # (default 5 min, $SPARK_GRAFT_BENCH_GATE_RETRY_SLEEP; 0 disables)
    # and run the whole gate once more.  A retry that still reads
    # degraded stamps `degraded_after_retry` — the honest stamp, with
    # the first pass's readings preserved for the artifact reader.
    retry_sleep = float(os.environ.get(
        "SPARK_GRAFT_BENCH_GATE_RETRY_SLEEP", "300"))
    if sentinel["degraded"] and retry_sleep > 0:
        print(f"bench gate: degraded after {sentinel['gate_attempts']} "
              f"probes — one deferred retry in {retry_sleep:.0f}s",
              file=sys.stderr)
        first = {k: sentinel.get(k) for k in
                 ("spin_ratio", "bw_ratio", "loadavg_1m",
                  "steal_pct", "gate_attempts", "host_factor")}
        time.sleep(retry_sleep)
        sentinel = one_pass()
        sentinel["gate_retried"] = True
        sentinel["first_gate"] = first
        if sentinel["degraded"]:
            sentinel["degraded_after_retry"] = True
    return sentinel


def _cal_block(before: float | None, after: float | None, sf: str,
               sentinel: dict, base_path: str | None = None) -> dict:
    """Assemble the workload-calibration artifact block and manage the
    frozen per-sf reference in BENCH_SPIN.json.  ``cal_sec`` is the
    smaller of the before/after best-of-3 (peak capability, the same
    statistic as every other bench number); ``factor`` converts this
    run's times to reference-box equivalents (normalized = raw ×
    ref/cal — a slower box reads cal above ref and its times shrink
    toward what the reference box would have read)."""
    if before is None:
        return {"error": "calibration workload failed; see stderr"}
    cal: dict = {
        "before_sec": before,
        "reps": 5,
        "workload": "frozen r1-q1-x4 replica + fixed 20M-row shuffle+agg "
                    "(bench_cal.py — never edited after round 13)",
    }
    vals = [before]
    if after is not None:
        cal["after_sec"] = after
        vals.append(after)
        lo, hi = min(vals), max(vals)
        cal["drift_pct"] = round((hi - lo) / lo * 100, 1)
        cal["stable"] = cal["drift_pct"] < 10.0
        if not cal["stable"]:
            cal["note"] = ("before/after calibration drifted >=10%: "
                           "ambient conditions moved DURING the sweep; "
                           "this round's absolute times carry at least "
                           "that error bar even after normalization")
    else:
        cal["stable"] = False
        cal["note"] = "post-sweep calibration pass failed"
    cal["cal_sec"] = min(vals)
    if base_path is None:
        base_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_SPIN.json")
    key = f"cal_sec_v1_sf{sf}"
    base: dict = {}
    if os.path.exists(base_path):
        try:
            with open(base_path) as f:
                base = json.load(f)
        except (OSError, ValueError):
            base = {}
    if key not in base and cal.get("stable") \
            and not sentinel.get("degraded"):
        # first capture anchors the reference to THIS box; a degraded
        # or drifting run must not become the yardstick.  Stamped so a
        # reader knows this round's factor is self-referential (≈1.0).
        try:
            base[key] = cal["cal_sec"]
            with open(base_path, "w") as f:
                json.dump(base, f)
            cal["ref_captured_this_run"] = True
        except OSError:
            # the anchor never reached disk: do NOT stamp
            # ref_sec/factor against it, or the artifact would claim
            # cal-normalized numbers vs a reference that was never
            # saved and the next round would silently re-anchor
            del base[key]
            cal["ref_persist_failed"] = True
    if key in base:
        cal["ref_sec"] = base[key]
        cal["factor"] = round(base[key] / cal["cal_sec"], 3)
    return cal


def _cal_local_normalized(runs_by: dict, cal_legs: list,
                          cal: dict, errors: dict) -> dict:
    """Per-query cal-LOCAL normalization (round-13 verdict task 3).

    ``cal_legs`` is the calibration time-series: leg i was measured
    immediately before interleaved rep i (leg 0 = the pre-sweep
    bracket, the last leg = the post-sweep bracket, interior legs
    between reps).  Rep i of every query is bracketed by legs i and
    i+1; its nearest ambient reading is the smaller of the two (peak
    capability, the series' statistic throughout).  Each timed run is
    converted to reference-box equivalents by ref_sec/bracket and the
    per-query BEST of the converted runs is reported — so a query
    measured during a slow patch is corrected by the cal reading from
    THAT patch, not by a whole-sweep average.  Attaches the series to
    the cal block; returns {} when there is no frozen reference or no
    usable legs."""
    clean = [v for v in cal_legs if v]
    cal["series"] = [round(v, 3) if v else None for v in cal_legs]
    cal["series_protocol"] = (
        "leg i brackets interleaved rep i; legs 0 and -1 are the "
        "best-of-5 before/after brackets, interior legs best-of-2 of "
        "the same frozen workload")
    if len(clean) >= 2:
        cal["series_drift_pct"] = round(
            (max(clean) - min(clean)) / min(clean) * 100, 1)
    ref = cal.get("ref_sec")
    if not ref or len(clean) < 2:
        return {}

    def bracket(i: int) -> float | None:
        vals = [v for v in cal_legs[i:i + 2] if v]
        return min(vals) if vals else None

    out: dict[str, float] = {}
    for name, rep_runs in runs_by.items():
        if name in errors:
            continue
        best = None
        for rep, dt in rep_runs:
            br = bracket(rep)
            if br is None:
                continue
            adj = dt * ref / br
            if best is None or adj < best:
                best = adj
        if best is not None:
            out[name] = round(best, 3)
    return out


def main() -> None:
    import argparse
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=None,
                    help="scale dir or name (e.g. sf1). Names resolve "
                         "under /root/testdata, else /tmp/sfgen "
                         "(auto-generated 10x replication of sf0.1 via "
                         "scripts/gen_scale.py — bench-only data). "
                         "Runs the SCALE_SUBSET instead of the full "
                         "headline list.")
    args = ap.parse_args()

    queries = HEADLINE
    if args.sf:
        queries = SCALE_SUBSET
        if os.path.isdir(args.sf):
            sf_dir = args.sf
        elif os.path.isdir(f"/root/testdata/{args.sf}"):
            sf_dir = f"/root/testdata/{args.sf}"
        else:
            sf_dir = f"/tmp/sfgen/{args.sf}"
            if not os.path.isdir(sf_dir):
                from scripts.gen_scale import generate
                generate("/root/testdata/sf0.1", 10, sf_dir)
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                                "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    sentinel = _gated_sentinel()  # before Spark spins up

    from pipelinedb_spark import get_spark
    from pipelinedb_spark.querybank import Q

    spark = get_spark("pipelinedb_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen paths so per-query numbers measure the plan,
    # not first-run JIT; warm-up failures must never kill the run
    try:
        Q["q1_pricing_summary"](spark, sf_dir).write.mode("overwrite") \
            .format("noop").save()
        # ... including the engine's checkpoint/parquet-commit paths,
        # which cv_engine_rollup would otherwise pay first-use JIT for
        import tempfile

        from pipelinedb_spark import PipelineContext
        _wctx = PipelineContext(spark,
                                root=tempfile.mkdtemp(prefix="bench_warm_"),
                                num_buckets=4, track_output_streams=False)
        _wctx.create_stream("warm_s", "k string, v double, u long")
        _wctx.create_view("warm_cv", "SELECT k, count(*) AS n, "
                                     "sum(CAST(v AS DECIMAL(38,6))) AS sv, "
                                     "exact_count_distinct(u) AS ndv "
                                     "FROM warm_s GROUP BY k")
        _warm_df = spark.createDataFrame(
            [("w", 1.0, 1), ("w", 2.0, 2)], "k string, v double, u long")
        _wctx.insert("warm_s", _warm_df)  # DataFrame path (Observation)
        _wctx.insert("warm_s", [{"k": "w", "v": 3.0, "u": 3}])
        _wctx.read_view("warm_cv").collect()
        _wctx.close()
        import shutil
        shutil.rmtree(_wctx.root, ignore_errors=True)
    except Exception as exc:
        print(f"warmup failed (continuing): {exc}", file=sys.stderr)

    # ---- workload-level calibration, leg 1 (round-12 verdict task 1)
    # Three rounds of spin/bw microprobes proved they cannot see what
    # slows Spark itself (r12 read 14.3/24.9/37.2 s in three same-box
    # sessions while the probes stamped host_factor 1.004).  The
    # frozen workload in bench_cal.py (r1-q1-x4 replica + fixed 20M-row
    # shuffle+agg; DO NOT EDIT) runs in the SAME session immediately
    # before and after the sweep: the pair brackets the sweep's
    # ambient conditions, their drift bounds within-run wobble, and
    # cross-round readers compare q/cal ratios instead of raw
    # absolutes.
    from bench_cal import cal_best
    cal_before = cal_after = None
    try:
        cal_before = cal_best(spark, sf_dir, reps=5, warm=2)
    except Exception as exc:
        print(f"calibration failed (continuing): {exc}", file=sys.stderr)

    # 5 runs per query (round-9 protocol), INTERLEAVED round-robin
    # (round-12 verdict task 1): rep i of every query runs before rep
    # i+1 of any query, so ambient drift across the sweep hits all
    # queries equally instead of concentrating in whichever query was
    # measured during the bad minutes.  Rep 0 still pays each query's
    # whole-stage-codegen JIT and Arrow/python-worker warmup; reps
    # 1..4 measure the steady-state plan.  Two statistics ride the
    # artifact: the BEST (comparable with every earlier round's
    # best-of artifacts — the headline "value") and the MEDIAN of the
    # steady-state runs plus each query's steady-state spread.  All
    # runs are full end-to-end computations through the noop sink.
    # per-query error isolation: one broken query must not erase the
    # whole artifact — it gets an "error" entry and is skipped in
    # later reps while the loop continues
    RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    runs_by: dict[str, list[tuple[int, float]]] = {
        n: [] for n in queries if Q.get(n) is not None}
    errors: dict[str, str] = {}
    # INTERIOR calibration legs (round-13 verdict task 3): the r13
    # bracket measured 21.4% before/after drift but a two-point
    # bracket cannot localize WHEN the box moved or correct mid-sweep.
    # A short cal leg (best-of-2, ~2 s each) runs between interleaved
    # reps, so every timed run is bracketed by two cal measurements
    # and can be normalized by its NEAREST ambient reading.
    cal_legs: list[float | None] = [cal_before]
    for _rep in range(RUNS):
        for name in runs_by:
            if name in errors:
                continue
            try:
                t0 = time.perf_counter()
                Q[name](spark, sf_dir).write.mode("overwrite") \
                    .format("noop").save()
                runs_by[name].append((_rep, time.perf_counter() - t0))
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        if cal_before is not None and _rep < RUNS - 1:
            try:
                cal_legs.append(cal_best(spark, sf_dir, reps=2))
            except Exception as exc:
                print(f"interior calibration leg failed: {exc}",
                      file=sys.stderr)
                cal_legs.append(None)

    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name, rep_runs in runs_by.items():
        runs = [dt for _, dt in rep_runs]
        if name in errors or not runs:
            continue
        times[name] = round(min(runs), 3)
        steady = sorted(runs[1:]) or runs  # drop the JIT run
        mid = len(steady) // 2
        med = (steady[mid] if len(steady) % 2
               else (steady[mid - 1] + steady[mid]) / 2)
        medians[name] = round(med, 3)
        spreads[name] = round(steady[-1] - steady[0], 3)

    # ---- calibration leg 2 + artifact block
    if cal_before is not None:
        try:
            cal_after = cal_best(spark, sf_dir, reps=5)
        except Exception as exc:
            print(f"post-sweep calibration failed: {exc}",
                  file=sys.stderr)
    cal_legs.append(cal_after)
    cal = _cal_block(cal_before, cal_after, sf, sentinel)
    cal_local = _cal_local_normalized(runs_by, cal_legs, cal, errors)

    total = round(sum(times.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Two stdout lines (round-10 protocol).  The driver's tail capture
    # has a bounded window and parses the LAST JSON line it sees — the
    # round-9 single-line artifact grew past that window and the round
    # recorded "parsed": null.  So: line 1 carries the full per-query
    # detail (best/median/spread, errors) for humans and the repo
    # archive; line 2 — LAST — is a compact headline object (well under
    # any tail window) carrying the machine-readable metric.
    print(json.dumps({
        "detail": "per-query timings",
        "runs_per_query": RUNS,
        "timing": f"best-of-{RUNS} (headline, comparable with earlier "
                  "rounds' best-of-3); queries_median is the median of "
                  "the steady-state runs (run 1 dropped — it pays "
                  "codegen JIT and Arrow worker warmup) and "
                  "queries_spread is each query's steady-state "
                  "max−min, so deltas can be judged against dispersion",
        "queries": times,
        "queries_median": medians,
        "queries_spread": spreads,
        "normalization": "queries_normalized = queries × "
                         "contention.host_factor (the conservative "
                         "= larger of the spin/bw calibration "
                         "ratios; see host_factor_basis) — read "
                         "THIS series for cross-round deltas when "
                         "either round's box was off-baseline",
        "queries_normalized": {k: round(v * sentinel["host_factor"], 3)
                               for k, v in times.items()},
        "cal": cal,
        "cal_normalization": "queries_cal_normalized = queries × "
                             "cal.factor (frozen Spark workload run "
                             "in-session before/after the sweep — "
                             "bench_cal.py); preferred over "
                             "queries_normalized for cross-round "
                             "reads: it is measured by Spark itself, "
                             "not by microprobes",
        **({"queries_cal_normalized":
            {k: round(v * cal["factor"], 3) for k, v in times.items()}}
           if cal.get("factor") else {}),
        "cal_local_normalization": "queries_cal_local_normalized = "
                                   "each timed run × ref/nearest-cal-"
                                   "leg, then best-of — corrects "
                                   "MID-sweep ambient drift the "
                                   "before/after bracket can only "
                                   "flag (cal.series is the leg "
                                   "time-series)",
        **({"queries_cal_local_normalized": cal_local}
           if cal_local else {}),
        **({"errors": errors} if errors else {}),
    }))
    print(json.dumps({
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "value_normalized": round(total * sentinel["host_factor"], 3),
        **({"value_cal_normalized": round(total * cal["factor"], 3)}
           if cal.get("factor") else {}),
        **({"value_cal_local_normalized":
            round(sum(cal_local.values()), 3)}
           if cal_local and set(cal_local) == set(times) else {}),
        "value_median": round(sum(medians.values()), 3),
        "runs_per_query": RUNS,
        "interleaved_runs": True,
        "cal": cal,
        "queries": times,
        **({"n_errors": len(errors)} if errors else {}),
        "contention": sentinel,
        "sf": sf_val,
    }))


if __name__ == "__main__":
    main()
