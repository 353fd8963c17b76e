#!/usr/bin/env python
"""Skewed-key merge evidence (r14 verdict task 4).

Every scaling probe so far used TPC-H-ish near-uniform keys; at
100 TB real corpora have zipfian groups (one domain = 30-50% of
rows).  This probe ingests the SAME row count twice through the
engine — once with 1000 uniform keys, once zipfian-skewed (top key =
40% of rows, the rest uniform over 999 keys) — into

  * a CV with LIST-STATE aggregates (array_agg + set_agg + count/sum:
    the state class whose per-group size grows with rows, so the hot
    group's state is ~400x a uniform group's), and
  * a sliding-window CV (count/sum under a SW predicate: per-
    (key, step) state, hot key concentrated in one step series),

records per-batch commit wall and JVM RSS after each batch, and
appends the seat ``skewed_key_merge_r15`` to BENCH_SCALING.json.
tests/test_skew_seat.py pins the recorded bounds (wall ratio,
RSS flatness) so a future regression that silently breaks skewed
ingest fails the suite.

Why wall parity is the right assertion: count/sum/min/max states are
constant-size so partial aggregation absorbs skew entirely; for LIST
states the data IS the state — any engine must materialize the hot
group's list, and the merge rewrites it per batch.  The mitigation in
this engine is structural: group states live in group-hash BUCKETS
(matrel.bucket_expr xxhash64 pmod), so the hot group occupies ONE
bucket while the other 31 buckets' merges proceed in parallel, and
the per-batch merge is one flatten(collect_list) over (old state,
batch partial) — O(state), never O(state^2).

Usage: python scripts/scale_probe_skew.py [--batches 4]
           [--batch-rows 1000000] [--dry-run]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_KEYS = 1000
HOT_FRAC = 0.4          # zipf head: top key owns 40% of rows
SEAT = "skewed_key_merge_r15"


def _jvm_rss_mb() -> float:
    """Max RSS over child java processes (local-mode executor == the
    driver JVM).  /proc scrape; 0.0 if unreadable."""
    best = 0.0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        best = max(best,
                                   float(line.split()[1]) / 1024.0)
                        break
        except OSError:
            continue
    return round(best, 1)


def _batch(spark, variant: str, b: int, rows: int):
    """Deterministic batch: zipf sends the first HOT_FRAC of ids to
    key 'hot', the rest uniform over N_KEYS-1; uniform spreads all
    ids over N_KEYS keys."""
    from pyspark.sql import functions as F
    base = spark.range(rows)
    if variant == "zipf":
        k = (F.when(F.col("id") < int(rows * HOT_FRAC), F.lit("hot"))
             .otherwise(F.concat(F.lit("k"),
                                 (F.col("id") % (N_KEYS - 1)))))
    else:
        k = F.concat(F.lit("k"), (F.col("id") % N_KEYS))
    return base.select(
        k.alias("k"),
        (F.col("id") + b * rows).cast("double").alias("v"),
        ((F.col("id") + b) % 997).cast("long").alias("vm"),
    ).localCheckpoint(eager=True)


def run_variant(spark, variant: str, n_batches: int,
                batch_rows: int) -> dict:
    from pipelinedb_spark import PipelineContext
    import pyspark.sql.functions as F
    # no root: the context makes one and close() deletes it
    ctx = PipelineContext(spark, num_buckets=32)
    ctx.create_stream("st", "k string, v double, vm long")
    ctx.create_view(
        "cv_list",
        "SELECT k, count(*) AS n, sum(v) AS s, array_agg(v) AS va, "
        "set_agg(vm) AS sm FROM st GROUP BY k")
    ctx.create_view(
        "cv_sw",
        "SELECT k, count(*) AS n, sum(v) AS s FROM st "
        "WHERE arrival_timestamp > clock_timestamp() "
        "- interval '10 minutes' GROUP BY k")
    batches = [_batch(spark, variant, b, batch_rows)
               for b in range(n_batches)]
    per_batch, rss = [], []
    t0 = time.perf_counter()
    for df in batches:
        tb = time.perf_counter()
        ctx.insert("st", df)
        per_batch.append(round(time.perf_counter() - tb, 3))
        rss.append(_jvm_rss_mb())
    wall = time.perf_counter() - t0

    total = n_batches * batch_rows
    # exactness under skew: the hot group's list state must hold
    # every one of its rows, the SW CV must count every row
    agg = (ctx.read_view("cv_list")
           .select("k", "n", F.size("va").alias("va_n"),
                   F.size("sm").alias("sm_n")))
    stats = agg.agg(F.sum("n").alias("rows"),
                    F.sum("va_n").alias("elems"),
                    F.max("sm_n").alias("max_set")).collect()[0]
    hot_ok = True
    if variant == "zipf":
        hot = agg.filter(F.col("k") == "hot").collect()[0]
        hot_ok = (hot["n"] == int(batch_rows * HOT_FRAC) * n_batches
                  and hot["va_n"] == hot["n"])
    sw_rows = (ctx.read_view("cv_sw")
               .agg(F.sum("n")).collect()[0][0])
    ctx.close()
    return {
        "wall_sec": round(wall, 2),
        "per_batch_sec": per_batch,
        "jvm_rss_mb": rss,
        "rows_exact": bool(stats["rows"] == total
                           and stats["elems"] == total
                           and sw_rows == total and hot_ok),
        "max_set_state": int(stats["max_set"]),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--batch-rows", type=int, default=1_000_000)
    ap.add_argument("--dry-run", action="store_true",
                    help="print the seat, do not write BENCH_SCALING")
    args = ap.parse_args()

    from pipelinedb_spark import get_spark
    spark = get_spark("scale_probe_skew")
    spark.sparkContext.setLogLevel("ERROR")

    seat: dict = {
        "what": "zipfian-key ingest vs uniform at equal row count "
                f"({args.batches}x{args.batch_rows} rows; hot key "
                f"{int(HOT_FRAC * 100)}%), through a list-state CV "
                "(array_agg/set_agg/count/sum) and a SW CV",
        "mitigation": "bucketed group-hash merge: hot group bounds "
                      "ONE bucket's task; per-batch list merge is "
                      "O(state) flatten, never O(state^2); set_agg "
                      "state bounded by value NDV (997 here), not "
                      "rows",
    }
    # warm-up: one small untimed run so neither timed variant absorbs
    # JVM/codegen/Arrow startup (the first ingest otherwise reads ~2x)
    run_variant(spark, "uniform", 1, 50_000)
    for variant in ("uniform", "zipf"):
        seat[variant] = run_variant(spark, variant, args.batches,
                                    args.batch_rows)
        print(variant, json.dumps(seat[variant]))
    seat["wall_ratio_zipf_vs_uniform"] = round(
        seat["zipf"]["wall_sec"] / seat["uniform"]["wall_sec"], 2)
    # RSS flatness: last-batch RSS vs first-batch RSS within the run
    z = seat["zipf"]["jvm_rss_mb"]
    seat["zipf_rss_growth"] = (round(z[-1] / z[0], 2)
                               if z and z[0] else None)
    print("wall_ratio", seat["wall_ratio_zipf_vs_uniform"],
          "rss_growth", seat["zipf_rss_growth"])

    if not args.dry_run:
        path = os.path.join(ROOT, "BENCH_SCALING.json")
        all_seats = (json.load(open(path))
                     if os.path.exists(path) else {})
        all_seats[SEAT] = seat
        with open(path, "w") as f:
            json.dump(all_seats, f, indent=1)
        print(f"wrote {SEAT} to BENCH_SCALING.json")


if __name__ == "__main__":
    main()
