#!/usr/bin/env python
"""Pin × LIVE-RUNTIME interaction soak (round-11 verdict task 4):
engine-level pin tests are thorough (test_view_pins.py), but a pin
taken WHILE a streaming attachment, SW ticker, compactions, and the
reaper are all running is the one untested seam — the same gap shape
the round-10 ticker soak closed for tick_sw itself.

Chain under test: rate source → stream → {SW CV (60 s window) with
`tick_sw` firing every ~2 s, plain rollup CV} while a maintenance leg
every ~15 ticks runs `compact()` + `reap_ttl` under the commit lock.
After a warm-up, `pin_view` snapshots BOTH CVs mid-flight.

Verification:

* **Byte stability across ≥50 subsequent ticks**: the pinned reads
  (collected, canonically sorted) are re-read at every maintenance
  leg and must equal the capture taken at pin time, bit for bit,
  while live ingest keeps merging, the SW window slides fully past
  the pinned rows, step buckets expire, and compaction rewrites the
  live dirs out from under the pin's version set.
* **Across a FULL ENGINE RESTART**: mid-run the attachment stops,
  the PipelineContext closes, a fresh context opens over the same
  root, and both pins must read identically before ingest resumes.
* **Unpin releases GC**: at the end, dirs referenced only by the
  pins must survive every sweep while pinned and be reclaimed after
  `unpin_view` + sweep.
* Flat driver RSS across the run.

Usage: python scripts/soak_pin_runtime.py [--seconds 300] [--rps 300]
                                          [--manifest rename|condput]
Appends/refreshes "pin_runtime_soak" (rename mode) or
"pin_runtime_soak_condput" in BENCH_SCALING.json.

``--manifest condput`` (round-12 verdict task 3) runs the SAME live
soak with every matrel manifest riding the object-store condput
commit path through REAL botocore against the in-process S3-subset
HTTP fake (tests/s3http_fake.py) — the last uncombined seam: the r12
pin_runtime_soak proved pins under a live runtime on posix-rename
manifests, and the r12 S3 e2e proved pins on bucket manifests but not
under a live ticker/reaper.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from probeutil import rss_kb as _rss_kb


def _rows(df) -> list[tuple]:
    # repr-canonical: any byte-level drift (a float reassembled
    # differently, an int widened) breaks equality
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rps", type=int, default=300)
    ap.add_argument("--seconds", type=float, default=300.0)
    ap.add_argument("--tick-every", type=float, default=2.0)
    ap.add_argument("--window", type=int, default=60)
    ap.add_argument("--maint-every-ticks", type=int, default=15)
    ap.add_argument("--manifest", default="rename",
                    choices=("rename", "condput"))
    ap.add_argument("--workdir", default="/tmp/soak_pin_runtime")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_SCALING.json"))
    args = ap.parse_args()

    from pipelinedb_spark import PipelineContext, get_spark
    from pipelinedb_spark.streaming.runtime import attach_rate_stream

    fake = None
    if args.manifest == "condput":
        # the deployment flip under test: condput module default +
        # object-store client factory, manifests riding real botocore
        # against the in-process S3-subset fake (same wiring as
        # tests/test_s3_boto3_e2e.py::test_engine_cv_lifecycle...)
        sys.path.insert(0, os.path.join(os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))), "tests"))
        import pipelinedb_spark.manifestio as mio
        from s3http_fake import S3HttpFake
        os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
        os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
        os.environ.setdefault("AWS_DEFAULT_REGION", "us-east-1")
        os.environ.setdefault("AWS_EC2_METADATA_DISABLED", "true")
        fake = S3HttpFake()
        list_calls = [0, 0]   # [total logical list() calls, from gc]
        fake.__enter__()
        mio.DEFAULT_MANIFEST_FORMAT = "condput"
        mio.CLIENT_FACTORY = lambda d: mio.S3ObjectClient(
            "bkt", os.path.abspath(d),
            endpoint_url=fake.endpoint_url, region_name="us-east-1")
        # logical list() accounting (HTTP LISTs paginate ~5x): total
        # calls and how many were the per-write gc sweep
        _orig_list = mio.S3ObjectClient.list

        def _counted_list(self):
            list_calls[0] += 1
            f = sys._getframe(1)
            for _ in range(4):
                if f is None:
                    break
                if f.f_code.co_name == "gc":
                    list_calls[1] += 1
                    break
                f = f.f_back
            return _orig_list(self)

        mio.S3ObjectClient.list = _counted_list

    shutil.rmtree(args.workdir, ignore_errors=True)
    spark = get_spark("soak_pin_runtime")
    spark.sparkContext.setLogLevel("ERROR")
    root = os.path.join(args.workdir, "pdb")

    def open_ctx() -> PipelineContext:
        return PipelineContext(spark, root=root, num_buckets=8,
                               track_output_streams=True)

    ctx = open_ctx()
    ctx.create_stream("swr", "v long")
    ctx.create_view(
        "cv_swt",
        f"SELECT v % 8 AS b, count(*) AS n, sum(v) AS sv FROM swr "
        f"WHERE arrival_timestamp > clock_timestamp() "
        f"- interval '{args.window} seconds' GROUP BY v % 8")
    ctx.create_view(
        "cv_tot",
        "SELECT v % 8 AS b, count(*) AS n, sum(v) AS sv "
        "FROM swr GROUP BY v % 8")

    def attach():
        return attach_rate_stream(
            ctx, "swr", rows_per_second=args.rps,
            value_exprs={"v": "value",
                         "arrival_timestamp": "timestamp"})

    def maintenance():
        for name in ("cv_swt", "cv_tot"):
            cv = ctx.views[name]
            with cv.commit_lock:
                cv.matrel.compact()
            ctx.reap_ttl(name)

    rss = [("start", _rss_kb())]
    att = attach()
    t0 = time.monotonic()
    warm = min(20.0, args.seconds / 5)
    ticks = 0
    next_tick = time.monotonic() + args.tick_every
    while time.monotonic() - t0 < warm:
        if time.monotonic() >= next_tick:
            ctx.tick_sw("cv_swt", now=time.time())
            ticks += 1
            next_tick = time.monotonic() + args.tick_every
        time.sleep(0.1)

    # ---- pins taken mid-flight: attachment live, ticker running
    pin_at = time.monotonic() - t0
    ctx.pin_view("cv_swt", "run-sw")
    ctx.pin_view("cv_tot", "run-tot")
    snap_sw = _rows(ctx.read_view_pinned("cv_swt", "run-sw"))
    snap_tot = _rows(ctx.read_view_pinned("cv_tot", "run-tot"))
    assert snap_sw and snap_tot, "pins captured empty state"

    # dirs held ONLY by the pins (for the release check at the end)
    def pin_only_dirs(name: str, pin: str) -> set[str]:
        mat = ctx.views[name].matrel
        rec = mat.pins()[pin]
        pinned = {os.path.join(mat.dir, p.split(os.sep)[0])
                  for p in rec["buckets"].values()}
        live = {os.path.join(mat.dir, p.split(os.sep)[0])
                for p in mat._read_manifest()["buckets"].values()}
        return pinned - live

    ticks_after_pin = 0
    stability_checks = 0
    restarted = False
    restart_at = args.seconds * 0.6
    while (time.monotonic() - t0 < args.seconds
           or ticks_after_pin < 50):
        now_m = time.monotonic()
        if not restarted and now_m - t0 >= restart_at:
            # full engine restart under the pins: stop ingest, drop
            # the context, replay definitions + state from the
            # catalog (a fresh context over the same root)
            att.stop()
            ctx = open_ctx()
            assert _rows(ctx.read_view_pinned("cv_swt", "run-sw")) \
                == snap_sw, "SW pin drifted across engine restart"
            assert _rows(ctx.read_view_pinned("cv_tot", "run-tot")) \
                == snap_tot, "rollup pin drifted across engine restart"
            rss.append(("restart", _rss_kb()))
            att = attach()
            restarted = True
            continue
        if now_m >= next_tick:
            ctx.tick_sw("cv_swt", now=time.time())
            ticks += 1
            ticks_after_pin += 1
            next_tick = now_m + args.tick_every
            if ticks_after_pin % args.maint_every_ticks == 0:
                maintenance()
                assert _rows(ctx.read_view_pinned("cv_swt", "run-sw")) \
                    == snap_sw, (f"SW pin drifted at tick "
                                 f"{ticks_after_pin}")
                assert _rows(ctx.read_view_pinned("cv_tot", "run-tot")) \
                    == snap_tot, (f"rollup pin drifted at tick "
                                  f"{ticks_after_pin}")
                stability_checks += 1
        time.sleep(0.1)
    att.stop()
    wall = time.monotonic() - t0
    rss.append(("end", _rss_kb()))

    # final stability read after ingest stopped
    assert _rows(ctx.read_view_pinned("cv_swt", "run-sw")) == snap_sw
    assert _rows(ctx.read_view_pinned("cv_tot", "run-tot")) == snap_tot
    # the live SW view has slid fully past the pin (window < elapsed),
    # so live and pinned MUST differ — proves the pin is not just
    # reading the live state
    live_sw = _rows(ctx.read_view("cv_swt"))
    assert live_sw != snap_sw, "pin indistinguishable from live read"

    # ---- unpin releases gc
    release = {}
    for name, pin in (("cv_swt", "run-sw"), ("cv_tot", "run-tot")):
        mat = ctx.views[name].matrel
        held = pin_only_dirs(name, pin)
        mat.gc_grace_seconds = 0.0
        with ctx.views[name].commit_lock:
            mat.compact()
        mat.gc_sweep()
        still = [d for d in held if os.path.isdir(d)]
        assert len(still) == len(held), \
            f"{name}: pinned-only dirs reclaimed while pinned"
        ctx.unpin_view(name, pin)
        mat.gc_sweep()
        gone = [d for d in held if not os.path.isdir(d)]
        assert len(gone) == len(held), \
            f"{name}: {len(held) - len(gone)} dirs survive unpin+sweep"
        release[name] = {"pin_only_dirs": len(held),
                         "reclaimed_after_unpin": len(gone)}

    rss_mb = {k: v // 1024 for k, v in rss}
    entry = {
        "what": "pin_view taken while rate ingest + SW ticker run; "
                "byte-stable across ticks/compaction/reap and a full "
                "engine restart; unpin releases GC"
                + (" — matrel manifests on the object-store condput "
                   "path through real botocore (in-process S3 fake)"
                   if args.manifest == "condput" else ""),
        "manifest_format": args.manifest,
        "rows_per_second_target": args.rps,
        "wall_sec": round(wall, 1),
        "ticks_total": ticks,
        "ticks_after_pin": ticks_after_pin,
        "pin_taken_at_sec": round(pin_at, 1),
        "stability_checks": stability_checks,
        "engine_restart": restarted,
        "sw_pin_groups": len(snap_sw),
        "release": release,
        "driver_rss_mb": rss_mb,
        "rss_growth_mb": rss_mb.get("end", 0) - rss_mb.get("start", 0),
    }
    if fake is not None:
        # every manifest byte must actually have crossed the wire.
        # Accounting (r14): the fake paginates LISTs at page_size=2,
        # so raw HTTP LIST requests overcount logical client.list()
        # calls ~5x for a KEEP-sized store — record both, plus the
        # gc/other split the HEAD-hint work targets (verdict task 6:
        # "soak LIST count ≈ gc sweeps only").
        commits = sum(1 for (m, k) in fake.request_log
                      if m == "PUT" and "_manifests" in k
                      and not k.endswith("HEAD.json"))
        head_puts = sum(1 for (m, k) in fake.request_log
                        if m == "PUT" and k.endswith("HEAD.json"))
        lists = sum(1 for (m, _k) in fake.request_log if m == "LIST")
        entry["s3_manifest_puts"] = commits
        entry["s3_head_hint_puts"] = head_puts
        entry["s3_list_http_requests"] = lists
        entry["s3_list_calls"] = list_calls[0]
        entry["s3_list_calls_from_gc"] = list_calls[1]
        # the hint's whole point: non-gc list calls are one-time
        # store opens, not per-read traffic
        entry["s3_list_calls_other"] = list_calls[0] - list_calls[1]
        assert commits > 0 and lists > 0, \
            "condput soak never hit the bucket"
    data = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            data = json.load(f)
    key = ("pin_runtime_soak_condput" if args.manifest == "condput"
           else "pin_runtime_soak")
    data[key] = entry
    with open(args.out, "w") as f:
        json.dump(data, f, indent=2)
    print(json.dumps(entry))
    ctx.close()
    if fake is not None:
        fake.__exit__(None, None, None)


if __name__ == "__main__":
    main()
