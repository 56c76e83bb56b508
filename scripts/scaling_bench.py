#!/usr/bin/env python
"""Two-cluster-size scaling evidence (BASELINE.json north_rule).

No real multi-executor cluster exists in this sandbox, so — per the driver
instruction — the N vs 4N executor comparison is evidenced by running the
SAME crawl job on the SAME input at two parallelism levels in fresh JVMs,
each launched through ``spark-submit --py-files`` exactly as the north rule
prescribes for the cluster launch.

Default levels are local[1] vs local[4] ("N and 4N cores" per the driver
instruction), measured on STEADY-STATE rounds (round 0 = JVM JIT + Python
worker spawn + cache warm, excluded identically at both sizes).  Why this
pair: the host exposes 32 logical CPUs on 16 physical cores (SMT2), and the
measured hardware ceiling of the payload workload itself (pure
multiprocessing over the same parquet shards, no Spark) is ~0.97 parallel
efficiency in the 1-8-worker regime, 0.80 at 4->16 and ~0.3 beyond —
shared L3, all-core clocks and SMT siblings, not engine overhead.  Cluster
executors each bring their own cores/caches/DRAM, so the un-contended pair
is the faithful single-box analog of adding executors; the contended pairs
(2 vs 8, 4 vs 16) are reported in BASELINE.md as the single-box saturation
curve.

    python scripts/scaling_bench.py [--pages N] [--n 1] [--xn 4] ...

Writes BENCH_SCALING.json at the repo root and prints one JSON line:
throughput at both sizes + scaling efficiency
``eff = thr_4N / (4 * thr_N)`` (target ≥ 0.8).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(REPO, ".bench_cache")


def build_pyfiles_zip() -> str:
    """Package crawler_spark into a --py-files zip (the cluster ship unit)."""
    os.makedirs(CACHE, exist_ok=True)
    zpath = os.path.join(CACHE, "crawler_spark.zip")
    pkg = os.path.join(REPO, "crawler_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def source_sig(args) -> str:
    """Hash of the engine source + leg-shaping params.

    An accepted leg is only reusable against the exact same engine and
    fixture shape: a one-nibble emulator change alters the crawl's selected
    counts, so legs measured across source edits must never be paired (the
    identical-results invariant would silently fail — or worse, pass with a
    bogus ratio)."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(REPO, "crawler_spark")
    for root, _dirs, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                h.update(os.path.relpath(full, REPO).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    with open(os.path.join(REPO, "scripts", "crawl_job.py"), "rb") as f:
        h.update(f.read())
    h.update(
        repr(
            (args.pages, args.hosts, args.seeds, args.px, args.fmts, args.max_links,
             args.shards, args.rounds, args.round_seconds, args.burst, args.pin)
        ).encode()
    )
    return h.hexdigest()


def run_level(cpus: int, fixtures: str, args, zpath: str, during: list | None = None) -> dict:
    ckpt = os.path.join(CACHE, f"scale_ckpt_{cpus}")
    if os.path.isdir(ckpt):
        shutil.rmtree(ckpt)
    json_out = os.path.join(CACHE, f"scale_{cpus}.json")
    # --pin: hard CPU affinity (taskset) bounds the WHOLE process tree — JVM
    # service threads, GC, commit threads, Python workers — to exactly `cpus`
    # vCPUs, the way a cluster executor's cgroup cpuset does.  Without it,
    # local[N]'s task slots are N but everything else rides the host's idle
    # cores, inflating small-N throughput and under-reading N→4N efficiency
    # (measured: 2→8 = 0.589 unpinned vs 0.729 pinned, same window).
    pin = ["taskset", "-c", f"0-{cpus - 1}"] if args.pin else []
    cmd = pin + [
        "spark-submit",
        "--master", f"local[{cpus}]",
        "--driver-memory", "24g",
        "--py-files", zpath,
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.shuffle.partitions={2 * cpus}",
        "--conf", "spark.sql.adaptive.enabled=false",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.sql.files.maxPartitionBytes=33554432",
        "--conf", "spark.sql.parquet.columnarReaderBatchSize=256",
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=1024",
        os.path.join(REPO, "scripts", "crawl_job.py"),
        "--fixtures", fixtures,
        "--ckpt", ckpt,
        "--rounds", str(args.rounds),
        "--round-seconds", str(args.round_seconds),
        "--burst", str(args.burst),
        "--ingest-payloads",
        "--json-out", json_out,
    ]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    # mid-leg interference monitor: endpoint probes alone missed a co-tenant
    # that stayed loud through a 16-minute leg and relented before the post
    # probe, recording a uniformly-depressed leg as "quiet" (measured: a
    # local[1] leg at 704 urls/s with quiet brackets vs 900+ in controlled
    # A/B windows — which produced an impossible 1.17 scaling ratio).  The
    # probe costs ~1 s every 45 s and needs only 4 of the host's 16 physical
    # cores, so it does not perturb a 1-4-core leg.
    monitor = None
    if during is not None:
        import threading

        stop = threading.Event()

        def _mon():
            while not stop.wait(45.0):
                during.append(cpu_probe()["par_eff4"])

        monitor = (stop, threading.Thread(target=_mon, daemon=True))
        monitor[1].start()
    try:
        subprocess.run(cmd, check=True, cwd=REPO, env=env,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    finally:
        if monitor is not None:
            monitor[0].set()
            monitor[1].join(timeout=5)
    with open(json_out) as f:
        return json.loads(f.read())


# host-interference probe + quiet-window gate: shared with bench.py (which
# brackets every driver bench with the same probe) — see the module docstring
sys.path.insert(0, REPO)
from crawler_spark.calibration import cpu_probe, wait_quiet  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=655360)
    ap.add_argument("--hosts", type=int, default=1024)
    ap.add_argument("--seeds", type=int, default=327680)
    ap.add_argument("--px", type=int, nargs="+", default=[64])
    ap.add_argument("--fmts", nargs="+", default=["png"])
    ap.add_argument("--max-links", type=int, default=8)
    ap.add_argument("--shards", type=int, default=128)
    ap.add_argument("--n", type=int, default=1)
    ap.add_argument("--xn", type=int, default=4)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--round-seconds", type=float, default=2048.0)
    ap.add_argument("--burst", type=int, default=1 << 20)
    ap.add_argument("--wait-quiet", action="store_true",
                    help="gate each leg on a quiet-host probe and retry loud legs")
    ap.add_argument("--quiet-eff", type=float, default=0.88,
                    help="min 4-process probe efficiency counted as quiet")
    ap.add_argument("--quiet-bw-eff", type=float, default=0.0,
                    help="min 4-process BANDWIDTH probe efficiency for the "
                         "pre-leg wait (0 = off; calibrate the quiet-host "
                         "baseline first — see calibration._bw_work). Only "
                         "gates between legs: mid-leg the engine itself "
                         "consumes DRAM, so bw_eff4 would self-trigger.")
    ap.add_argument("--max-wait-s", type=float, default=1800.0)
    ap.add_argument("--max-leg-tries", type=int, default=6)
    ap.add_argument("--out", default=None,
                    help="write the result JSON here instead of the repo's "
                         "BENCH_SCALING.json — for secondary pairs (e.g. the "
                         "2→8 saturation curve) that must never clobber the "
                         "accepted headline pair")
    ap.add_argument("--pin", action="store_true",
                    help="taskset each leg to exactly its core count "
                         "(cgroup-cpuset executor emulation; see run_level)")
    ap.add_argument("--reuse-legs", action="store_true",
                    help="reuse a previously ACCEPTED (probe-quiet) leg for "
                         "the same engine-source+params hash instead of "
                         "re-measuring it — quiet windows are scarce on this "
                         "host, so don't re-burn one on a leg that already "
                         "passed the gate")
    args = ap.parse_args()

    from crawler_spark.fixtures import ensure_cached

    fixtures = ensure_cached(
        CACHE, args.pages, args.hosts,
        n_seeds=args.seeds, img_px=args.px, image_shards=args.shards,
        max_links=args.max_links, fmts=args.fmts,
    )
    zpath = build_pyfiles_zip()
    sig = source_sig(args)

    def measured_leg(cpus: int) -> tuple[dict, dict, dict]:
        """Run one leg bracketed AND monitored by probes; retry while loud.

        Quiet = endpoints ≥ quiet_eff, median of the mid-leg samples ≥
        quiet_eff, and mean ≥ quiet_eff − 0.02.  The mean integrates the
        leg's actual capacity loss: a sustained co-tenant (the failure mode
        that recorded a uniformly-depressed 704 urls/s leg as quiet) drags
        it far below the gate, while one or two 45 s scheduler blips out of
        ~15 samples — a few percent of leg wall — do not burn the leg."""
        import statistics

        leg_cache = os.path.join(CACHE, f"scale_leg_{cpus}.accepted.json")
        if args.reuse_legs and os.path.exists(leg_cache):
            with open(leg_cache) as f:
                cached = json.load(f)
            if cached.get("sig") == sig:
                print(f"leg local[{cpus}]: reusing accepted leg from {leg_cache}",
                      flush=True)
                return cached["res"], cached["pre"], cached["post"]
            print(f"leg local[{cpus}]: cached leg is for a different "
                  "engine/params hash, re-measuring", flush=True)
        for attempt in range(args.max_leg_tries):
            pre = (
                wait_quiet(args.quiet_eff, args.max_wait_s, min_bw_eff=args.quiet_bw_eff)
                if args.wait_quiet
                else cpu_probe()
            )
            during: list = []
            res = run_level(cpus, fixtures, args, zpath, during)
            post = cpu_probe()
            pre["during"] = during
            quiet = leg_quiet(pre, post)
            if quiet and args.wait_quiet:
                with open(leg_cache, "w") as f:
                    json.dump({"sig": sig, "res": res, "pre": pre, "post": post}, f)
            if quiet or not args.wait_quiet or attempt == args.max_leg_tries - 1:
                return res, pre, post
            print(
                f"leg local[{cpus}] bracketed/monitored by busy host "
                f"(pre={pre['par_eff4']}/{pre.get('bw_eff4')} "
                f"post={post['par_eff4']}/{post.get('bw_eff4')} "
                f"during={during}), retrying",
                flush=True,
            )
        raise AssertionError("unreachable")

    def leg_quiet(pre: dict, post: dict) -> bool:
        import statistics

        during = pre.get("during") or []
        # endpoint probes also gate on DRAM-bandwidth fairness (bw_eff4):
        # an ALU-fair bandwidth thief passes the SHA gate while slowing the
        # multi-core leg (the recorded 0.525 artifact).  Mid-leg samples stay
        # SHA-only — the engine itself consumes DRAM, so a bandwidth probe
        # through the leg would self-trigger.
        bw_ok = min(
            pre.get("bw_eff4", 1.0), post.get("bw_eff4", 1.0)
        ) >= args.quiet_bw_eff
        return (
            bw_ok
            and min(pre["par_eff4"], post["par_eff4"]) >= args.quiet_eff
            and (
                not during
                or (
                    statistics.median(during) >= args.quiet_eff
                    and statistics.mean(during) >= args.quiet_eff - 0.02
                )
            )
        )

    lo, lo_pre, lo_post = measured_leg(args.n)
    hi, hi_pre, hi_post = measured_leg(args.xn)
    probes = [lo_pre, lo_post, hi_pre, hi_post]
    ratio = args.xn / args.n
    # efficiency on STEADY-STATE rounds (first round = JVM JIT + Python
    # worker spawn + cache warm, excluded at both sizes identically); the
    # all-in numbers are reported alongside
    lo_r = lo.get("steady_urls_per_sec") or lo["value"]
    hi_r = hi.get("steady_urls_per_sec") or hi["value"]
    eff = hi_r / (ratio * lo_r) if lo_r else 0.0
    eff_total = hi["value"] / (ratio * lo["value"]) if lo["value"] else 0.0

    # identical-input sanity: same frontier work at both sizes
    invariant_ok = (
        lo["selected"] == hi["selected"]
        and lo["url_seen"] == hi["url_seen"]
        and lo["fetched"] == hi["fetched"]
        and bool(lo["payload_ok"]) and bool(hi["payload_ok"])
    )

    out = {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "target": 0.8,
        "n_cores": args.n,
        "xn_cores": args.xn,
        "throughput_n": lo_r,
        "throughput_xn": hi_r,
        "efficiency_with_warmup": round(eff_total, 3),
        "throughput_n_with_warmup": lo["value"],
        "throughput_xn_with_warmup": hi["value"],
        "rounds_detail_n": lo.get("rounds_detail"),
        "rounds_detail_xn": hi.get("rounds_detail"),
        "wall_n_s": lo["wall_s"],
        "wall_xn_s": hi["wall_s"],
        "selected": lo["selected"],
        "url_seen": lo["url_seen"],
        "payload_checked": lo["payload_checked"],
        "identical_results": invariant_ok,
        "pages": args.pages,
        "hosts": args.hosts,
        "seeds": args.seeds,
        "img_px": args.px,
        "fmts": args.fmts,
        "rounds": args.rounds,
        "launcher": "spark-submit --py-files crawler_spark.zip",
        "pinned": bool(args.pin),
        # host-interference control (see cpu_probe): each leg bracketed by a
        # single- and 4-process SHA probe; par_eff4 well under ~0.9 means a
        # co-tenant on the physical host was stealing cores during that leg
        # and the ratio above is not trustworthy
        "calib_probes": {
            "n_pre": lo_pre, "n_post": lo_post,
            "xn_pre": hi_pre, "xn_post": hi_post,
        },
        "calib_min_par_eff4": min(p["par_eff4"] for p in probes),
    }
    # A leg that exhausted its retries in a loud window still reports, but it
    # must NOT clobber an existing accepted result: co-tenant interference
    # (see crawler_spark.calibration) makes the ratio meaningless, and this
    # exact overwrite destroyed a valid 0.829 measurement once.  Loud runs
    # land in a candidate file beside the cache instead.
    quiet_run = leg_quiet(lo_pre, lo_post) and leg_quiet(hi_pre, hi_post)
    target = args.out or os.path.join(REPO, "BENCH_SCALING.json")
    if not quiet_run and os.path.exists(target):
        target = os.path.join(CACHE, "BENCH_SCALING.candidate.json")
        print(f"loud run (min par_eff4 {out['calib_min_par_eff4']}) — "
              f"keeping existing BENCH_SCALING.json, writing {target}", flush=True)
    with open(target, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
