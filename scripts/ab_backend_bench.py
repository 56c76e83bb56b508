#!/usr/bin/env python
"""Alternating seen-filter A/B: cuckoo-vs-bloom throughput ratio at one or
more parallelism levels, on the same cached fixture.

Why alternation: this host's co-tenant interference (see
crawler_spark.calibration) denies the long all-quiet windows a full
probe-gated scaling pair needs — two sessions of watchers produced only
contaminated cuckoo pairs.  Alternating the BACKEND leg-by-leg inside the
same window makes the cuckoo/bloom *ratio* robust to any noise that varies
slower than a leg (~2-5 min): both backends sample the same weather, so the
bias divides out of the ratio even when absolute throughput is depressed.
This is the same alternating-A/B methodology BASELINE.md used for the
r2-vs-r3 engine-cost comparison; probes still bracket every leg so the
weather is on the record.

The scaling inference: bloom's probe-quiet N->4N efficiency is the
committed headline (BENCH_SCALING.json).  If the cuckoo premium
(ratio at N vs ratio at 4N) is constant across levels, the deletable
cuckoo path scales exactly like bloom — its efficiency equals the bloom
headline times the ratio-of-ratios, without needing its own 25-minute
quiet window.

Output: one JSON with per-level legs (steady urls/s + probe brackets),
per-alternation cuckoo/bloom ratios, median ratio per level, the
ratio-of-ratios across the two levels, and the identical-results check
(both backends must select the same URLs and converge the same url_seen).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from types import SimpleNamespace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import scaling_bench as sb  # noqa: E402  (run_level / zip / CACHE reuse)
from crawler_spark.calibration import cpu_probe  # noqa: E402
from crawler_spark.fixtures import ensure_cached  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=163840)
    ap.add_argument("--hosts", type=int, default=1024)
    ap.add_argument("--seeds", type=int, default=81920)
    ap.add_argument("--px", type=int, nargs="+", default=[64])
    ap.add_argument("--fmts", nargs="+", default=["png"])
    ap.add_argument("--max-links", type=int, default=8)
    ap.add_argument("--shards", type=int, default=128)
    ap.add_argument("--cpus", type=int, nargs="+", default=[1, 4])
    ap.add_argument("--alternations", type=int, default=2)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--round-seconds", type=float, default=2048.0)
    ap.add_argument("--burst", type=int, default=1 << 20)
    ap.add_argument("--out", default=os.path.join(sb.CACHE, "BENCH_AB_BACKENDS.json"))
    args = ap.parse_args()

    fixtures = ensure_cached(
        sb.CACHE, args.pages, args.hosts,
        n_seeds=args.seeds, img_px=args.px, image_shards=args.shards,
        max_links=args.max_links, fmts=args.fmts,
    )
    zpath = sb.build_pyfiles_zip()

    levels: dict[str, dict] = {}
    for cpus in args.cpus:
        legs = []
        for alt in range(args.alternations):
            for backend in ("bloom", "cuckoo"):
                leg_args = SimpleNamespace(
                    pin=False, seen_filter=backend, rounds=args.rounds,
                    round_seconds=args.round_seconds, burst=args.burst,
                )
                pre = cpu_probe()
                res = sb.run_level(cpus, fixtures, leg_args, zpath)
                post = cpu_probe()
                # explicit None check: a falsy-but-present steady rate (0.0)
                # must not silently fall back to the all-in metric; record
                # which metric the ratio actually uses either way
                steady = res.get("steady_urls_per_sec")
                leg = {
                    "backend": backend, "alt": alt,
                    "steady": steady if steady is not None else res["value"],
                    "steady_metric": "steady" if steady is not None else "all_in",
                    "all_in": res["value"],
                    "selected": res["selected"], "url_seen": res["url_seen"],
                    # order-independent row digests (crawl_job summary): equal
                    # digests prove equal url_seen rows and equal
                    # (round, url, status, attempt) fetch-log rows, counts
                    # and duplicates included
                    "url_seen_digest": res.get("url_seen_digest"),
                    "fetch_log_digest": res.get("fetch_log_digest"),
                    "payload_ok": bool(res["payload_ok"]),
                    "pre": pre, "post": post,
                }
                legs.append(leg)
                print(f"local[{cpus}] alt{alt} {backend}: "
                      f"steady {leg['steady']} urls/s "
                      f"(probes {pre['par_eff4']}/{pre['bw_eff4']} -> "
                      f"{post['par_eff4']}/{post['bw_eff4']})", flush=True)
        ratios = []
        for alt in range(args.alternations):
            b = next(l for l in legs if l["alt"] == alt and l["backend"] == "bloom")
            c = next(l for l in legs if l["alt"] == alt and l["backend"] == "cuckoo")
            ratios.append(round(c["steady"] / b["steady"], 4))
        same = (
            len(
                {
                    (
                        l["selected"],
                        l["url_seen"],
                        l["url_seen_digest"],
                        l["fetch_log_digest"],
                    )
                    for l in legs
                }
            )
            == 1
            and all(l["payload_ok"] for l in legs)
        )
        levels[str(cpus)] = {
            "legs": legs,
            "ratios_cuckoo_over_bloom": ratios,
            "median_ratio": round(statistics.median(ratios), 4),
            "ratio_min": round(min(ratios), 4),
            "ratio_max": round(max(ratios), 4),
            "identical_results": same,
            "identity_check": "counts + payload + url_seen/fetch_log row digests",
        }
        print(f"local[{cpus}]: cuckoo/bloom ratios {ratios} "
              f"(median {levels[str(cpus)]['median_ratio']}), "
              f"identical_results={same}", flush=True)

    out = {
        "metric": "cuckoo_over_bloom_throughput_ratio",
        "levels": levels,
        "pages": args.pages, "hosts": args.hosts, "seeds": args.seeds,
        "rounds": args.rounds, "alternations": args.alternations,
        "launcher": "spark-submit --py-files crawler_spark.zip",
        "methodology": "backend alternated leg-by-leg so slow-varying "
                       "co-tenant noise divides out of the ratio; probes "
                       "bracket every leg",
    }
    if len(args.cpus) == 2:
        lo, hi = (str(c) for c in args.cpus)
        rr = levels[hi]["median_ratio"] / levels[lo]["median_ratio"]
        out["ratio_of_ratios_hi_over_lo"] = round(rr, 4)
        # honest uncertainty: the extreme pairing of per-alternation ratios
        # across the two levels bounds how far the point estimate could move
        out["ratio_of_ratios_range"] = [
            round(levels[hi]["ratio_min"] / levels[lo]["ratio_max"], 4),
            round(levels[hi]["ratio_max"] / levels[lo]["ratio_min"], 4),
        ]
        out["note"] = (
            "cuckoo scaling efficiency = bloom headline efficiency x "
            "ratio_of_ratios (constant premium across levels => identical "
            "scaling)"
        )
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "levels"}), flush=True)


if __name__ == "__main__":
    main()
