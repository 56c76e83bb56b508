#!/usr/bin/env python3
"""The crawl benchmark.  Run from the repository root:

    python3 perfbench/run.py --workload crawl-small-rounds --seed 1 --seconds 30 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
is the separate traced run that prints the per-layer metrics (Spark event
log, Python UDF profiler, layer tags, one round replayed layer by layer) and
the tracing overhead.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Workloads, metrics and the layer table are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

END_TO_END = [
    ("setup_s", "s"), ("crawl_s", "s"),
    ("steady_urls_per_s", "1/s"), ("round_s_p50", "s"), ("cpu_s_per_kurl", "s"),
    ("ckpt_bytes_per_url", "B"),
]
# measured by the timed run and printed beside the metrics, but too noisy
# run to run to carry a regression bound (see README.md)
CONTEXT = [("wds_samples_per_s", "1/s"), ("warc_records_per_s", "1/s"),
           ("resume_s", "s"), ("peak_rss_mb", "MB")]
SNAPSHOT_TABLES = ["frontier", "url_seen", "fetch_log", "story_results", "lineage",
                   "task_trace", "bloom", "dead_letter", "payload_log"]
PER_LAYER = [
    ("engine.jobs_per_round", "count"), ("engine.tasks_per_round", "count"),
    ("engine.driver_gap_s", "s"), ("engine.driver_gap_share", "ratio"),
    ("engine.jobs_per_kurl", "count"),
    ("engine.resume_s", "s"),
    ("politeness.wall_s", "s"), ("politeness.rows_in", "count"),
    ("politeness.rows_out", "count"), ("politeness.shuffle_bytes", "B"),
    ("politeness.task_skew", "ratio"), ("politeness.round_share", "ratio"),
    ("extract.rows", "count"), ("extract.python_s", "s"), ("extract.wall_s", "s"),
    ("extract.round_share", "ratio"),
    ("urlnorm.links", "count"), ("urlnorm.python_s", "s"), ("urlnorm.wall_s", "s"),
    ("expand.candidates", "count"),
    ("dedup.candidates", "count"), ("dedup.admitted", "count"),
    ("dedup.admit_share", "ratio"), ("dedup.bloom_fp_share", "ratio"),
    ("dedup.probe_s", "s"), ("dedup.update_s", "s"), ("dedup.python_s", "s"),
    ("dedup.bloom_bytes", "B"), ("dedup.round_share", "ratio"),
    ("imaging.images", "count"), ("imaging.python_s", "s"), ("imaging.wall_s", "s"),
    ("imaging.round_share", "ratio"),
    *[(f"snapshots.write_s.{t}", "s") for t in SNAPSHOT_TABLES],
    ("snapshots.commit_drain_s", "s"), ("snapshots.reread_s", "s"),
    ("snapshots.bytes_written", "B"), ("snapshots.files_written", "count"),
    ("webdataset.wall_s", "s"), ("webdataset.bytes", "B"),
    ("warc.wall_s", "s"), ("warc.bytes", "B"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
    ("spark.python_udf_s", "s"),
    ("memory.peak_rss_mb", "MB"),
    ("trace.crawl_s", "s"), ("trace.overhead_s", "s"),
]


def _environment() -> None:
    """Keep every file the run writes inside the checkout and make the
    checkout importable by this process and by Spark's Python workers."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]


def _shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM (it exits when its stdin closes) and wait
    for it and the Python workers it started."""
    from pyspark import SparkContext

    from perfbench import procstat

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    left = procstat.wait_for_children()
    if left:
        raise RuntimeError(f"processes still running after shutdown: {left}")


# ------------------------------------------------------------------ modes


def _untraced_log(paths, w) -> str:
    return paths.sub("untraced", f"{w.name}.json")


def _load_untraced(paths, w) -> list[float]:
    try:
        with open(_untraced_log(paths, w)) as f:
            return json.load(f)
    except FileNotFoundError:
        return []


def _save_untraced(paths, w, crawl_s: list[float]) -> None:
    path = _untraced_log(paths, w)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump((_load_untraced(paths, w) + crawl_s)[-50:], f)
    os.replace(path + ".tmp", path)


def timed(w, cpus, seconds, paths, fix, golden):
    """End-to-end metrics, tracing off.  Repeats the crawl while another one
    fits in ``seconds`` (always at least one)."""
    from perfbench import crawl, procstat

    spark, eng, setup_times = crawl.set_ups(cpus, w, fix, paths)
    conf = _conf(spark)
    units, checks = [], {}
    start = time.time()
    while True:
        t = time.time()
        u = crawl.crawl_unit(spark, w, fix, paths, eng)
        units.append(u)
        tc = time.time()
        for name, ok in crawl.check(u, golden, w).items():
            checks[f"{name}[{len(units)}]"] = ok
        print(f"timeline: setups={sum(setup_times):.1f} crawl={u.crawl_s:.1f} "
              f"exports={tc - u.t1:.1f} checks={time.time() - tc:.1f}")
        if time.time() - start + (time.time() - t) > seconds:
            break
        eng = crawl.warm_engine(spark, w, fix, paths.ckpt)
    metrics = crawl.end_to_end(units, setup_times, len(golden["url_seen"]))
    metrics["peak_rss_mb"] = (procstat.tree_peak_rss_mb(), "MB", 1)
    spark.stop()
    _save_untraced(paths, w, [u.crawl_s for u in units])
    return metrics, checks, units, conf


def traced(w, cpus, paths, fix, golden):
    """Per-layer metrics: the same set-ups, then one crawl in a fresh
    session with the event log and the UDF profiler on and the layer
    wrappers installed, then one round replayed layer by layer."""
    from perfbench import crawl, procstat, trace

    spark, eng, _ = crawl.set_ups(cpus, w, fix, paths)
    reference = _load_untraced(paths, w)
    if not reference:  # no untraced run in this checkout yet: measure one
        reference = [crawl.crawl_unit(spark, w, fix, paths, eng).crawl_s]
        _save_untraced(paths, w, reference)
    shutil.rmtree(paths.eventlog, ignore_errors=True)
    os.makedirs(paths.eventlog)
    system = spark._jvm.java.lang.System  # read by the next SparkContext's conf
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.compress", "false")
    system.setProperty("spark.eventLog.dir", "file://" + paths.eventlog)
    spark, eng = crawl.set_up(spark, cpus, w, fix, paths.ckpt)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    conf = _conf(spark)
    with trace.Tracer(spark) as tracer:
        u = crawl.crawl_unit(spark, w, fix, paths, eng)
    udf_s = trace.python_udf_s(spark)
    peak_mb = procstat.tree_peak_rss_mb()
    checks = crawl.check(u, golden, w)
    rnd = w.total_rounds - 1
    rep = trace.replay_round(spark, u.engine, rnd)
    checks["replay_matches_round"] = (
        rep["politeness.rows_out"] == golden["selected"][rnd]
        and rep["dedup.admitted"] == golden["admitted"][rnd])
    app = spark.sparkContext.applicationId
    spark.stop()  # flushes and closes the event log
    jobs = trace.read_event_log(paths.eventlog, app)
    print(f"{'jobs by tag':34s} {'jobs':>6s} {'tasks':>6s} {'run_s':>9s} {'cpu_s':>9s}")
    for tag, t in trace.by_tag(trace.jobs_between(jobs, u.t0, float("inf"))).items():
        print(f"{tag:34s} {t['jobs']:6d} {t['tasks']:6d} "
              f"{t['executor_run_s']:9.2f} {t['executor_cpu_s']:9.2f}")
    metrics = _fold_trace(u, paths, tracer, jobs, rep, udf_s, statistics.median(reference))
    metrics["memory.peak_rss_mb"] = peak_mb
    return metrics, checks, [u], conf


def _fold_trace(u, paths, tracer, jobs, rep, udf_s, reference_s) -> dict:
    from perfbench import crawl, trace

    crawl_jobs = trace.jobs_between(jobs, u.t0, u.t1)
    starts = [s.start for s in tracer.spans_named("politeness", u.t0, u.t1)]
    rounds = u.rounds
    if len(starts) != len(rounds):
        raise RuntimeError(f"{len(starts)} round starts traced for {len(rounds)} rounds")
    windows = [(s, s + d["wall_s"]) for s, d in zip(starts, rounds)]
    per_round = [trace.jobs_between(crawl_jobs, lo, hi) for lo, hi in windows]
    gaps = [hi - lo - trace.busy_s(js, lo, hi) for (lo, hi), js in zip(windows, per_round)]
    n = len(rounds)

    def span_s(name):
        return sum(s.end - s.start for s in tracer.spans_named(name, u.t0, u.t1)) / n

    replay_wall = rounds[-1]["wall_s"]
    m = {
        "engine.jobs_per_round": sum(len(js) for js in per_round) / n,
        "engine.tasks_per_round": sum(len(j.tasks) for js in per_round for j in js) / n,
        "engine.driver_gap_s": sum(gaps) / n,
        "engine.driver_gap_share": sum(g / d["wall_s"] for g, d in zip(gaps, rounds)) / n,
        "engine.jobs_per_kurl": 1000 * len(crawl_jobs) / u.selected,
        "engine.resume_s": u.resume_s,
        **rep,
        "politeness.shuffle_bytes": trace.spark_totals(
            [j for j in jobs if j.tag == "replay.politeness"])["shuffle_write_bytes"],
        "politeness.task_skew": trace.task_skew(
            [j for j in jobs if j.tag == "replay.politeness"]),
        "politeness.round_share": rep["politeness.wall_s"] / replay_wall,
        "extract.round_share": rep["extract.wall_s"] / replay_wall,
        "dedup.round_share": (rep["dedup.probe_s"] + rep["dedup.update_s"]) / replay_wall,
        "imaging.round_share": rep["imaging.wall_s"] / replay_wall,
        **{f"snapshots.write_s.{t}": span_s(f"snapshots.write.{t}")
           for t in SNAPSHOT_TABLES},
        "snapshots.commit_drain_s": span_s("snapshots.commit"),
        "snapshots.reread_s": span_s("snapshots.reread"),
        "webdataset.wall_s": u.wds_s,
        "webdataset.bytes": crawl.dir_bytes(paths.wds)[0],
        "warc.wall_s": u.warc_s,
        "warc.bytes": crawl.dir_bytes(paths.warc)[0],
        **{f"spark.{k}": v for k, v in trace.spark_totals(crawl_jobs).items()},
        "spark.python_udf_s": udf_s,
        "trace.crawl_s": u.crawl_s,
        "trace.overhead_s": u.crawl_s - reference_s,
    }
    m["snapshots.bytes_written"], m["snapshots.files_written"] = crawl.dir_bytes(
        u.engine.ckpt_dir)
    return m


def _conf(spark) -> dict:
    keep = ("spark.master", "spark.driver.memory", "spark.sql.", "spark.eventLog.enabled")
    return {k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
            if k.startswith(keep)}


# ------------------------------------------------------------------ output


def _report(args, cpus, metrics, units, checks, conf, probes) -> dict:
    spec = END_TO_END if args.trace == 0 else PER_LAYER
    n_rounds = sum(len(u.rounds) for u in units)
    n_exports = 2 * len(units)
    attempted = n_rounds + n_exports + len(checks)
    failed = sum(not ok for ok in checks.values())
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} local[{cpus}]")
    print("spark conf: " + json.dumps(conf))
    for when, p in probes.items():
        print(f"probe {when}: par_eff4={p['par_eff4']} bw_eff4={p['bw_eff4']} t1_s={p['t1_s']}")
    for u in units:
        print("rounds: " + json.dumps(u.rounds))
    out = {}
    print(f"{'metric':34s} {'value':>14s} {'unit':>6s}  n")
    for name, unit in spec + (CONTEXT if args.trace == 0 else []):
        value = metrics[name]
        if isinstance(value, tuple):
            value, _, n = value
        else:
            n = 1
        if (name, unit) in spec:
            out[name] = {"value": value, "unit": unit}
        print(f"{name:34s} {value:14.6g} {unit:>6s}  {n}" + ("" if name in out else "  (context)"))
    print(f"{'failed_share':34s} {failed / attempted:14.6g} {'ratio':>6s}  {attempted}  (context)")
    for name, ok in checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def main() -> int:
    _environment()
    from crawler_spark.calibration import cpu_probe

    from perfbench import crawl

    names = sorted(crawl.WORKLOADS) + [crawl.TINY.name]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names,
                    help=f"'{crawl.TINY.name}' is the self-test's 192-page web")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expectation", action="store_true",
                    help="drop one expected URL-seen member (self-test of the checks)")
    args = ap.parse_args()

    w = crawl.WORKLOADS.get(args.workload, crawl.TINY)
    cpus = len(os.sched_getaffinity(0))
    paths = crawl.Paths(CACHE)
    t = time.time()
    probes = {"before": cpu_probe()}
    t_probe = time.time() - t
    fix, golden = crawl.inputs(w, args.seed, paths)
    print(f"timeline: probe={t_probe:.1f} inputs={time.time() - t - t_probe:.1f}")
    if args.corrupt_expectation:
        golden = crawl.corrupt(golden)
    try:
        if args.trace:
            metrics, checks, units, conf = traced(w, cpus, paths, fix, golden)
        else:
            metrics, checks, units, conf = timed(w, cpus, args.seconds, paths, fix, golden)
    finally:
        t = time.time()
        _shutdown_jvm()
        print(f"timeline: shutdown={time.time() - t:.1f}")
    probes["after"] = cpu_probe()
    result = _report(args, cpus, metrics, units, checks, conf, probes)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
