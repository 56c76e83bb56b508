"""Traced-run instrumentation, kept entirely inside the benchmark.

Three pieces:

* :class:`Tracer` wraps the layers' entry points and pyspark's action calls
  in place.  Each wrapped entry point records a span (name, start, end)
  and pushes its layer name on a per-thread stack; each action call
  stamps the Spark local property ``perfbench.tag`` with the innermost layer
  of the calling thread, so every Spark job in the event log names the layer
  whose call issued it.  Commit-thread writes have no layer on their own
  thread's stack; they are tagged ``snapshots.write.<table>`` from the
  round directory they write into.
* :func:`read_event_log` folds Spark's uncompressed event log into jobs
  with their tag, submit/end times and task metrics.
* :func:`replay_round` re-runs one committed round layer by layer, each
  step materialized to the noop sink, because the live round fuses
  politeness and fetch-parse (and the commit writes fuse the rest) into
  shared jobs.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

TAG = "perfbench.tag"


@dataclass
class Span:
    name: str
    start: float
    end: float


class Tracer:
    """Installs wrappers on :meth:`install`, removes them on :meth:`uninstall`
    (use as a context manager).  Spans stay in memory."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- tagging

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> str | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def _record(self, name: str, start: float) -> None:
        with self._lock:
            self.spans.append(Span(name, start, time.time()))

    def _layer(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            stack = self._stack()
            stack.append(name)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                self._record(name, t0)

        return wrapped

    def _action(self, fn, path_arg: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapped(obj, *args, **kwargs):
            tag = tracer.current()
            if tag is None and path_arg and args:
                parent = os.path.basename(os.path.dirname(str(args[0]).rstrip("/")))
                if parent.startswith("round="):
                    tag = "snapshots.write." + os.path.basename(str(args[0]).rstrip("/"))
            sc = tracer.spark.sparkContext
            sc.setLocalProperty(TAG, tag or "untagged")
            t0 = time.time()
            try:
                return fn(obj, *args, **kwargs)
            finally:
                if tag and tag.startswith("snapshots.write."):
                    tracer._record(tag, t0)

        return wrapped

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    # ------------------------------------------------------------- install

    def install(self) -> "Tracer":
        from crawler_spark.plans import engine as eng_mod
        from crawler_spark.sources import snapshots as snap

        engine = eng_mod.CrawlEngine
        layers = [
            (engine, "run", "engine"),
            (engine, "export_webdataset", "webdataset"),
            (engine, "export_warc", "warc"),
            # a lazy plan builder: its spans mark where each round starts
            (eng_mod, "select_fetch_batch", "politeness"),
            (snap.RoundCommit, "commit", "snapshots.commit"),
            (snap, "read_full", "snapshots.reread"),
            (snap, "read_deltas", "snapshots.reread"),
        ]
        for owner, attr, name in layers:
            self._patch(owner, attr, self._layer(name, getattr(owner, attr)))
        # the runtime classes: pyspark 4's classic DataFrame overrides the
        # actions of the public pyspark.sql.DataFrame base
        frame = self.spark.range(0)
        for attr in ("count", "first", "collect"):
            self._patch(type(frame), attr, self._action(getattr(type(frame), attr)))
        writer = type(frame.write)
        self._patch(writer, "parquet", self._action(writer.parquet, True))
        self._patch(writer, "save", self._action(writer.save, True))
        return self

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def __enter__(self) -> "Tracer":
        return self.install()

    def __exit__(self, *exc) -> None:
        self.uninstall()

    def spans_named(self, name: str, lo: float = 0.0, hi: float = float("inf")) -> list[Span]:
        return [s for s in self.spans if s.name == name and lo <= s.start <= hi]


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    job_id: int
    tag: str
    submit: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)


def read_event_log(log_dir: str, app_id: str) -> list[Job]:
    """Jobs of one application, with their task-end metrics attached.

    Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` (rolling) or a
    single ``<app>`` file; both are read.  A stage that several jobs list
    ran its tasks under the first of them (later jobs skip it)."""
    files = sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    files = files or [os.path.join(log_dir, app_id)]
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], (ev.get("Properties") or {}).get(TAG, "untagged"),
                              ev["Submission Time"] / 1000.0, stages=list(ev["Stage IDs"]))
                    jobs[job.job_id] = job
                    for sid in job.stages:
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    stage_job[ev["Stage ID"]].tasks.append({
                        "stage": ev["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "wall_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    })
    return sorted(jobs.values(), key=lambda j: j.job_id)


def jobs_between(jobs: list[Job], lo: float, hi: float) -> list[Job]:
    return [j for j in jobs if lo <= j.submit <= hi]


def spark_totals(jobs: list[Job]) -> dict:
    tasks = [t for j in jobs for t in j.tasks]
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "executor_run_s": sum(t["run_s"] for t in tasks),
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
    }


def by_tag(jobs: list[Job]) -> dict[str, dict]:
    """Spark totals per layer tag."""
    tags: dict[str, list[Job]] = {}
    for j in jobs:
        tags.setdefault(j.tag, []).append(j)
    return {t: spark_totals(js) for t, js in sorted(tags.items())}


def busy_s(jobs: list[Job], lo: float, hi: float) -> float:
    """Length of the union of job intervals clipped to [lo, hi]."""
    ivs = sorted((max(lo, j.submit), min(hi, j.end or hi)) for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def task_skew(jobs: list[Job]) -> float:
    """Largest max/median task time over the stages of ``jobs`` that ran
    more than one task (1.0 = perfectly even)."""
    by_stage: dict[int, list[float]] = {}
    for j in jobs:
        for t in j.tasks:
            by_stage.setdefault(t["stage"], []).append(t["wall_s"])
    skews = [max(v) / statistics.median(v) for v in by_stage.values()
             if len(v) > 1 and statistics.median(v) > 0]
    return max(skews, default=1.0)


# ------------------------------------------------------------------ replay


def python_udf_s(spark) -> float:
    """Python UDF time the perf profiler collected since the last clear;
    clears it.  pyspark exposes the per-UDF stats only through its profiler
    collector (``spark.profile`` can show or dump them, not return them)."""
    total = sum(st.total_tt for st in spark._profiler_collector._perf_profile_results.values())
    spark.profile.clear(type="perf")
    return total


def replay_round(spark, eng, rnd: int) -> dict:
    """Replay committed round ``rnd`` from the state committed by round
    ``rnd - 1``, one layer per step.  Each step's input is persisted first
    and its output written to the noop sink, so a step's wall time is that
    layer alone.  Jobs carry ``replay.<layer>`` tags; Python UDF time is
    read from the profiler after each step."""
    from pyspark.sql import functions as F

    from crawler_spark.operators import dedup as dd
    from crawler_spark.plans import policy as P
    from crawler_spark.plans.engine import select_fetch_batch
    from crawler_spark.sources import snapshots as snap

    sc = spark.sparkContext
    ckpt = eng.ckpt_dir
    prev = rnd - 1
    meta = (snap.read_manifest(ckpt, prev) or {}).get("meta", {})
    frontier = snap.read_full(spark, ckpt, "frontier", prev)
    url_seen = snap.read_deltas(spark, ckpt, "url_seen", prev)
    bloom = snap.read_full(spark, ckpt, "bloom", int(meta.get("bloom_round", prev)))
    held = []

    def hold(df, tag):
        sc.setLocalProperty(TAG, tag)
        df = df.persist()
        held.append(df)
        return df, df.count()

    def step(tag, df) -> float:
        python_udf_s(spark)  # drop anything the input jobs profiled
        sc.setLocalProperty(TAG, tag)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    out: dict = {}
    eligible, out["politeness.rows_in"] = hold(frontier.filter(F.col("wave") <= rnd),
                                               "replay.input")
    out["politeness.wall_s"] = step("replay.politeness",
                                    select_fetch_batch(eligible, eng.robots, eng.cfg))
    batch, out["politeness.rows_out"] = hold(
        select_fetch_batch(eligible, eng.robots, eng.cfg), "replay.input")

    out["extract.wall_s"] = step("replay.extract", eng._classify(batch))
    out["extract.python_s"] = python_udf_s(spark)
    classified, out["extract.rows"] = hold(eng._classify(batch), "replay.input")
    fetched = classified.filter(F.col("status") == P.ST_FETCHED)

    out["imaging.wall_s"] = out["imaging.python_s"] = 0.0
    out["imaging.images"] = 0
    if eng.ingest_payloads:
        out["imaging.wall_s"] = step("replay.imaging", eng._payload_log(fetched, rnd))
        out["imaging.python_s"] = python_udf_s(spark)
        _, out["imaging.images"] = hold(fetched.select("image_id").distinct(), "replay.input")

    _, out["urlnorm.links"] = hold(
        fetched.filter(F.col("landing") == "pipeline").select(F.explode("out_links")),
        "replay.input")
    out["urlnorm.wall_s"] = step("replay.urlnorm", eng._expand(fetched, rnd))
    out["urlnorm.python_s"] = python_udf_s(spark)
    cands, out["expand.candidates"] = hold(dd.with_url_hash(eng._expand(fetched, rnd)),
                                           "replay.input")

    buckets = eng.bloom_buckets
    out["dedup.probe_s"] = step("replay.dedup.probe",
                                dd.admit_new_bloom(cands, url_seen, bloom, buckets))
    dedup_py = python_udf_s(spark)
    admitted, out["dedup.admitted"] = hold(
        dd.admit_new_bloom(cands, url_seen, bloom, buckets), "replay.input")
    out["dedup.update_s"] = step(
        "replay.dedup.update",
        dd.bloom_update(bloom, admitted.select("url_hash"), buckets, eng.bloom_fpp))
    out["dedup.python_s"] = dedup_py + python_udf_s(spark)

    sc.setLocalProperty(TAG, "replay.input")
    n_cands = out["expand.candidates"]
    maybe = dd.bloom_probe(cands, bloom, buckets).filter(F.col("probably_seen")).count()
    seen = cands.join(url_seen.select("url"), "url", "left_semi").count()
    out["dedup.candidates"] = n_cands
    out["dedup.admit_share"] = out["dedup.admitted"] / n_cands if n_cands else 0.0
    out["dedup.bloom_fp_share"] = (maybe - seen) / (n_cands - seen) if n_cands > seen else 0.0
    out["dedup.bloom_bytes"] = bloom.agg(F.sum(F.length("bits"))).first()[0] or 0
    for df in held:
        df.unpersist()
    return out
