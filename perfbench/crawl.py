"""Crawl workloads: inputs, the measured crawl, output checks, metrics.

A workload is one closed loop with one batch job at a time: a crawl of
``straight_rounds`` rounds, then a fresh ``CrawlEngine`` resuming the
committed checkpoint for the remaining rounds, then the WebDataset and WARC
exports.  Inputs (the fixture web and the simulator golden) are built from
the seed before anything is timed and cached per workload and seed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from crawler_spark.fixtures import ensure_cached
from crawler_spark.plans.engine import CrawlEngine
from crawler_spark.plans.policy import ST_FETCHED, CrawlConfig
from crawler_spark.simulator import simulate

from perfbench import procstat

FETCH_COLS = ["round", "host", "rank", "url", "status", "attempt", "redirected", "repaired_url"]
SETUPS = 3  # set-ups per run; setup_s is their median


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    hosts: int
    round_seconds: float
    burst: int
    straight_rounds: int
    total_rounds: int
    ingest: bool
    fixture: dict = field(default_factory=dict)  # extra fixtures.generate knobs

    def cfg(self, rounds: int) -> CrawlConfig:
        return CrawlConfig(round_seconds=self.round_seconds,
                           max_burst_per_host=self.burst, max_rounds=rounds)


WORKLOADS = {
    w.name: w
    for w in (
        # a few hundred URLs per round: round wall is the fixed cost of jobs,
        # commit writes and state re-read
        Workload(
            "crawl-small-rounds",
            pages=4096, hosts=64, round_seconds=64.0, burst=4096,
            straight_rounds=1, total_rounds=2, ingest=False,
            fixture={"n_seeds": 256},
        ),
        # thousands of URLs per round over hot hosts with payload ingest:
        # per-URL fetch-parse, prepare_url and payload decode work
        Workload(
            "crawl-wide-rounds",
            pages=4096, hosts=256, round_seconds=2048.0, burst=1 << 20,
            straight_rounds=1, total_rounds=2, ingest=True,
            fixture={"n_seeds": 256, "img_px": [64], "image_shards": 8,
                     "max_links": 32, "fmts": ["png"]},
        ),
    )
}
# the 192-page golden web of tests/test_crawl_golden.py, for the self-test
TINY = Workload("tiny", pages=192, hosts=8, round_seconds=64.0,
                burst=4096, straight_rounds=2, total_rounds=3, ingest=True)


@dataclass
class Paths:
    """Everything the benchmark writes lives under ``root`` (inside the
    checkout, ignored by git)."""

    root: str

    def sub(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    @property
    def ckpt(self) -> str:
        return self.sub("run", "ckpt")

    @property
    def wds(self) -> str:
        return self.sub("run", "wds")

    @property
    def warc(self) -> str:
        return self.sub("run", "warc")

    @property
    def eventlog(self) -> str:
        return self.sub("eventlog")


# ------------------------------------------------------------------ inputs


def _evict(root: str, keep: str, n_keep: int = 2) -> None:
    """Keep the ``n_keep`` most recently used fixture webs of a workload."""
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[n_keep:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def golden_of(fix: str, w: Workload) -> dict:
    """The straight-run expectation from the pure-Python simulator, plus
    the export sizes it implies (one WebDataset sample per distinct fetched
    image, one WARC record per distinct fetched page of the web)."""
    import pyarrow.parquet as pq

    sim = simulate(fix, w.cfg(w.total_rounds))
    pages = pq.read_table(os.path.join(fix, "pages.parquet"), columns=["url", "image_id"])
    image_of = dict(zip(pages.column("url").to_pylist(), pages.column("image_id").to_pylist()))
    fetched = {e["url"] for e in sim.fetch_log if e["status"] == ST_FETCHED}
    return {
        "fetch": sorted([e[c] for c in FETCH_COLS] for e in sim.fetch_log),
        "url_seen": sorted(sim.url_seen),
        "dead": sorted([d["url"], d["reason"], d["generation"], d["round"]] for d in sim.dead),
        "selected": [r["selected"] for r in sim.lineage],
        "admitted": [r["admitted"] for r in sim.lineage],
        "wds_samples": len({image_of[u] for u in fetched if u in image_of}),
        "warc_records": len(fetched & image_of.keys()),
    }


def inputs(w: Workload, seed: int, paths: Paths) -> tuple[str, dict]:
    """(fixture dir, golden) for this workload and seed, built once and
    cached."""
    fix_root = paths.sub("fixtures", w.name)
    os.makedirs(fix_root, exist_ok=True)
    fix = ensure_cached(fix_root, w.pages, w.hosts, seed=seed, **w.fixture)
    os.utime(fix)
    _evict(fix_root, fix)
    gpath = paths.sub("golden", f"{w.name}_s{seed}.json")
    if not os.path.exists(gpath):
        os.makedirs(os.path.dirname(gpath), exist_ok=True)
        with open(gpath + ".tmp", "w") as f:
            json.dump(golden_of(fix, w), f)
        os.replace(gpath + ".tmp", gpath)
    with open(gpath) as f:
        return fix, json.load(f)


# ------------------------------------------------------------------- spark


def build_session(cpus: int):
    """The program's own launcher session (scripts/crawl_job.py): AQE off,
    2 x cores shuffle partitions; nothing added here."""
    from crawl_job import build_spark

    spark = build_spark(cpus, 2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def new_engine(spark, w: Workload, fix: str, ckpt: str, rounds: int) -> CrawlEngine:
    return CrawlEngine(spark, fix, ckpt, cfg=w.cfg(rounds), ingest_payloads=w.ingest)


def warm_engine(spark, w: Workload, fix: str, ckpt: str) -> CrawlEngine:
    """An engine on an empty checkpoint with its cached page and robots
    tables filled, as scripts/crawl_job.py prepares one before its measured
    span."""
    shutil.rmtree(ckpt, ignore_errors=True)
    eng = new_engine(spark, w, fix, ckpt, w.straight_rounds)
    eng.pages.count()
    eng.robots.count()
    return eng


def set_up(spark, cpus: int, w: Workload, fix: str, ckpt: str):
    """One set-up: (re)start the session and warm an engine.  The first
    set-up of a run also launches the JVM."""
    if spark is not None:
        spark.stop()
    spark = build_session(cpus)
    return spark, warm_engine(spark, w, fix, ckpt)


def set_ups(cpus: int, w: Workload, fix: str, paths: Paths):
    spark, eng, times = None, None, []
    for _ in range(SETUPS):
        t0 = time.time()
        spark, eng = set_up(spark, cpus, w, fix, paths.ckpt)
        times.append(time.time() - t0)
    return spark, eng, times


# -------------------------------------------------------------- the crawl


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


@dataclass
class Unit:
    """One measured crawl: timestamps are epoch seconds."""

    t0: float
    t_resume: float
    t1: float
    straight: dict
    resumed: dict
    cpu_s: float
    wds: dict
    warc: dict
    wds_s: float
    warc_s: float
    engine: CrawlEngine

    @property
    def rounds(self) -> list[dict]:
        return self.straight["rounds_detail"] + self.resumed["rounds_detail"]

    @property
    def crawl_s(self) -> float:
        return self.t1 - self.t0

    @property
    def resume_s(self) -> float:
        """The resume's engine set-up and resumed call, minus its rounds."""
        return self.t1 - self.t_resume - sum(d["wall_s"] for d in self.resumed["rounds_detail"])

    @property
    def selected(self) -> int:
        return self.straight["selected"] + self.resumed["selected"]


def crawl_unit(spark, w: Workload, fix: str, paths: Paths, eng: CrawlEngine) -> Unit:
    """Crawl ``straight_rounds`` rounds, resume with a fresh engine to
    ``total_rounds``, then export once to WebDataset and once to WARC.  ``eng`` must be
    warm and point at an empty checkpoint."""
    cpu0 = procstat.tree_cpu_s()
    t0 = time.time()
    straight = eng.run()
    t_resume = time.time()
    eng2 = new_engine(spark, w, fix, paths.ckpt, w.total_rounds)
    resumed = eng2.run(resume=True)
    t1 = time.time()
    cpu_s = procstat.tree_cpu_s() - cpu0
    for d in (paths.wds, paths.warc):
        shutil.rmtree(d, ignore_errors=True)
    t = time.time()
    wds = eng2.export_webdataset(paths.wds)
    wds_s = time.time() - t
    t = time.time()
    warc = eng2.export_warc(paths.warc)
    warc_s = time.time() - t
    return Unit(t0, t_resume, t1, straight, resumed, cpu_s,
                wds, warc, wds_s, warc_s, eng2)


# ------------------------------------------------------------------ checks


def corrupt(golden: dict) -> dict:
    """A golden with one URL-seen member dropped (self-test of the checks)."""
    return {**golden, "url_seen": golden["url_seen"][1:]}


def check(u: Unit, golden: dict, w: Workload) -> dict[str, bool]:
    """Exact comparisons of the resumed crawl's committed state against the
    straight-run golden: row lists (counts and duplicates included), not
    digests."""
    eng = u.engine
    fetch = sorted([list(r) for r in eng.fetch_log().select(*FETCH_COLS).collect()])
    seen = [r.url for r in eng.url_seen().select("url").collect()]
    dead_df = eng.dead_letter()
    dead = [] if dead_df is None else sorted(
        [list(r) for r in dead_df.select("url", "reason", "generation", "round").collect()])
    out = {
        "fetch_log_rows": fetch == golden["fetch"],
        "url_seen_rows": sorted(seen) == golden["url_seen"],
        "dead_letter_rows": dead == golden["dead"],
        "selected_per_round": [d["selected"] for d in u.rounds] == golden["selected"],
        "resume_split": (u.straight["rounds"], u.resumed["rounds"])
        == (w.straight_rounds, w.total_rounds - w.straight_rounds),
        "wds_samples": u.wds["n_samples"] == golden["wds_samples"],
        "warc_records": u.warc["n_records"] == golden["warc_records"],
    }
    if w.ingest:
        out["payload_ok"] = u.resumed.get("payload_ok") is True
    return out


# ----------------------------------------------------------------- metrics


def steady(u: Unit) -> list[dict]:
    """Rounds after the first (JIT, worker spawn and cache fill)."""
    return [d for d in u.rounds if d["round"] >= 1]


def end_to_end(units: list[Unit], setup_times: list[float],
               url_seen: int) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, sample count)."""
    med = statistics.median
    st = [d for u in units for d in steady(u)]
    ckpt_bytes, _ = dir_bytes(units[-1].engine.ckpt_dir)
    return {
        "setup_s": (med(setup_times), "s", len(setup_times)),
        "crawl_s": (med(u.crawl_s for u in units), "s", len(units)),
        "steady_urls_per_s": (sum(d["selected"] for d in st) / sum(d["wall_s"] for d in st),
                              "1/s", len(st)),
        "round_s_p50": (med(d["wall_s"] for d in st), "s", len(st)),
        "cpu_s_per_kurl": (med(1000 * u.cpu_s / u.selected for u in units), "s", len(units)),
        "wds_samples_per_s": (med(u.wds["n_samples"] / u.wds_s for u in units), "1/s",
                              len(units)),
        "warc_records_per_s": (med(u.warc["n_records"] / u.warc_s for u in units), "1/s",
                               len(units)),
        "ckpt_bytes_per_url": (ckpt_bytes / url_seen, "B", 1),
        "resume_s": (med(u.resume_s for u in units), "s", len(units)),
    }
