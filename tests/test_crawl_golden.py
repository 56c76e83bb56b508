"""Golden end-to-end: the Spark engine must reproduce the simulator EXACTLY
(north_rule invariant: fetch ordering + URL-seen membership), plus payload
and resume equivalence (SURVEY.md §5 items 2/4)."""

from dataclasses import replace

import pytest

from crawler_spark.fixtures import generate
from crawler_spark.plans.policy import CrawlConfig, ST_FETCHED
from crawler_spark.simulator import simulate


@pytest.fixture(scope="module")
def fix_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fixtures"))
    generate(d, n_pages=192, n_hosts=8, seed=42)
    return d


CFG = CrawlConfig(max_rounds=12)


@pytest.fixture(scope="module")
def golden(fix_dir):
    return simulate(fix_dir, CFG)


@pytest.fixture(scope="module")
def engine_run(spark, fix_dir, tmp_path_factory):
    from crawler_spark.plans.engine import CrawlEngine

    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    eng = CrawlEngine(spark, fix_dir, ckpt, CFG)
    summary = eng.run()
    return eng, summary


def _engine_fetch_tuples(eng):
    rows = eng.fetch_log().collect()
    return sorted(
        (r.round, r.host, r.rank, r.url, r.status, r.attempt, r.redirected, r.repaired_url)
        for r in rows
    )


def _sim_fetch_tuples(sim):
    return sorted(
        (e["round"], e["host"], e["rank"], e["url"], e["status"], e["attempt"],
         e["redirected"], e["repaired_url"])
        for e in sim.fetch_log
    )


def test_fetch_log_exact_match(engine_run, golden):
    eng, _ = engine_run
    assert _engine_fetch_tuples(eng) == _sim_fetch_tuples(golden)


def test_url_seen_membership_exact(engine_run, golden):
    eng, _ = engine_run
    engine_seen = {r.url for r in eng.url_seen().select("url").collect()}
    assert engine_seen == golden.url_seen


def test_dead_letter_match(engine_run, golden):
    eng, _ = engine_run
    engine_dead = sorted(
        (r.url, r.reason, r.generation, r.round) for r in eng.dead_letter().collect()
    )
    sim_dead = sorted((d["url"], d["reason"], d["generation"], d["round"]) for d in golden.dead)
    assert engine_dead == sim_dead


def test_per_host_fifo_order(engine_run, golden):
    """Fetch ordering per host (the reference's FIFO analog, O1)."""
    eng, _ = engine_run
    rows = eng.fetch_log().filter(f"status = '{ST_FETCHED}'").collect()
    per_host = {}
    for r in sorted(rows, key=lambda r: (r.round, r.rank)):
        per_host.setdefault(r.host, []).append(r.url)
    assert per_host == golden.per_host_fetch_order()


def test_lineage_written(engine_run, golden):
    import os

    from crawler_spark.sources import snapshots as snap

    eng, summary = engine_run
    lin = eng.lineage().collect()
    assert len(lin) > 0
    total_in = sum(r.urls_in for r in lin)
    assert total_in == summary["selected"]
    assert summary["admitted"] == sum(l["admitted"] for l in golden.lineage)
    # per-partition granularity with wall-clock metrics
    assert all(r.wall_ms >= 0 for r in lin)
    # each round's manifest carries its own rows, summing to its tally
    for rnd in snap.committed_rounds(eng.ckpt_dir):
        manifest = snap.read_manifest(eng.ckpt_dir, rnd)
        assert "lineage" not in manifest["tables"]
        # the recycle bin is the trace's death events, not a table
        assert "dead_letter" not in manifest["tables"]
        assert not os.path.exists(
            os.path.join(eng.ckpt_dir, f"round={rnd:05d}", "dead_letter")
        )
        rows = manifest["meta"]["lineage"]
        assert sum(r["urls_in"] for r in rows) == manifest["meta"]["selected"]
        assert {r["round"] for r in rows} == {rnd}


def test_payload_invariants(engine_run):
    """Decoded-pixel + phash + PSNR gates over every fetched image payload."""
    eng, _ = engine_run
    res = eng.verify_payloads().collect()
    assert len(res) > 0
    assert all(r.decode_ok and r.shape_ok and r.phash_ok for r in res)
    # lossless codecs ⇒ PSNR = inf ≥ 40dB
    assert all(r.psnr_db == float("inf") for r in res)


def test_caption_equality(engine_run, spark, fix_dir):
    """Caption invariant: fetched payload captions equal the fixture captions."""
    import os

    from crawler_spark.fixtures import make_image

    eng, _ = engine_run
    images = spark.read.parquet(os.path.join(fix_dir, "images.parquet"))
    fetched_ids = (
        eng.fetch_log()
        .filter(f"status = '{ST_FETCHED}'")
        .select("url")
        .distinct()
        .join(eng.pages.select("url", "image_id"), "url")
        .select("image_id")
        .distinct()
    )
    rows = fetched_ids.join(images, "image_id").select("image_id", "caption").collect()
    assert rows
    for r in rows:
        i = int(r.image_id[3:])
        _, _, _, _, caption, _ = make_image(i)
        assert r.caption == caption


def test_story_results_match_simulator(engine_run, golden):
    """Extraction structdata parity: every fetched (task, url)'s records."""
    eng, _ = engine_run
    eng_rows = sorted(
        (r.round, r.url, r.task_url, r.extractor, r.landing, tuple(map(tuple, r.records)))
        for r in eng.story_results().collect()
    )
    sim_rows = sorted(
        (r["round"], r["url"], r["task_url"], r["extractor"], r["landing"],
         tuple(map(tuple, r["records"])))
        for r in golden.story_results
    )
    assert eng_rows == sim_rows


def test_export_files_match_simulator(engine_run, golden, tmp_path_factory):
    """K1-K5: Spark export table == python golden, and the materialized
    files byte-match the golden lines."""
    import os

    from crawler_spark.operators.exporters import (
        ST_EXPORTED,
        export_story_python,
        export_table,
        write_export_files,
    )

    eng, _ = engine_run
    exports = export_table(eng.story_results())
    eng_rows = {
        (r.landing, r.file_name): (r.task_url, r.status, list(r.lines))
        for r in exports.collect()
    }
    sim_rows = {
        k: (v["task_url"], v["status"], v["lines"])
        for k, v in export_story_python(golden.story_results).items()
    }
    assert eng_rows == sim_rows
    assert len(sim_rows) > 0
    # at least one of each file landing appears in the fixture graph
    assert {k[0] for k in sim_rows} >= {"file", "puretextfile", "html", "jssfile"}

    out = str(tmp_path_factory.mktemp("exports"))
    write_export_files(exports, out, story="story")
    n_written = 0
    for (landing, fname), (_, status, lines) in sim_rows.items():
        sub = os.path.join("objectstore", "story") if landing == "jssfile" else "story"
        path = os.path.join(out, sub, fname)
        if status == ST_EXPORTED:
            n_written += 1
            with open(path, encoding="utf-8") as f:
                assert f.read() == "\n".join(lines) + "\n"
        else:
            assert not os.path.exists(path)
    assert n_written > 0


def test_emulator_search_flow_golden(engine_run, golden):
    """S4: the scripted-browser fetch path (search seeds → result links →
    pagination) reproduces the simulator exactly, incl. structdata."""
    eng, _ = engine_run
    eng_search = {
        (r.url, tuple(map(tuple, r.records)))
        for r in eng.story_results().filter("extractor = 'search'").collect()
    }
    sim_search = {
        (r["url"], tuple(map(tuple, r["records"])))
        for r in golden.story_results
        if r["extractor"] == "search"
    }
    assert eng_search == sim_search
    assert len(sim_search) > 0


def test_search_tools_substep_golden(engine_run, golden):
    """S4 tools sub-step (SeleniumFetcher.java:193-212): the time-range-
    filtered search seed reproduces the simulator exactly, its result pages
    are narrowed relative to the untooled flow for the same keyword, and the
    filter rides the pagination chain."""
    eng, _ = engine_run
    eng_rows = eng.story_results().filter("extractor = 'search'").collect()
    tooled = {
        r.url: tuple(map(tuple, r.records)) for r in eng_rows if "_tools_" in r.url
    }
    sim_tooled = {
        r["url"]: tuple(map(tuple, r["records"]))
        for r in golden.story_results
        if r["extractor"] == "search" and "_tools_" in r["url"]
    }
    assert tooled == sim_tooled
    assert len(tooled) > 1  # page 0 plus at least one paginated tooled page
    assert all("_tools_=" in u for u in tooled)
    # narrowing: per (page), the tooled record PATHS are a strict subset of
    # the untooled fox flow's (targets depend only on kw:page:j, not host)
    def paths(recs):
        return {tuple(c.rsplit("/p/", 1)[-1] for c in row) for row in recs}

    plain = {
        r.url: tuple(map(tuple, r.records))
        for r in eng_rows
        if "_tools_" not in r.url and "_kw_=fox" in r.url
    }
    narrowed = 0
    for u, recs in tooled.items():
        page = u.split("page=")[1].split("&")[0]
        match = [p for p in plain if f"page={page}" in p and "_kw_=fox" in p]
        if match:
            plain_paths = paths(plain[match[0]])
            assert paths(recs) <= plain_paths
            if len(paths(recs)) < len(plain_paths):
                narrowed += 1
    assert narrowed > 0


def test_302_detected_and_repaired(engine_run, golden):
    """P7: the fixture's 302 pages are flagged with the param-delta repair."""
    eng, _ = engine_run
    eng_302 = {
        (r.url, r.repaired_url)
        for r in eng.fetch_log().filter("redirected").collect()
    }
    sim_302 = {(e["url"], e["repaired_url"]) for e in golden.fetch_log if e["redirected"]}
    assert eng_302 == sim_302
    assert len(sim_302) > 0
    # the repair appends the redirect's extra query param (F3 quirks: '?&')
    assert all(rep is not None and "sid=" in rep and "?&" in rep for _, rep in sim_302)


def test_round_deadline_timeout_golden(spark, fix_dir, tmp_path_factory):
    """T2: with a starvation-inducing budget and a 2-round deadline, passed-
    over tasks die TIMEOUTED identically in engine and simulator, and the
    recycle bin re-drives them."""
    from crawler_spark.plans.engine import CrawlEngine

    cfg = CrawlConfig(max_rounds=16, round_seconds=2.0, max_burst_per_host=2,
                      max_wait_rounds=2)
    sim = simulate(fix_dir, cfg)
    ckpt = str(tmp_path_factory.mktemp("ckpt_t2"))
    eng = CrawlEngine(spark, fix_dir, ckpt, cfg)
    eng.run()
    assert _engine_fetch_tuples(eng) == _sim_fetch_tuples(sim)
    eng_dead = sorted((r.url, r.reason, r.generation, r.round) for r in eng.dead_letter().collect())
    sim_dead = sorted((d["url"], d["reason"], d["generation"], d["round"]) for d in sim.dead)
    assert eng_dead == sim_dead
    assert any(reason == "timeout" for _, reason, _, _ in sim_dead)


def test_task_trace_paths(engine_run, golden):
    """T9/worker.trace: a retried URL's full path is reconstructible from the
    per-task trace — submitted, then one event per attempt (FAILED xN →
    FETCHED), with death reasons in ``detail`` (Crawlers.java:80 trace;
    SavePointPlanner.java:248-266 execution-path readback)."""
    eng, _ = engine_run
    rows = eng.execution_paths().collect()
    paths = {r.url: [(e["state"], e["attempt"]) for e in r.path] for r in rows}
    # a transient-failure URL (fixture fail_count > 0): FAILED per attempt,
    # then FETCHED — the trace path must be submitted + the golden attempts
    per_url = {}
    for e in golden.fetch_log:
        per_url.setdefault(e["url"], []).append((e["status"], e["attempt"]))
    url_r, evs = next(
        (u, evs) for u, evs in per_url.items()
        if len(evs) >= 3 and evs[-1][0] == ST_FETCHED
        and all(s == "FAILED" for s, _ in evs[:-1])
    )
    assert paths[url_r] == [("submitted", 0)] + evs
    # trace totals reconcile with the other state tables: one submitted event
    # per URL ever admitted; one fetch event per fetch-log row
    tr = eng.task_trace()
    n_sub = tr.filter("state = 'submitted'").count()
    assert n_sub == eng.url_seen().select("url").distinct().count()
    assert tr.filter("state = 'submitted'").select("url").distinct().count() == n_sub
    fetch_states = {ST_FETCHED, "FAILED", "ANTIED", "NO_CONTENT"}
    n_fetch_ev = tr.filter(tr.state.isin(*fetch_states)).count()
    assert n_fetch_ev == len(golden.fetch_log)
    # death reasons ride the final attempt's event detail
    dead_ev = {
        (r.url, r.detail)
        for r in tr.filter("detail is not null and state != 'TIMEOUT'").collect()
    }
    assert dead_ev == {(d["url"], d["reason"]) for d in golden.dead}


def test_proxy_assignment_golden(spark, fix_dir, tmp_path_factory, golden):
    """J6/S5: with a proxy pool present, every fetch carries the pool member
    the deterministic url-keyed pick selects — engine == simulator exactly
    (reference rawdata carries the fetching ip, BackLogFetcher.java:221-239).
    The pool must not perturb any other observable: the fetch log matches the
    no-proxy golden on all shared columns."""
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.simulator import simulate

    ips = [f"10.0.0.{i}:8080" for i in range(5)]
    ckpt = str(tmp_path_factory.mktemp("ckpt_proxy"))
    eng = CrawlEngine(spark, fix_dir, ckpt, CFG, proxy_pool=ips)
    eng.run()
    sim = simulate(fix_dir, CFG, proxy_ips=ips)
    got = sorted(
        (r.round, r.url, r.proxy_ip) for r in eng.fetch_log().collect()
    )
    want = sorted((e["round"], e["url"], e["proxy_ip"]) for e in sim.fetch_log)
    assert got == want
    assert all(p is not None for _, _, p in got)
    assert {p for _, _, p in got} == set(ips)  # pool fully exercised
    assert _engine_fetch_tuples(eng) == _sim_fetch_tuples(golden)


def test_task_cookies_golden(spark, tmp_path_factory):
    """Task cookies (BackLogFetcher.java:122-127): seeds carry a Cookie
    header, page chains/children inherit it, and the synthetic server echoes
    ``{{cookie:sid}}`` markers into the body — so cookie-carrying tasks
    extract observably different structdata.  Engine == simulator exactly,
    and the echo is actually exercised (a record contains the cookie value,
    and a marker page fetched cookie-less renders the empty echo)."""
    from crawler_spark.fixtures import generate
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.simulator import simulate

    fix = str(tmp_path_factory.mktemp("fix_cookies"))
    generate(fix, n_pages=192, n_hosts=8, seed=42, n_cookie_pages=8)
    cfg = CrawlConfig(max_rounds=8)
    sim = simulate(fix, cfg)
    ckpt = str(tmp_path_factory.mktemp("ckpt_cookies"))
    eng = CrawlEngine(spark, fix, ckpt, cfg)
    eng.run()
    got = sorted(
        (r.round, r.url, r.status, r.attempt) for r in eng.fetch_log().collect()
    )
    want = sorted((e["round"], e["url"], e["status"], e["attempt"]) for e in sim.fetch_log)
    assert got == want
    flat = lambda rows: sorted(
        (r["url"], tuple(tuple(rec) for rec in r["records"])) for r in rows
    )
    eng_sr = [
        {"url": r.url, "records": [list(x) for x in r.records]}
        for r in eng.story_results().collect()
    ]
    assert flat(eng_sr) == flat(sim.story_results)
    all_fields = [f for _, recs in flat(eng_sr) for rec in recs for f in rec]
    assert any("[sid=s" in f for f in all_fields), "cookie echo never rendered"
    # a marker page fetched WITHOUT the cookie renders the empty echo
    # (scalar-level pin; this graph's marker content pages are all seeds)
    from crawler_spark.functions.extract import render_cookie_markers

    assert render_cookie_markers("x [sid={{cookie:sid}}]", "") == "x [sid=]"
    assert render_cookie_markers("x [sid={{cookie:sid}}]", "sid=s7; t=u") == "x [sid=s7]"


def test_resume_equals_straight_run(spark, fix_dir, tmp_path_factory, golden):
    """T6/T7: interrupt after 3 rounds, resume — identical final state."""
    from crawler_spark.plans.engine import CrawlEngine

    ckpt = str(tmp_path_factory.mktemp("ckpt_resume"))
    eng1 = CrawlEngine(spark, fix_dir, ckpt, CrawlConfig(max_rounds=3))
    eng1.run()
    eng2 = CrawlEngine(spark, fix_dir, ckpt, CFG)
    eng2.run(resume=True)
    assert _engine_fetch_tuples(eng2) == _sim_fetch_tuples(golden)
    seen = {r.url for r in eng2.url_seen().select("url").collect()}
    assert seen == golden.url_seen
    # the resumed engine reads lineage of the rounds both engines committed
    lin = eng2.lineage().collect()
    assert {r.round for r in lin} == {e["round"] for e in golden.fetch_log}
    assert sum(r.urls_in for r in lin) == len(golden.fetch_log)


def test_execution_paths_order_recrawl_before_its_fetch(spark, fix_dir, tmp_path):
    """A resumed crawl's seeds_df refetch is traced as ``recrawl`` in the
    round that fetches it again; both path readbacks list that submission
    before the fetch."""
    from pyspark.sql import functions as F

    from crawler_spark.plans.engine import CrawlEngine

    cfg = CrawlConfig(max_rounds=1, round_seconds=2048.0, max_burst_per_host=1 << 20)
    ckpt = str(tmp_path / "ckpt")
    eng1 = CrawlEngine(spark, fix_dir, ckpt, cfg)
    eng1.run()
    url = min(
        r.url for r in eng1.fetch_log().filter(F.col("status") == ST_FETCHED).collect()
    )
    seeds = spark.createDataFrame([("0", url)], "seed_id string, url string")
    eng2 = CrawlEngine(spark, fix_dir, ckpt, replace(cfg, max_rounds=2), seeds_df=seeds)
    eng2.run(resume=True)
    want = [(0, "submitted"), (0, ST_FETCHED), (1, "recrawl"), (1, ST_FETCHED)]
    path = eng2.execution_paths().filter(F.col("url") == url).first().path
    assert [(e.round, e.state) for e in path] == want
    story = eng2.story_tasks(url)[url]
    assert [(rnd, state) for state, rnd, _ in story] == want


def test_indegree_priority_golden(spark, fix_dir, tmp_path_factory, golden):
    """priority_mode="indegree" (OPIC-lite): engine and simulator agree
    exactly, the knob genuinely reorders fetches vs FIFO, and URL-seen
    membership is mode-independent (prioritization must not change WHAT is
    crawled, only WHEN)."""
    from crawler_spark.plans.engine import CrawlEngine

    cfg = CrawlConfig(max_rounds=12, round_seconds=4.0, priority_mode="indegree")
    sim = simulate(fix_dir, cfg)
    ckpt = str(tmp_path_factory.mktemp("ckpt_indeg"))
    eng = CrawlEngine(spark, fix_dir, ckpt, cfg)
    eng.run()
    assert _engine_fetch_tuples(eng) == _sim_fetch_tuples(sim)
    engine_seen = {r.url for r in eng.url_seen().select("url").collect()}
    assert engine_seen == sim.url_seen

    # vs the default-config golden: same membership, different order
    fifo = simulate(fix_dir, CrawlConfig(max_rounds=12, round_seconds=4.0))
    assert sim.url_seen == fifo.url_seen
    sim_order = [(e["round"], e["host"], e["rank"], e["url"]) for e in sim.fetch_log]
    fifo_order = [(e["round"], e["host"], e["rank"], e["url"]) for e in fifo.fetch_log]
    assert sim_order != fifo_order


def test_priority_mode_validated():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        CrawlConfig(priority_mode="pagerank")

def test_plan_status_readback_across_interrupt_and_resume(
    spark, fix_dir, tmp_path_factory
):
    """PlannerCurrentController parity (plans/current, storys/left|doing|
    statistics|detail) computed from committed state: mid-crawl the plan is
    not done and the ledger is consistent with the fetch log; after resuming
    to completion every story is done and the plan flips to done."""
    from pyspark.sql import functions as F

    from crawler_spark.plans.engine import CrawlEngine

    # one anti retry retires the anti pages' recycle-bin generations in 24
    # rounds (the default six take 39); eng1 stops after two of them
    cfg = CrawlConfig(max_anti_retries=2, max_rounds=24)
    ckpt = str(tmp_path_factory.mktemp("ckpt_status"))
    eng1 = CrawlEngine(spark, fix_dir, ckpt, replace(cfg, max_rounds=2))
    eng1.run()

    # --- interrupted: plan not done, ledger internally consistent
    (plan_name, done), = eng1.plan_status().items()
    assert not done
    ledger = {r.task_url: r for r in eng1.story_status().collect()}
    assert ledger and all(
        r.story_state in ("left", "doing", "done") for r in ledger.values()
    )
    n_fetch_events = eng1.fetch_log().filter(F.col("status") == ST_FETCHED).count()
    assert sum(r.n_fetched for r in ledger.values()) == n_fetch_events
    pending_now = eng1.story_status().agg(F.sum("n_pending")).first()[0]
    assert pending_now > 0  # interrupted mid-crawl: work remains
    doing = eng1.stories_doing(statistics=True)
    assert doing["count"] == sum(
        1 for r in ledger.values() if r.story_state == "doing"
    )
    for stats in doing["data"].values():
        assert stats["n_pending"] > 0 and stats["n_attempted"] > 0

    # --- task detail: every story's tasks start with a submission event
    some_story = next(iter(sorted(ledger)))
    tasks = eng1.story_tasks(some_story)
    assert tasks
    for events in tasks.values():
        assert events[0][0] in ("submitted", "resubmitted", "recrawl")

    # --- resume to completion: everything drains (the last recycle-bin
    # generation retires in round 23; with only CFG's 12 rounds the plan
    # correctly stays not-done)
    eng2 = CrawlEngine(spark, fix_dir, ckpt, cfg)
    eng2.run(resume=True)
    assert eng2.plan_status() == {plan_name: True}
    assert eng2.stories_left() == {"count": 0, "data": []}
    assert eng2.stories_doing() == {"count": 0, "data": []}
    final = eng2.story_status()
    assert final.filter(F.col("story_state") != "done").count() == 0
    assert final.agg(F.sum("n_pending")).first()[0] == 0


def test_emulator_feed_flow_golden(engine_run, golden):
    """Second script family (infinite-scroll feed): registry dispatch,
    cursor-chained continuation and end-of-feed must reproduce the simulator
    exactly through the full engine dataflow."""
    eng, _ = engine_run
    eng_feed = {
        (r["url"], tuple(tuple(x) for x in r["records"]))
        for r in eng.story_results().filter("extractor = 'feed'").collect()
    }
    sim_feed = {
        (r["url"], tuple(tuple(x) for x in r["records"]))
        for r in golden.story_results
        if r["extractor"] == "feed"
    }
    assert eng_feed == sim_feed
    assert len(sim_feed) > 0
    # the flow actually followed load-more cursors past the seed chunk
    assert any("cursor=1" in u for u, _ in sim_feed)


# Spark jobs of one 4-round crawl of the 96-page fixture after a one-round
# warm-up crawl (the session's first crawl issues a few more), under the
# session in conftest.py (local[4], 8 shuffle partitions).  A change that
# adds a job to the crawl fails here; one that removes jobs lowers the pin.
JOBS_PER_CRAWL = 145


def test_jobs_per_crawl_pinned(spark, tmp_path):
    from crawler_spark.plans.engine import CrawlEngine

    fix = str(tmp_path / "fix")
    generate(fix, n_pages=96, n_hosts=4, seed=7)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
        return set(tracker.getJobIdsForGroup())

    def crawl(name, rounds):
        before = jobs()
        cfg = CrawlConfig(max_rounds=rounds)
        assert CrawlEngine(spark, fix, str(tmp_path / name), cfg).run()["rounds"] == rounds
        return len(jobs() - before)

    crawl("warm", 1)
    assert crawl("pinned", 4) <= JOBS_PER_CRAWL
