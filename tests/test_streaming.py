"""Structured-Streaming metrics over the crawl checkpoint (SURVEY.md §2.8):
the stream must see exactly the rows the batch rounds committed."""

import pytest
from pyspark.sql import functions as F

from crawler_spark.fixtures import generate
from crawler_spark.plans.policy import CrawlConfig


@pytest.fixture(scope="module")
def crawl_ckpt(spark, tmp_path_factory):
    from crawler_spark.plans.engine import CrawlEngine

    fix = str(tmp_path_factory.mktemp("sfix"))
    generate(fix, n_pages=128, n_hosts=4, seed=11)
    ckpt = str(tmp_path_factory.mktemp("sckpt"))
    eng = CrawlEngine(spark, fix, ckpt, CrawlConfig(max_rounds=4))
    eng.run()
    return eng, ckpt


def test_fetch_metrics_stream_matches_batch(spark, crawl_ckpt):
    from crawler_spark.streaming.metrics import fetch_metrics_stream, run_stream_to_memory

    eng, ckpt = crawl_ckpt
    rows = run_stream_to_memory(fetch_metrics_stream(spark, ckpt), "fm_test")
    streamed = sum(r.n for r in rows)
    batch = eng.fetch_log().count()
    assert streamed == batch
    # per-(host,status) counts agree with the batch view
    agg = {}
    for r in rows:
        agg[(r.host, r.status)] = agg.get((r.host, r.status), 0) + r.n
    for b in eng.fetch_log().groupBy("host", "status").count().collect():
        assert agg[(b.host, b.status)] == b["count"]


def test_fetch_metrics_event_time_windows_align_to_rounds(spark, crawl_ckpt):
    """The watermark column is REAL event time: status_line embeds the round
    epoch (1704067200 + round*round_seconds, engine F6 stamping), so an
    8-second tumbling window puts each round in exactly its own window with
    start == the round's epoch."""
    from crawler_spark.streaming.metrics import fetch_metrics_stream, run_stream_to_memory

    eng, ckpt = crawl_ckpt
    rows = run_stream_to_memory(
        fetch_metrics_stream(spark, ckpt, window="8 seconds"), "fm_evt"
    )
    assert rows, "stream produced no windows"
    for r in rows:
        start_epoch = int(r.window.start.timestamp())
        # 8s windows ⇒ the group's max(round) IS the window's only round
        assert start_epoch == 1704067200 + 8 * r.last_round
    streamed = sum(r.n for r in rows)
    assert streamed == eng.fetch_log().count()


def test_host_circuit_breaker_matches_batch_golden(spark, crawl_ckpt):
    """The stateful breaker's final per-host state must equal a driver-side
    recompute over the batch fetch_log (same ordering, same streak rule)."""
    from crawler_spark.streaming.metrics import fetch_log_stream, run_stream_to_memory
    from crawler_spark.streaming.stateful import FAIL_STATUSES, host_circuit_breaker

    eng, ckpt = crawl_ckpt
    rows = run_stream_to_memory(
        host_circuit_breaker(fetch_log_stream(spark, ckpt), threshold=2),
        "cb_test",
        mode="update",
    )
    # update-mode sink may hold one row per trigger; keep the latest per host
    final = {}
    for r in rows:
        if r.host not in final or r.rows_seen > final[r.host].rows_seen:
            final[r.host] = r

    batch = sorted(
        eng.fetch_log().select("host", "round", "rank", "url", "status").collect(),
        key=lambda r: (r.host, r.round, r.rank, r.url),
    )
    golden = {}
    for r in batch:
        consec, max_streak, n = golden.get(r.host, (0, 0, 0))
        consec = consec + 1 if r.status in FAIL_STATUSES else 0
        golden[r.host] = (consec, max(max_streak, consec), n + 1)

    assert set(final) == set(golden)
    for host, (consec, max_streak, n) in golden.items():
        got = final[host]
        assert (got.consec_fail, got.max_streak, got.rows_seen) == (consec, max_streak, n)
        assert got.tripped == (max_streak >= 2)


def test_dead_letter_alert_stream(spark, crawl_ckpt):
    from crawler_spark.streaming.metrics import dead_letter_alert_stream, run_stream_to_memory

    eng, ckpt = crawl_ckpt
    assert eng.dead_letter().limit(1).count() == 1
    rows = run_stream_to_memory(dead_letter_alert_stream(spark, ckpt), "dl_test")
    streamed = {r.reason: r.n for r in rows}
    batch = {
        r.reason: r.n
        for r in eng.dead_letter().groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    assert streamed == batch
