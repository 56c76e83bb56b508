"""Structured-Streaming surfaces over the crawl state store (SURVEY.md §2.8).

The reference's runtime observability is poll-loop REST counters
(reference PlannerCurrentController.java, SavePointPlanner.java:195-216
plan-done reconciliation).  Spark-first, the same signals fall out of the
checkpoint directory itself: every round commits append-only delta tables
(fetch_log, task_trace, payload_log), so a file-source ``readStream`` over
them IS the live event stream of the crawl — no extra message bus.

Provided streams:

* ``fetch_metrics_stream``  — per-host / per-status tumbling-window counts
  with a watermark for late rounds (T2's await-timeout analog: a round that
  commits later than the watermark is consigned to the dead-letter path the
  batch engine already handles).
* ``dead_letter_alert_stream`` — recycle-bin pressure (U1): the task
  trace's death events (``detail`` not null) per reason.
* ``run_stream_to_memory``  — test/driver helper: drains a stream with the
  availableNow trigger into an in-memory table and returns the rows.

These run against the SAME parquet the batch rounds commit — streaming and
batch share one storage contract, the Structured-Streaming unification the
reference's Redis queues cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "fetch_log_stream",
    "fetch_metrics_stream",
    "dead_letter_alert_stream",
    "run_stream_to_memory",
]

_FETCH_LOG_SCHEMA = (
    "round int, host string, rank int, url string, status string, attempt int, "
    "redirected boolean, repaired_url string, proxy_ip string, "
    "status_line string, event_epoch double"
)
_TRACE_SCHEMA = (
    "round int, url string, task_url string, state string, attempt int, "
    "generation int, detail string"
)


def _committed_frontier(ckpt_dir: str) -> int:
    """Latest COMMITTED round — the stream's visibility gate.

    The batch readers honor the MANIFEST atomic-commit point; a raw file
    glob would also see torn rounds (files written, crash before manifest)
    and, after clean_uncommitted + rewrite, double-count them through the
    file-source checkpoint.  Streams therefore filter to rounds ≤ the commit
    frontier AT STREAM START — exact for the availableNow drains used here;
    a continuous tail should be restarted per round (or the round dirs
    staged+renamed) to advance the gate.
    """
    from crawler_spark.sources import snapshots as snap

    last = snap.latest_round(ckpt_dir)
    return -1 if last is None else last


def fetch_log_stream(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """File-source stream of fetch_log deltas, gated to committed rounds."""
    return (
        spark.readStream.schema(_FETCH_LOG_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{ckpt_dir}/round=*/fetch_log")
        .filter(F.col("round") <= F.lit(_committed_frontier(ckpt_dir)))
    )


def fetch_metrics_stream(
    spark: SparkSession, ckpt_dir: str, window: str = "1 minute", late: str = "2 minutes"
) -> DataFrame:
    """Windowed per-host/status fetch counts with a REAL event-time watermark.

    Event time comes from the row itself: fetch_log's ``event_epoch`` column
    carries the round epoch as raw seconds (F6 stamping, plans/engine.py).
    Rounds are the engine's clock, so windows group rounds deterministically
    and the watermark expires state for rounds older than ``late`` — the same
    late-data bound T2 puts on task waits.  (Round 1 used
    ``current_timestamp()`` — a processing-time stand-in, not a watermark;
    round 2 re-parsed the formatted ``status_line`` stamp, which is
    session-timezone-dependent and breaks in DST gaps/overlaps.)
    """
    log = fetch_log_stream(spark, ckpt_dir).withColumn(
        "event_ts", F.timestamp_seconds(F.col("event_epoch"))
    )
    return (
        log.withWatermark("event_ts", late)
        .groupBy(F.window("event_ts", window), "host", "status")
        .agg(F.count("*").alias("n"), F.max("round").alias("last_round"))
    )


def dead_letter_alert_stream(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Streaming recycle-bin pressure: counts per dead reason (U1/P3) over
    the task trace's death events, the rows ``CrawlEngine.dead_letter()``
    reads."""
    dead = (
        spark.readStream.schema(_TRACE_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{ckpt_dir}/round=*/task_trace")
        .filter(F.col("round") <= F.lit(_committed_frontier(ckpt_dir)))
        .filter(F.col("detail").isNotNull())
    )
    return dead.groupBy(F.col("detail").alias("reason")).agg(
        F.count("*").alias("n"), F.max("round").alias("last_round")
    )


def run_stream_to_memory(
    stream: DataFrame, name: str, complete: bool = True, mode: str | None = None
) -> list:
    """Drain all currently-available data (availableNow trigger) into an
    in-memory sink and return the collected rows — the deterministic test/
    driver path for the streams above.  ``mode`` overrides the output mode
    (stateful operators require 'update')."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode or ("complete" if complete else "append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream.sparkSession
    return spark.sql(f"SELECT * FROM {name}").collect()
