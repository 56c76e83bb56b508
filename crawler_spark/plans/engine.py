"""The crawl engine: deterministic, resumable DataFrame batch rounds.

Spark-first re-expression of the reference's poll-loop dataflow
(SURVEY.md §3.2): one ROUND =

  frontier ─ politeness-ranked fetch batch (operators.politeness, O1/T4)
           ─ synthetic fetch join against the page table (S3; equi-join —
             in production this is the mapInPandas HTTP fetcher)
           ─ extraction stage (P1/P2 + registry §2.9): vectorized pandas UDF
             over the fetched HTML, dispatched by the ``extractor`` column;
             produces out-links, the next-page URL, the anti flag, and
             structdata records FROM CONTENT (functions.extract; reference
             RawDataExtractor.java:100-103, PagingExtractor.java:64-87,
             ContentExtractor.java:35-59); ``landing`` comes from a
             broadcast rules join (J1, TaskWorker.java:222-226)
           ─ status classification (P3/P5/J4 as when/otherwise columns,
             constants from plans.policy)
           ─ frontier expansion (pipeline-landing tasks only, K6/O3):
             explode(out_links) + paging chain → prepare_url pandas UDF (F1)
             → robots filter → bloom+anti-join dedup (U2) → admitted with
             wave = round+1
           ─ atomic snapshot commit (sources.snapshots, T6/T7): frontier,
             url_seen Δ, dead_letter Δ, fetch_log Δ, story_results Δ,
             per-partition lineage Δ

The reference's per-URL poller threads (TaskWorker.java:174-190) become
iteration over rounds; its Redis queues become the frontier table; its
savepoint (SavePointPlanner.java:174-183) becomes the round manifest.
Recycle-bin re-drive (U1, SavePointPlanner.java:106-126) triggers when the
frontier drains: retriable dead tasks re-enter as generation+1, capped at
MAX_BIN_GENERATIONS.

Scale discipline (axes A+B):
* frontier rows carry only url/keys — image bytes NEVER enter the loop
  (payload verification joins the images table by image_id at the end).
* every state read comes from the previous round's parquet — plan lineage
  stays O(1) per round, no unbounded DAG growth.
* politeness ranking is the two-phase salted window; dedup is bloom-pruned
  anti-join; robots and the bloom directory are broadcast.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.functions.urlnorm import prepare_url_udf
from crawler_spark.operators import dedup as dd
from crawler_spark.operators.politeness import select_fetch_batch
from crawler_spark.plans import policy as P
from crawler_spark.plans.policy import CrawlConfig
from crawler_spark.sources import snapshots as snap

# task_url = the task owning this row's page chain (a next-page row belongs
# to the task that discovered it — TaskWorker.java:92-104 follows the chain
# inside one task); exporters group story results by it (A1).
# cookies = the task's Cookie header string ("k=v; k2=v2", "" = none) — the
# reference builds each request with Task.cookies (BackLogFetcher.java:
# 122-127); page chains and discovered children inherit the task's cookies.
FRONTIER_COLS = [
    "url", "host", "wave", "priority", "page_idx", "attempt", "generation",
    "task_url", "cookies",
]
SAT_CHECK_EVERY = 8  # rounds between bloom saturation sweeps (cheap, periodic)
# recycle-bin re-drive picks these up (TIMEOUTED tasks go to the bin too,
# StoryWorker.java:193-196)
_RETRIABLE = ("fetch_retries_exhausted", "anti_retries_exhausted", "timeout")


def rows_digest(df: DataFrame, cols: list[str]) -> int:
    """Order-independent digest of the multiset of ``df``'s rows over
    ``cols``: the row count and the sum of the rows' 64-bit hashes modulo
    2^64, packed as ``count << 64 | sum``.  A duplicated row changes it (an
    xor of hashes cancels pairs), and a null field hashes as a sentinel (so
    rows that differ only in which field is null stay distinct)."""
    key = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\u2205")) for c in cols]
    )
    n, total = df.agg(
        F.count("*"), F.sum(F.xxhash64(key).cast("decimal(38,0)"))
    ).first()
    return n << 64 | int(total or 0) % (1 << 64)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        fix_dir: str,
        ckpt_dir: str,
        cfg: Optional[CrawlConfig] = None,
        use_bloom: bool = True,
        bloom_buckets: int = 256,
        bloom_fpp: float = 0.01,
        seen_filter: str = "bloom",
        ingest_payloads: bool = False,
        compact_every: int = 16,
        proxy_pool: Optional[list] = None,
        trace_tasks: bool = True,
        seed_source: str = "files",
        seeds_df: Optional[DataFrame] = None,
    ):
        self.spark = spark
        self.fix_dir = fix_dir
        self.ckpt_dir = ckpt_dir
        # "files" reads seeds.parquet (reference S1/S2); "sitemaps" resolves
        # the fixture's sitemap tree (sources.sitemaps); "robots" runs the
        # FULL web-native discovery chain — robots.txt bodies → RFC 9309
        # `Sitemap:` directives → sitemap tree → seeds (requires a raw-body
        # robots.parquet).  Fixtures encode seed order in lastmod so all
        # sources yield the identical frontier (golden-tested).  Sitemap
        # seeds carry no cookies (the protocol has no such field).
        if seed_source not in ("files", "sitemaps", "robots"):
            raise ValueError(
                f"seed_source must be 'files', 'sitemaps' or 'robots', got {seed_source!r}")
        self.seed_source = seed_source
        # direct seed intake (overrides seed_source): a DataFrame with the
        # seeds.parquet contract (seed_id, url[, cookies]) — the incremental
        # recrawl path feeds operators.warc.refetch_seeds(cdx_diff(...)) here
        self.seeds_df = seeds_df
        self.cfg = cfg or CrawlConfig()
        self.use_bloom = use_bloom
        self.bloom_buckets = bloom_buckets
        self.bloom_fpp = bloom_fpp
        # pluggable URL-seen fast path (north rule: "Bloom/cuckoo") — both
        # prune the exact anti-join identically; cuckoo additionally supports
        # member deletion (recrawl expiry, operators/cuckoo.expire_for_recrawl)
        if seen_filter == "bloom":
            self._seen_ops = dd.BLOOM_OPS
        elif seen_filter == "cuckoo":
            from crawler_spark.operators.cuckoo import CUCKOO_OPS

            self._seen_ops = CUCKOO_OPS
        else:
            raise ValueError(f"seen_filter must be 'bloom' or 'cuckoo', got {seen_filter!r}")
        # fold url_seen's delta history into a full snapshot every K rounds
        # (read_deltas then unions O(K) dirs instead of O(rounds) — the
        # file-listing/plan-width fix for thousand-round crawls); 0 disables
        self.compact_every = compact_every
        # ingest-time payload processing: decode + phash + PSNR invariants run
        # inside the round for every FETCHED image (crawl-time near-dup phash
        # is the image-crawler analog of U2 over payloads); results land in
        # the per-round payload_log delta
        self.ingest_payloads = ingest_payloads
        # per-task trace (reference worker.trace, Crawlers.java:80): one
        # append-only event per task state change — submitted / per-attempt
        # fetch status (death reason in ``detail``) / TIMEOUT / resubmitted —
        # as a per-round delta; execution_paths() is the readback
        # (SavePointPlanner.java:248-266 reads paths from the trace)
        self.trace_tasks = trace_tasks
        # per-bucket Bloom bits as a DataFrame beside the checkpoint — built,
        # updated, and probed executor-side (never collected or broadcast)
        self._bloom: Optional[DataFrame] = None
        self._bloom_round: Optional[int] = None  # round of the last WRITTEN bloom
        self._bloom_dirty = False  # un-materialized rebuild lineage pending
        # page table: the synthetic web. NOTE: no image bytes here — payload
        # stays in images.parquet, joined only by verify_payloads().
        self.pages = (
            spark.read.parquet(os.path.join(fix_dir, "pages.parquet"))
            .withColumn("known", F.lit(True))
            .cache()
        )
        robots = spark.read.parquet(os.path.join(fix_dir, "robots.parquet"))
        if "disallow_prefixes" not in robots.columns and "robots_txt" in robots.columns:
            # raw-body ingestion path: fetched /robots.txt text per host →
            # structured politeness table (functions.robots, north-rule T4)
            from crawler_spark.functions.robots import robots_table_from_bodies

            robots = robots_table_from_bodies(robots)
        self.robots = robots.cache()
        # extractor registry (§2.9): selector rules ride the UDF closure
        # (tiny, per-story in the reference); landing joins in via broadcast
        from crawler_spark.functions.extract import fetch_parse_udf

        rules_df = spark.read.parquet(os.path.join(fix_dir, "rules.parquet"))
        self.rules = {r["extractor"]: r.asDict() for r in rules_df.collect()}
        self._parse = fetch_parse_udf(self.rules)
        self._landing = rules_df.select("extractor", "landing").cache()
        self._images: Optional[DataFrame] = None
        self._images_index: Optional[DataFrame] = None
        # proxy pool (S5/J6): every fetch is assigned a pool member via the
        # deterministic url-keyed pick (operators.proxy.assign_proxy); the
        # assignment rides the fetch log as ``proxy_ip`` — the reference's
        # rawdata carries the fetching ``ip`` (BackLogFetcher.java:221-239).
        self._proxy_ips = sorted(set(proxy_pool)) if proxy_pool else []
        self._proxy_n = len(self._proxy_ips)
        self._proxy_pool_df: Optional[DataFrame] = None
        if self._proxy_n:
            from crawler_spark.operators.proxy import pool_df

            self._proxy_pool_df = pool_df(spark, self._proxy_ips).cache()

    @property
    def images(self) -> DataFrame:
        """Payload table, loaded lazily — bytes never enter the frontier loop."""
        if self._images is None:
            self._images = self.spark.read.parquet(os.path.join(self.fix_dir, "images.parquet"))
        return self._images

    @property
    def images_index(self) -> DataFrame:
        """(image_id, path) — which payload file holds each image.

        Built from a bytes-free column-pruned scan and cached; it is the ONLY
        payload metadata the JVM ever holds. Payload bytes are read directly
        by Python tasks (functions.imaging.payload_check_group)."""
        if self._images_index is None:
            self._images_index = (
                self.images.select("image_id")
                .withColumn("path", F.input_file_name())
                .cache()
            )
        return self._images_index

    # ------------------------------------------------------------------ init

    def _seed_frontier(self) -> DataFrame:
        """Seeds → wave-0 frontier (S1; priority = seed order, O2 slicing)."""
        if self.seeds_df is not None:
            seeds = self.seeds_df
        elif self.seed_source == "sitemaps":
            from crawler_spark.sources.sitemaps import fixture_seed_table

            seeds = fixture_seed_table(self.spark, self.fix_dir)
        elif self.seed_source == "robots":
            # full discovery chain: robots.txt bodies → Sitemap: directives
            # → sitemap tree → seeds (the order a real crawl runs in)
            from crawler_spark.sources.sitemaps import (
                expand_sitemap_tree, roots_from_robots, seeds_from_sitemaps)

            raw = self.spark.read.parquet(os.path.join(self.fix_dir, "robots.parquet"))
            if "robots_txt" not in raw.columns:
                raise ValueError(
                    "seed_source='robots' needs a raw-body robots.parquet "
                    "(robots_txt column) carrying Sitemap: directives")
            bodies = self.spark.read.parquet(
                os.path.join(self.fix_dir, "sitemaps.parquet"))
            seeds = seeds_from_sitemaps(
                expand_sitemap_tree(bodies, roots_from_robots(raw)))
        else:
            seeds = self.spark.read.parquet(os.path.join(self.fix_dir, "seeds.parquet"))
        cookies = (
            F.coalesce(F.col("cookies"), F.lit(""))
            if "cookies" in seeds.columns
            else F.lit("")
        )
        rows = (
            seeds.withColumn("priority", F.col("seed_id").cast("long"))
            .withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
            .withColumn("wave", F.lit(0))
            .withColumn("page_idx", F.lit(0))
            .withColumn("attempt", F.lit(0))
            .withColumn("generation", F.lit(0))
            .withColumn("task_url", F.col("url"))
            .withColumn("cookies", cookies)
            .select(*FRONTIER_COLS)
        )
        return self._robots_allow(rows).dropDuplicates(["url"])

    def _robots_allow(self, df: DataFrame) -> DataFrame:
        """Drop rows disallowed by robots prefixes for their host (T4)."""
        rb = F.broadcast(self.robots.select("host", "disallow_prefixes"))
        path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit(""))
        blocked = F.exists(
            F.coalesce(F.col("disallow_prefixes"), F.array()),
            lambda p: path.startswith(p),
        )
        return (
            df.join(rb, "host", "left")
            .filter(F.col("host").isNotNull() & ~blocked)
            .drop("disallow_prefixes")
        )

    # ----------------------------------------------------------------- round

    def _classify(self, batch: DataFrame) -> DataFrame:
        """Fetch + extract + classify: join the web, parse content, derive
        status/retry/dead_reason.

        The extraction stage (P1/P2) recovers out-links / next-page URL /
        anti flag / structdata from the fetched HTML in one Arrow pass,
        dispatched by the page's ``extractor``; classification is a column
        mirror of policy.classify_fetch (same constants; equivalence is
        pinned by the golden simulator test, which extracts with the same
        scalars).
        """
        cfg = self.cfg
        # One fused pandas-UDF stage (functions.extract.fetch_parse_udf)
        # carries ALL the round's per-row Python: emulator routing/rendering
        # (S4 — search URLs render via the scripted browser instead of the
        # page-table join, reference EMULATOR_BACKLOG Crawlers.java:51 /
        # TaskWorker.java:156), extraction dispatch (P1/P2), and 302
        # detect/repair (P7 — the reference computes the repair but its
        # resubmit branch is dead code; we record it in the fetch log).
        joined = (
            batch.join(self.pages, "url", "left")
            .withColumn(
                "fx",
                self._parse(
                    F.col("url"), F.col("redirect_url"), F.col("content"),
                    F.col("extractor"), F.coalesce(F.col("cookies"), F.lit("")),
                ),
            )
            .withColumn("known", F.col("fx.known"))
            .withColumn("extractor", F.col("fx.extractor"))
            .join(F.broadcast(self._landing), "extractor", "left")
            .withColumn("out_links", F.col("fx.links"))
            .withColumn("next_page_url", F.col("fx.next_url"))
            .withColumn("anti", F.col("fx.anti"))
            .withColumn("records", F.col("fx.records"))
            .withColumn("redirected", F.coalesce(F.col("fx.redirected"), F.lit(False)))
            .withColumn("repaired_url", F.col("fx.repaired_url"))
            .drop("fx", "content")
        )
        # J6: assign each fetch a proxy-pool member (broadcast join on the
        # deterministic pick; NULL column when no pool = direct fetch)
        if self._proxy_pool_df is not None:
            from crawler_spark.operators.proxy import assign_proxy

            joined = assign_proxy(joined, self._proxy_pool_df, n=self._proxy_n)
        else:
            joined = joined.withColumn("proxy_ip", F.lit(None).cast("string"))
        known = F.coalesce(F.col("known"), F.lit(False))
        fail_count = F.coalesce(F.col("fail_count"), F.lit(0))
        anti = F.coalesce(F.col("anti"), F.lit(False))
        status = (
            F.when(~known, F.lit(P.ST_NO_CONTENT))
            .when(F.col("attempt") < fail_count, F.lit(P.ST_FAILED))
            .when(anti, F.lit(P.ST_ANTI))
            .otherwise(F.lit(P.ST_FETCHED))
        )
        retry = (
            (F.col("status") == P.ST_FAILED) & (F.col("attempt") + 1 < cfg.max_fetch_retries)
        ) | ((F.col("status") == P.ST_ANTI) & (F.col("attempt") + 1 < cfg.max_anti_retries))
        dead_reason = (
            F.when(F.col("status") == P.ST_NO_CONTENT, F.lit("no_content"))
            .when((F.col("status") == P.ST_FAILED) & ~F.col("retry"), F.lit("fetch_retries_exhausted"))
            .when((F.col("status") == P.ST_ANTI) & ~F.col("retry"), F.lit("anti_retries_exhausted"))
        )
        return (
            joined.withColumn("status", status)
            .withColumn("retry", retry)
            .withColumn("dead_reason", dead_reason)
        )

    def _expand(self, fetched: DataFrame, rnd: int) -> DataFrame:
        """Out-links + paging chain → deduped admission candidates (K6/O3/U2).

        Only pipeline-landing tasks feed the frontier (the reference routes
        results to the exporter named by ``landing``; only
        PipelineResultExporter writes URLs back, K6)."""
        cfg = self.cfg
        children = (
            fetched.filter(F.col("landing") == "pipeline")
            .select(
                F.col("url").alias("base"), F.explode("out_links").alias("href"),
                "generation", "cookies",
            )
            .withColumn("curl", prepare_url_udf()(F.col("base"), F.col("href")))
            .select(
                F.col("curl").alias("url"),
                F.lit(0).alias("page_idx"),
                "generation",
                F.col("curl").alias("task_url"),  # a discovered link starts its own task
                "cookies",  # …under the discovering story's cookie config
                F.col("base").alias("src_page"),  # in-degree attribution only
            )
        )
        if cfg.priority_mode == "indegree":
            # OPIC-lite: priority = PRIORITY_CHILD - min(indegree, cap), where
            # indegree = distinct discovering pages this round.  One groupBy on
            # the same key the dedup below shuffles on; within a (host, wave)
            # politeness window, heavily-cited children now fetch first.
            children = (
                children.groupBy("url")
                .agg(
                    F.countDistinct("src_page").alias("_indeg"),
                    F.min(
                        F.struct("page_idx", "generation", "task_url", "cookies")
                    ).alias("b"),
                )
                .select(
                    "url",
                    (
                        F.lit(P.PRIORITY_CHILD)
                        - F.least(F.col("_indeg"), F.lit(P.INDEGREE_PRIORITY_CAP))
                    ).cast("long").alias("priority"),
                    "b.page_idx", "b.generation", "b.task_url", "b.cookies",
                )
            )
        else:
            children = children.drop("src_page").withColumn(
                "priority", F.lit(P.PRIORITY_CHILD).cast("long")
            )
        nexts = fetched.filter(
            F.col("next_page_url").isNotNull() & (F.col("page_idx") < cfg.page_down_count)
        ).select(
            F.col("next_page_url").alias("url"),
            F.col("priority"),
            (F.col("page_idx") + 1).alias("page_idx"),
            "generation",
            "task_url",  # the chain stays inside the discovering task
            "cookies",
        )
        # first-submission-wins inside the round:
        # min (priority, page_idx, generation, task_url, cookies)
        cands = (
            children.unionByName(nexts)
            .groupBy("url")
            .agg(
                F.min(
                    F.struct("priority", "page_idx", "generation", "task_url", "cookies")
                ).alias("b")
            )
            .select("url", "b.priority", "b.page_idx", "b.generation", "b.task_url", "b.cookies")
            .withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
            .withColumn("wave", F.lit(rnd + 1))
            .withColumn("attempt", F.lit(0))
        )
        return self._robots_allow(cands).select(*FRONTIER_COLS)

    def _admit(self, candidates: DataFrame, url_seen: DataFrame) -> dd.Admission:
        """Admitted candidates, persisted and counted, plus the next URL-seen
        filter (lazy: the commit write is its single materialization)."""
        cands = dd.with_url_hash(candidates)
        if self.use_bloom and self._bloom is not None:
            return self._seen_ops.admit(
                cands, url_seen, self._bloom, self.bloom_buckets, self.bloom_fpp
            )
        return dd.counted(dd.admit_new_exact(cands, url_seen))

    def _bloom_init(self, url_seen: DataFrame, resume_round: Optional[int]) -> None:
        """Load the persisted Bloom table (resume) or build it from url_seen.

        Resume is COMPATIBILITY-CHECKED: the committing run records
        (bloom_format, bloom_buckets) in the round manifest; any mismatch —
        different bucketing would make pmod(url_hash, n) disagree with the
        persisted bits and produce false NEGATIVES — falls back to a full
        rebuild from url_seen.  (Round 1 pickled a driver-side dict with no
        check; state is now a plain parquet table, no pickle surface.)

        After init the filter is INCREMENTAL: each round's admission pass
        ORs only the admitted delta's hashes into the bucket bits (O(Δ),
        executor-side).
        """
        if not self.use_bloom:
            return
        if resume_round is not None:
            meta = (snap.read_manifest(self.ckpt_dir, resume_round) or {}).get("meta", {})
            compatible = (
                meta.get("bloom_format") == self._seen_ops.format_id
                and meta.get("bloom_buckets") == self.bloom_buckets
            )
            if compatible:
                try:
                    # rounds with nothing new to fold skip the bloom write and
                    # point at the last materialized table via meta.bloom_round
                    bloom_round = int(meta.get("bloom_round", resume_round))
                    self._bloom = snap.read_full(
                        self.spark, self.ckpt_dir, "bloom", bloom_round
                    )
                    self._bloom_round = bloom_round
                    return
                except Exception:
                    pass  # missing/torn table → rebuild below
        self._bloom = self._seen_ops.build(url_seen, self.bloom_buckets, self.bloom_fpp)

    def _bloom_maybe_rebuild(self, url_seen: DataFrame, rnd: int) -> None:
        """Periodic saturation sweep over the COMMITTED bloom table (tiny —
        ≤ n_buckets rows read back from parquet, so the check costs one
        trivial job every SAT_CHECK_EVERY rounds, not a full-DAG job every
        round).  A saturated bucket (n_items > capacity ⇒ degraded fpp,
        never wrong answers) is rebuilt from url_seen with count-derived
        capacity; the rebuild lineage materializes inside the NEXT round's
        commit."""
        if not (self.use_bloom and self._bloom is not None):
            return
        if rnd % SAT_CHECK_EVERY != SAT_CHECK_EVERY - 1:
            return
        sat = [
            r["bucket"]
            for r in self._bloom.filter(F.col("n_items") > F.col("capacity"))
            .select("bucket")
            .collect()
        ]
        if not sat:
            return
        rebuilt = self._seen_ops.build(
            dd.with_bucket(url_seen.select("url_hash"), self.bloom_buckets)
            .filter(F.col("bucket").isin(sat))
            .drop("bucket"),
            self.bloom_buckets,
            self.bloom_fpp,
        )
        self._bloom = self._bloom.filter(~F.col("bucket").isin(sat)).unionByName(rebuilt)
        self._bloom_dirty = True  # force the next commit to materialize the rebuild

    PAYLOAD_SCHEMA = (
        "image_id string, decode_ok boolean, shape_ok boolean, phash_ok boolean, psnr_db double"
    )

    def _payload_check(self, ids: DataFrame) -> DataFrame:
        """Direct-read payload invariant pass over a DF of image_ids.

        Spark shuffles only (image_id, path) strings grouped per payload
        file; each Python task then reads its file straight via pyarrow and
        decodes the requested ids (payload_check_group).  Image bytes never
        enter the JVM — the JVM row→Arrow pipe measurably caps binary
        throughput and collapses under skew, while direct columnar reads
        scale linearly with cores.  File-level grouping is the parallelism
        unit, so payload tables should be written with ≥ cluster-core shards
        (fixtures.generate image_shards)."""
        from crawler_spark.functions.imaging import payload_check_group

        lookup = ids.join(self.images_index, "image_id").select("image_id", "path")
        # EXPLICIT repartition: the shuffle feeding the decode UDF is a few MB
        # of id/path strings, so AQE's size-based coalescing would collapse it
        # to one partition and serialize the (CPU-heavy) per-file decode work.
        # Parallelism here must follow file-group count, not shuffle bytes; a
        # high multiplier keeps the hash balls-in-bins imbalance (several
        # whole-file groups landing in one partition) from creating stragglers.
        n_parts = max(8 * self.spark.sparkContext.defaultParallelism, 1)
        lookup = lookup.repartition(n_parts, F.col("path"))
        return lookup.groupBy("path").applyInPandas(
            lambda pdf: payload_check_group(pdf), self.PAYLOAD_SCHEMA
        )

    def _payload_log(self, fetched: DataFrame, rnd: int) -> DataFrame:
        """Ingest-time payload pass: decode + phash + PSNR invariants for this
        round's fetched images, as a per-round delta table."""
        ids = fetched.select("image_id").distinct()
        return self._payload_check(ids).withColumn("round", F.lit(rnd))

    def _wparts(self, n_rows: int, cached: bool = True, rows_per_file: int = 1 << 20) -> int:
        """Output-file count for a committed table of ~n_rows narrow rows —
        the Iceberg write.target-file-size idea expressed as coalesce.

        Per-round deltas are tiny relative to the cluster (a round commits
        O(batch) rows), so writing them at shuffle-partition fan-out produces
        cores×tables small files EVERY round: a file-explosion at thousand-
        round scale and ~30 near-empty write tasks per table at bench scale
        (measured: the per-task fixed cost dominated the whole commit).
        coalesce never *increases* partitions, so large tables (> rows_per_file
        per file) keep their natural write parallelism.

        cached=False marks a table whose upstream is NOT a persisted
        DataFrame (frontier bookkeeping: parquet scan + broadcast join;
        url_seen history fold on compact rounds).  coalesce folds the whole
        narrow chain into the write tasks, so collapsing those to
        ceil(rows/1M) files would also SERIALIZE the real upstream compute —
        floor them at the cluster's core count instead.  At 100 TB the
        row-based count exceeds the floor anyway, so the floor only matters
        exactly where it should: small tables with non-trivial lineage."""
        parts = n_rows // rows_per_file + 1
        if not cached:
            parts = max(parts, self.spark.sparkContext.defaultParallelism)
        return max(1, parts)

    def _redrive(self, dead: Optional[DataFrame], rnd: int) -> Optional[DataFrame]:
        """Recycle-bin re-drive (U1): max-generation retriable deaths, gen<cap."""
        if dead is None:
            return None
        latest = (
            dead.groupBy("url")
            .agg(F.max(F.struct("generation", "reason")).alias("m"))
            .select("url", "m.generation", "m.reason")
        )
        red = latest.filter(
            F.col("reason").isin(*_RETRIABLE) & (F.col("generation") < P.MAX_BIN_GENERATIONS)
        )
        out = (
            red.withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
            .withColumn("wave", F.lit(rnd))
            .withColumn("priority", F.lit(P.PRIORITY_CHILD).cast("long"))
            .withColumn("page_idx", F.lit(0))
            .withColumn("attempt", F.lit(0))
            .withColumn("generation", F.col("generation") + 1)
            .withColumn("task_url", F.col("url"))  # re-driven task restarts its chain
            # the bin stores (url, reason, generation) only — a re-driven task
            # restarts without cookies, like a fresh plan of the bare URL
            .withColumn("cookies", F.lit(""))
            .select(*FRONTIER_COLS)
        )
        return out

    def _trace_events(self, df: DataFrame, rnd: int, state, attempt=None, detail=None):
        """Project a frontier/classified-shaped DF into task_trace rows."""
        return df.select(
            F.lit(rnd).alias("round"),
            "url",
            "task_url",
            (F.lit(state) if isinstance(state, str) else state).alias("state"),
            (F.lit(0) if attempt is None else F.col(attempt)).alias("attempt"),
            "generation",
            (F.lit(None).cast("string") if detail is None else F.col(detail)).alias(
                "detail"
            ),
        )

    def run(self, resume: bool = False) -> dict:
        spark, cfg = self.spark, self.cfg
        snap.clean_uncommitted(self.ckpt_dir)
        start_round = 0
        seed_seen: Optional[DataFrame] = None  # folded into the first commit's Δ
        pending_trace: Optional[DataFrame] = None  # events awaiting the next commit
        if resume and (last := snap.latest_round(self.ckpt_dir)) is not None:
            frontier = snap.read_full(spark, self.ckpt_dir, "frontier", last)
            url_seen = snap.read_deltas(spark, self.ckpt_dir, "url_seen", last)
            start_round = last + 1
            self._bloom_init(url_seen, last)
            if self.seeds_df is not None:
                # incremental refetch on a RESUMED crawl (seeds_df carries
                # warc.refetch_seeds(cdx_diff(...)) rows): like the TTL
                # recrawl sweep, stale URLs are resubmitted DIRECTLY at
                # PRIORITY_RECRAWL — membership stays truthful so the
                # Bloom/cuckoo fast path needs no surgery; an anti-join
                # against the pending frontier prevents double submission.
                refetch = (
                    self._seed_frontier()
                    .join(frontier.select("url"), "url", "left_anti")
                    .withColumn("wave", F.lit(start_round))
                    .withColumn("priority", F.lit(P.PRIORITY_RECRAWL))
                    .select(*FRONTIER_COLS)
                )
                frontier = frontier.unionByName(refetch)
                if self.trace_tasks:
                    pending_trace = self._trace_events(refetch, start_round, "recrawl")
        else:
            frontier = self._seed_frontier()
            url_seen = dd.with_url_hash(frontier.select("url")).withColumn(
                "round", F.lit(0)
            )
            seed_seen = url_seen
            self._bloom_init(url_seen, None)
            if self.trace_tasks:  # seed plan submission events (wave 0)
                pending_trace = self._trace_events(frontier, 0, "submitted")

        rnd = start_round
        # row-count ESTIMATES for output-file sizing (_wparts).  Upper bounds
        # are fine (they only add partitions); both grow by the admitted
        # delta each round, so no extra counting jobs in the loop.  On resume
        # the frontier holds only PENDING urls while url_seen holds the whole
        # crawl history — seeding seen_est from the frontier would undersize
        # the compact-round url_seen snapshot's file fan-out.
        frontier_est = frontier.count()
        seen_est = url_seen.count() if start_round > 0 else frontier_est
        summary = {
            "rounds": 0,
            "fetched": 0,
            "selected": 0,
            "dead": 0,
            "admitted": 0,
            "rounds_detail": [],  # per-round {round, selected, wall_s} incl. commit
        }
        while rnd < cfg.max_rounds:
            t0 = time.time()
            eligible = frontier.filter(F.col("wave") <= rnd)
            batch = select_fetch_batch(eligible, self.robots, cfg)
            classified = self._classify(batch).persist()
            # one materializing job returns every per-round tally the commit
            # planner needs (round 2 counted then re-aggregated per table)
            stats = classified.agg(
                F.count("*").alias("n"),
                F.sum(F.col("dead_reason").isNotNull().cast("long")).alias("n_dead"),
                F.sum((F.col("status") == P.ST_FETCHED).cast("long")).alias("n_fetched"),
            ).first()
            n_selected = stats["n"]
            n_dead_rows = stats["n_dead"] or 0
            n_fetched_rows = stats["n_fetched"] or 0
            if n_selected == 0:
                dead_all = snap.read_deltas(spark, self.ckpt_dir, "dead_letter", rnd)
                red = self._redrive(dead_all, rnd)
                n_red = red.count() if red is not None else 0
                if n_red == 0:
                    classified.unpersist()
                    break
                frontier = frontier.unionByName(red)
                if self.trace_tasks:  # recycle-bin re-drive events (U1)
                    ev = self._trace_events(red, rnd, "resubmitted")
                    pending_trace = (
                        ev if pending_trace is None else pending_trace.unionByName(ev)
                    )
                classified.unpersist()
                continue

            # streaming commit: every table whose input is already final
            # (the persisted classification) starts writing NOW, overlapping
            # the rest of the round's driver work (timeout scan, expansion,
            # dedup) — the payload-verification log is the round's long pole
            # and would otherwise serialize behind jobs it doesn't depend on.
            # The manifest still seals the round atomically at the end.
            rc = snap.RoundCommit(
                self.ckpt_dir, rnd,
                max_workers=int(os.environ.get("SPARK_GRAFT_COMMIT_THREADS", "8")),
            )
            round_epoch = 1704067200.0 + float(rnd) * cfg.round_seconds
            fetch_log = classified.select(
                F.lit(rnd).alias("round"), "host", "rank", "url", "status", "attempt",
                "redirected", "repaired_url", "proxy_ip",
                # F6 status timestamping (reference Crawlers.java:229-233
                # formats status + yyyy-MM-dd HH:mm:ss wall time).  Rounds are
                # this engine's clock, so the stamp derives from the round
                # epoch — deterministic, so golden/resume equality holds.
                F.concat_ws(
                    " ",
                    F.col("status"),
                    F.date_format(
                        F.timestamp_seconds(F.lit(round_epoch)), "yyyy-MM-dd HH:mm:ss"
                    ),
                ).alias("status_line"),
                # raw event-time for the streaming surfaces: format+reparse of
                # status_line is session-timezone-dependent (a stamp in a DST
                # gap parses to null/the wrong instant); the epoch column is
                # timezone-free, so watermarks/windows are exact anywhere.
                F.lit(round_epoch).alias("event_epoch"),
            )
            dead_delta = classified.filter(F.col("dead_reason").isNotNull()).select(
                "url",
                F.col("dead_reason").alias("reason"),
                "generation",
                F.lit(rnd).alias("round"),
            )
            fetched = classified.filter(F.col("status") == P.ST_FETCHED)
            # structdata story results (consumed by the exporter family K1-K5)
            story_results = fetched.select(
                F.lit(rnd).alias("round"),
                "url",
                "task_url",
                "extractor",
                F.coalesce(F.col("landing"), F.lit("no")).alias("landing"),
                "records",
            )
            # per-partition lineage metrics beside the checkpoint (north_rule);
            # wall_ms stamps time from round start to classification
            lineage = (
                classified.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(
                    F.count("*").alias("urls_in"),
                    F.sum((F.col("status") == P.ST_FETCHED).cast("long")).alias("fetched"),
                    F.sum(F.col("retry").cast("long")).alias("failed"),
                    F.sum(F.col("dead_reason").isNotNull().cast("long")).alias("dead"),
                )
                .withColumn("round", F.lit(rnd))
                .withColumn("wall_ms", F.lit(int((time.time() - t0) * 1000)))
            )
            # classification-derived tables: inputs are final -> write now
            rc.write("fetch_log", fetch_log.coalesce(self._wparts(n_selected)))
            rc.write("lineage", lineage.coalesce(self._wparts(n_selected)))
            if n_fetched_rows:
                rc.write("story_results", story_results.coalesce(self._wparts(n_selected)))
                if self.ingest_payloads:
                    rc.write("payload_log", self._payload_log(fetched, rnd))
            # T2 round deadline: eligible rows the budget passed over for
            # max_wait_rounds rounds die TIMEOUTED (→ recycle bin)
            timed_out = None
            n_timed_out = 0
            if cfg.max_wait_rounds is not None:
                timed_out = (
                    eligible.join(F.broadcast(classified.select("url")), "url", "left_anti")
                    .filter(F.lit(rnd) - F.col("wave") >= cfg.max_wait_rounds)
                    .persist()
                )
                n_timed_out = timed_out.count()
                dead_delta = dead_delta.unionByName(
                    timed_out.select(
                        "url", F.lit("timeout").alias("reason"), "generation",
                        F.lit(rnd).alias("round"),
                    )
                )
            # frontier bookkeeping: selected non-retry rows leave; retries bump
            # attempt.  sel is batch-sized (≤ Σ host budgets) — broadcast it so
            # a stats-less plan never sort-merge-shuffles the full frontier.
            sel = classified.select("url", "retry")
            kept = (
                frontier.join(F.broadcast(sel), "url", "left")
                .filter(F.col("retry").isNull() | F.col("retry"))
                .withColumn(
                    "attempt",
                    F.when(F.col("retry"), F.col("attempt") + 1).otherwise(F.col("attempt")),
                )
                .select(*FRONTIER_COLS)
            )
            if timed_out is not None:
                kept = kept.join(timed_out.select("url"), "url", "left_anti")
            candidates = self._expand(fetched, rnd)
            # materialized here, before the concurrent commit writes
            admission = self._admit(candidates, url_seen)
            admitted, n_admitted = admission.admitted, admission.n_admitted
            bloom_next = admission.state_next
            seen_delta = admitted.select("url", "url_hash", F.lit(rnd + 1).alias("round"))
            folded_seeds = seed_seen is not None
            if folded_seeds:  # first commit carries the seed membership
                seen_delta = seed_seen.unionByName(seen_delta)
                seed_seen = None
            compact_seen = bool(self.compact_every) and (
                rnd % self.compact_every == self.compact_every - 1
            )
            if compact_seen and not folded_seeds:
                # fold the whole committed history in → full snapshot (when
                # seeds were just folded, the delta IS already the history)
                seen_delta = url_seen.unionByName(seen_delta)
            frontier_next = kept.unionByName(admitted.select(*FRONTIER_COLS))
            # TTL recrawl (cfg.recrawl_ttl_rounds, reference cron-replanning
            # analog): members whose stamp (admission or last refresh) is
            # >= ttl rounds old and that are neither pending, re-admitted,
            # nor fetched this round are resubmitted at PRIORITY_RECRAWL and
            # re-stamped.  The sweep rides compaction rounds ONLY — the
            # re-stamp rewrites rows, which the append-only delta history
            # can't express, but the compact round's full-fold snapshot can.
            # Membership never changes, so the Bloom/cuckoo fast path needs
            # no surgery: its entries stay truthful.
            stale = None
            n_recrawl = 0
            if (
                cfg.recrawl_ttl_rounds
                and compact_seen
                and not folded_seeds
                and rnd >= cfg.recrawl_ttl_rounds
            ):
                current = (
                    kept.select("url")
                    .unionByName(admitted.select("url"))
                    .unionByName(classified.select("url"))
                )
                stale = (
                    url_seen.filter(F.col("round") <= rnd - cfg.recrawl_ttl_rounds)
                    .join(current, "url", "left_anti")
                    .select("url", "url_hash")
                    .persist()
                )
                n_recrawl = stale.count()
                if n_recrawl:
                    resubmit = self._robots_allow(
                        stale.select("url")
                        .withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
                        .withColumn("wave", F.lit(rnd + 1))
                        .withColumn("priority", F.lit(P.PRIORITY_RECRAWL))
                        .withColumn("page_idx", F.lit(0))
                        .withColumn("attempt", F.lit(0))
                        .withColumn("generation", F.lit(0))
                        .withColumn("task_url", F.col("url"))
                        .withColumn("cookies", F.lit(""))
                        .select(*FRONTIER_COLS)
                    )
                    seen_delta = seen_delta.join(
                        stale.select("url"), "url", "left_anti"
                    ).unionByName(
                        stale.withColumn("round", F.lit(rnd + 1)).select(
                            "url", "url_hash", "round"
                        )
                    )
                    frontier_next = frontier_next.unionByName(resubmit)
                    if self.trace_tasks:
                        ev = self._trace_events(resubmit, rnd, "recrawl")
                        pending_trace = (
                            ev
                            if pending_trace is None
                            else pending_trace.unionByName(ev)
                        )
                    summary["recrawled"] = summary.get("recrawled", 0) + n_recrawl
            # size committed files by row volume, not shuffle fan-out.
            # KNOWN-EMPTY deltas are skipped outright: read_deltas tolerates a
            # missing per-round table dir, and every skipped table is a whole
            # Spark write job saved from the round's critical path (dead_letter
            # and payload_log are 0-row on most healthy rounds).
            seen_rows = n_admitted + (seen_est if (folded_seeds or compact_seen) else 0)
            rc.write(
                "frontier",
                frontier_next.coalesce(self._wparts(frontier_est + n_admitted, cached=False)),
            )
            if n_admitted or folded_seeds or compact_seen:
                rc.write(
                    "url_seen",
                    seen_delta.coalesce(
                        self._wparts(seen_rows, cached=not (folded_seeds or compact_seen))
                    ),
                )
            if n_dead_rows + n_timed_out:
                rc.write("dead_letter", dead_delta.coalesce(self._wparts(n_selected)))
            if self.trace_tasks:
                # per-task trace: one event per state change this round —
                # fetch attempts (status + attempt; death reason in detail),
                # admissions, deadline timeouts, plus any buffered seed /
                # re-drive submissions
                trace = self._trace_events(
                    classified, rnd, F.col("status"), attempt="attempt",
                    detail="dead_reason",
                ).unionByName(self._trace_events(admitted, rnd, "submitted"))
                if timed_out is not None and n_timed_out:
                    trace = trace.unionByName(
                        self._trace_events(
                            timed_out.withColumn("detail", F.lit("timeout")),
                            rnd, "TIMEOUT", attempt="attempt", detail="detail",
                        )
                    )
                if pending_trace is not None:
                    trace = trace.unionByName(pending_trace)
                    pending_trace = None
                rc.write(
                    "task_trace",
                    trace.coalesce(self._wparts(n_selected + n_admitted, cached=False)),
                )
            meta = {"selected": n_selected, "wall_s": time.time() - t0}
            bloom_written = False
            if bloom_next is not None:
                meta["bloom_format"] = self._seen_ops.format_id
                meta["bloom_buckets"] = self.bloom_buckets
                if n_admitted or self._bloom_dirty or self._bloom_round is None:
                    # content changed (new hashes OR'd in / saturation rebuild)
                    # → materialize; otherwise point the manifest at the last
                    # written table and skip the n_buckets-row bitset write
                    rc.write("bloom", bloom_next)
                    bloom_written = True
                    meta["bloom_round"] = rnd
                else:
                    meta["bloom_round"] = self._bloom_round
            rc.commit(meta=meta, compacted=("url_seen",) if compact_seen else ())
            summary["rounds_detail"].append(
                {"round": rnd, "selected": n_selected, "wall_s": round(time.time() - t0, 3)}
            )
            for df in (classified, *admission.cached):
                df.unpersist()
            if stale is not None:
                stale.unpersist()
            if timed_out is not None:
                timed_out.unpersist()
            # re-read committed state: keeps every round's plan lineage O(1)
            frontier = snap.read_full(spark, self.ckpt_dir, "frontier", rnd)
            url_seen = snap.read_deltas(spark, self.ckpt_dir, "url_seen", rnd)
            if bloom_next is not None:
                if bloom_written:
                    self._bloom = snap.read_full(spark, self.ckpt_dir, "bloom", rnd)
                    self._bloom_round = rnd
                    self._bloom_dirty = False
                # else: _bloom already reads the last written parquet table
                self._bloom_maybe_rebuild(url_seen, rnd)
            summary["selected"] += n_selected
            summary["rounds"] = rnd + 1 - start_round
            frontier_est += n_admitted + n_recrawl
            seen_est += n_admitted
            rnd += 1
        # final tallies from committed state
        last = snap.latest_round(self.ckpt_dir)
        if last is not None:
            log = snap.read_deltas(spark, self.ckpt_dir, "fetch_log", last)
            summary["fetched"] = log.filter(F.col("status") == P.ST_FETCHED).count()
            dead_all = snap.read_deltas(spark, self.ckpt_dir, "dead_letter", last)
            summary["dead"] = dead_all.count() if dead_all is not None else 0
            seen = snap.read_deltas(spark, self.ckpt_dir, "url_seen", last)
            summary["url_seen"] = seen.count()
            # order-independent row digests: backend-equivalence checks
            # (scripts/ab_backend_bench.py) compare actual rows, not counts
            summary["url_seen_digest"] = rows_digest(seen, ["url"])
            summary["fetch_log_digest"] = rows_digest(
                log, ["round", "url", "status", "attempt"]
            )
            if self.ingest_payloads:
                plog = snap.read_deltas(spark, self.ckpt_dir, "payload_log", last)
                if plog is not None:
                    plog = plog.persist()
                    summary["payload_checked"] = plog.count()
                    summary["payload_ok"] = (
                        plog.filter(
                            ~(F.col("decode_ok") & F.col("shape_ok") & F.col("phash_ok"))
                            | (F.col("psnr_db") < 40.0)
                        ).count()
                        == 0
                    )
                    plog.unpersist()
        summary["last_round"] = last
        return summary

    # ------------------------------------------------------------ inspection

    def fetch_log(self) -> DataFrame:
        last = snap.latest_round(self.ckpt_dir)
        return snap.read_deltas(self.spark, self.ckpt_dir, "fetch_log", last)

    def url_seen(self) -> DataFrame:
        last = snap.latest_round(self.ckpt_dir)
        return snap.read_deltas(self.spark, self.ckpt_dir, "url_seen", last)

    def trap_report(self, max_urls_per_template: int = 100) -> DataFrame:
        """Per-host spider-trap profile over the committed URL-seen set
        (operators/traps.trap_hosts): hosts whose largest digit-collapsed
        path template holds more than ``max_urls_per_template`` distinct
        URLs are flagged — feed them back as disallow/deprioritize policy
        for the next rounds."""
        from crawler_spark.operators.traps import trap_hosts

        return trap_hosts(
            self.url_seen().select("url"),
            max_urls_per_template=max_urls_per_template,
        )

    def dead_letter(self) -> DataFrame:
        last = snap.latest_round(self.ckpt_dir)
        return snap.read_deltas(self.spark, self.ckpt_dir, "dead_letter", last)

    def lineage(self) -> DataFrame:
        last = snap.latest_round(self.ckpt_dir)
        return snap.read_deltas(self.spark, self.ckpt_dir, "lineage", last)

    def story_results(self) -> DataFrame:
        """Structdata per fetched (url, extractor) — the exporters' input."""
        last = snap.latest_round(self.ckpt_dir)
        return snap.read_deltas(self.spark, self.ckpt_dir, "story_results", last)

    def task_trace(self) -> DataFrame:
        """Per-task state-change events (reference worker.trace)."""
        last = snap.latest_round(self.ckpt_dir)
        return snap.read_deltas(self.spark, self.ckpt_dir, "task_trace", last)

    def execution_paths(self) -> DataFrame:
        """(url, path) — each URL's ordered event history, reconstructed from
        the trace (the SavePointPlanner.java:248-266 readback).  Within a
        round, (re)submissions order before fetch outcomes."""
        tr = self.task_trace()
        seq = (
            F.when(F.col("state") == "submitted", F.lit(0))
            .when(F.col("state") == "resubmitted", F.lit(1))
            .otherwise(F.lit(2))
        )
        ev = F.struct(F.col("round"), seq.alias("seq"), F.col("state"), F.col("attempt"))
        return tr.groupBy("url").agg(F.array_sort(F.collect_list(ev)).alias("path"))

    # ------------------------------------------------- plan-status readback
    # The reference's only REST/monitoring surface is
    # PlannerCurrentController.java:16-79 (GET /plans/current, /storys/left,
    # /storys/doing, /storys/doing/statistics, /storys/doing/detail) backed
    # by SavePointPlanner.java:189-266 over live Redis state.  This engine's
    # state between rounds is the committed snapshot, so the readback is a
    # pure function of it: story key = task_url (the reference's story name),
    # url→story mapping = the task_trace multimap (STORY_TRACE analog),
    # pending membership = the latest committed frontier.  Requires
    # trace_tasks=True (the default), like the reference requires the trace
    # multimap to exist.

    _SUBMIT_STATES = ("submitted", "resubmitted", "recrawl")

    def story_status(self) -> DataFrame:
        """Per-story ledger: (task_url, n_tasks, n_pending, n_attempted,
        n_fetched, n_dead, story_state) with story_state ∈ left|doing|done —
        'left' = submitted but never attempted (PLAN_STORY_RUNNING analog),
        'doing' = attempts exist and tasks still pending
        (STORY_FILE_QUEYE_DOING analog), 'done' = nothing pending."""
        last = snap.latest_round(self.ckpt_dir)
        schema = (
            "task_url string, n_tasks long, n_pending long, n_attempted long, "
            "n_fetched long, n_dead long, story_state string"
        )
        if last is None:  # nothing committed yet — no stories to report
            return self.spark.createDataFrame([], schema)
        tr = self.task_trace()
        pending = (
            snap.read_full(self.spark, self.ckpt_dir, "frontier", last)
            .groupBy("task_url")
            .agg(F.count("*").alias("n_pending"))
        )
        is_submit = F.col("state").isin(*self._SUBMIT_STATES)
        acts = tr.groupBy("task_url").agg(
            F.countDistinct("url").alias("n_tasks"),
            F.sum((~is_submit).cast("long")).alias("n_attempted"),
            F.sum((F.col("state") == P.ST_FETCHED).cast("long")).alias("n_fetched"),
            F.sum((~is_submit & F.col("detail").isNotNull()).cast("long")).alias(
                "n_dead"
            ),
        )
        # every frontier row was submitted through the trace, so acts covers
        # all stories; stories absent from the frontier have 0 pending
        joined = acts.join(pending, "task_url", "left").na.fill(0, ["n_pending"])
        state = (
            F.when(F.col("n_pending") == 0, "done")
            .when(F.col("n_attempted") == 0, "left")
            .otherwise("doing")
        )
        return joined.select(
            "task_url", "n_tasks", "n_pending", "n_attempted", "n_fetched",
            "n_dead", state.alias("story_state"),
        )

    def plan_status(self) -> dict:
        """GET /plans/current parity: {plan_name: has_done}.  The plan is
        done when no story is left or doing (== the committed frontier is
        empty), matching planHasDone's 'no history AND done queue drained'."""
        name = os.path.basename(self.ckpt_dir.rstrip("/")) or "plan"
        if snap.latest_round(self.ckpt_dir) is None:
            return {name: False}  # planned but never executed — not done
        n_open = (
            self.story_status()
            .filter(F.col("story_state") != "done")
            .limit(1)
            .count()
        )
        return {name: n_open == 0}

    def stories_left(self) -> dict:
        """GET /plans/current/{plan}/storys/left parity: {count, data}."""
        rows = (
            self.story_status()
            .filter(F.col("story_state") == "left")
            .select("task_url")
            .orderBy("task_url")
            .collect()
        )
        return {"count": len(rows), "data": [r.task_url for r in rows]}

    def stories_doing(self, statistics: bool = False) -> dict:
        """GET .../storys/doing (and /statistics) parity: {count, data}.

        With ``statistics=True``, data maps each doing story to its integer
        ledger (the reference endpoint returns the bare list twice; the
        statistics here are the counts an operator actually watches)."""
        rows = (
            self.story_status()
            .filter(F.col("story_state") == "doing")
            .orderBy("task_url")
            .collect()
        )
        if not statistics:
            return {"count": len(rows), "data": [r.task_url for r in rows]}
        return {
            "count": len(rows),
            "data": {
                r.task_url: {
                    "n_tasks": r.n_tasks,
                    "n_pending": r.n_pending,
                    "n_attempted": r.n_attempted,
                    "n_fetched": r.n_fetched,
                    "n_dead": r.n_dead,
                }
                for r in rows
            },
        }

    def story_tasks(self, task_url: str) -> dict:
        """GET .../storys/doing/detail parity for one story: {url: [(state,
        round, attempt), ...]} — each task's ordered event history
        (getTasksOfStory, SavePointPlanner.java:248-266; the reference pairs
        (fromUrl, status) per trace entry)."""
        tr = self.task_trace().filter(F.col("task_url") == task_url)
        seq = (
            F.when(F.col("state") == "submitted", F.lit(0))
            .when(F.col("state").isin("resubmitted", "recrawl"), F.lit(1))
            .otherwise(F.lit(2))
        )
        ev = F.struct(F.col("round"), seq.alias("seq"), F.col("state"), F.col("attempt"))
        rows = (
            tr.groupBy("url")
            .agg(F.array_sort(F.collect_list(ev)).alias("path"))
            .collect()
        )
        return {
            r.url: [(e.state, e.round, e.attempt) for e in r.path] for r in rows
        }

    def verify_payloads(self) -> DataFrame:
        """Post-hoc payload invariants for every fetched URL.

        Binary discipline (SURVEY.md §7 hard part 4): the frontier side never
        carries bytes; the check resolves fetched URLs → image_ids → payload
        files and decodes via the direct-read path (_payload_check).
        """
        fetched_urls = (
            self.fetch_log().filter(F.col("status") == P.ST_FETCHED).select("url").distinct()
        )
        ids = fetched_urls.join(self.pages.select("url", "image_id"), "url").select("image_id").distinct()
        return self._payload_check(ids)

    def anchor_report(self, top_k: int = 8) -> DataFrame:
        """Per-target anchor-text profile of the committed crawl
        (operators.anchors.anchor_text_table over the same archived pages
        the WARC/WET/WAT sinks read): for every linked URL, in-link count,
        distinct linking hosts, and the top-``top_k`` anchor texts by
        count — the crawl-derived ranking/weak-caption signal."""
        from crawler_spark.operators.anchors import anchor_text_table

        pages, _ = self._archive_pages(n_files=2)
        return anchor_text_table(pages, url_col="url", payload_col="content",
                                 top_k=top_k)

    def weak_captions(self, top_k: int = 3) -> DataFrame:
        """Anchor-text-mined weak captions for crawled images — the alt-text
        mining pattern web image+caption corpora are built from: for every
        page that carries an image payload, the most-used non-empty anchor
        text other pages link to it with, plus its in-link support.  A
        downstream curation pass (q53's CLIP-style gates) decides whether
        the mined text beats the page's own caption."""
        rep = self.anchor_report(top_k=max(top_k, 3))
        nonempty = F.filter(
            F.col("top_anchors"), lambda s: s["anchor_text"] != F.lit("")
        )
        return (
            rep.join(self.pages.select("url", "image_id"),
                     rep["target_url"] == F.col("url"))
            .filter(F.size(nonempty) > 0)
            .select(
                "image_id",
                "url",
                F.element_at(nonempty, 1)["anchor_text"].alias("weak_caption"),
                F.element_at(nonempty, 1)["cnt"].alias("caption_support"),
                "n_inlinks",
                "n_src_hosts",
            )
        )

    def export_webdataset(self, out_dir: str, n_shards: Optional[int] = None,
                          prefix: str = "shard",
                          resize_px: Optional[int] = None,
                          layout: str = "source") -> dict:
        """Export every crawled image+caption pair as WebDataset tar shards.

        The crawl → training-data handoff: fetched URLs resolve to image_ids
        (frontier side, strings only), captions/metadata come from a
        bytes-pruned scan of the payload table, and the shard tasks read the
        payload bytes directly from the parquet files
        (operators.webdataset.export_image_captions) — the bytes never
        transit the JVM, matching the engine's payload discipline end to
        end.  Deterministic: same crawl ⇒ byte-identical shards.
        ``resize_px`` exports training-prep fixed-size thumbnails instead of
        the raw codec streams (decode→area-resize→re-encode inside the
        shard task, same zero-transit path).  ``layout="source"`` (default)
        reads every payload file exactly once — the linear-IO 100 TB path;
        ``layout="hash"`` gives layout-independent deterministic global
        mixing at the cost of per-shard re-reads (small exports only; see
        export_image_captions).
        """
        from crawler_spark.operators.webdataset import export_image_captions

        fetched_urls = (
            self.fetch_log().filter(F.col("status") == P.ST_FETCHED)
            .select("url").distinct()
        )
        ids = (
            fetched_urls.join(self.pages.select("url", "image_id"), "url")
            .select("image_id").distinct()
        )
        samples = (
            ids.join(self.images.select(
                "image_id", "caption", "w", "h", "fmt", "phash"), "image_id")
            .join(self.images_index, "image_id")
        )
        if layout == "hash" and n_shards is None:
            # ~4k samples/shard keeps shards in the 0.1-1 GiB guidance band
            # for O(100 KB) payloads; cheap count — strings only.
            n_shards = max(2, -(-samples.count() // 4096))
        return export_image_captions(samples, out_dir, n_shards or 0,
                                     prefix=prefix, resize_px=resize_px,
                                     layout=layout)

    def export_warc(self, out_dir: str, n_files: Optional[int] = None,
                    gzip_records: bool = True) -> dict:
        """Archive every fetched page as WARC/1.1 ``resource`` records.

        The crawl-tier interchange handoff (operators.warc): fetched URLs
        join the page table's HTML, stamped with each URL's FIRST fetch
        epoch (recrawls re-fetch a URL in later rounds; the archive records
        the original capture, deterministic under resume).  ``resource`` is
        the spec's type for directly-stored content — the synthetic fetch
        has no raw HTTP response to replay.  Emulator search SERPs are
        transient sub-steps with no stored page body (their extracted
        records persist via story_results → the exporter family), so the
        archive covers exactly the page-table captures.  Byte-deterministic
        like every sink here: same crawl ⇒ md5-identical WARC files.
        """
        from crawler_spark.operators.warc import write_warc

        pages, n_files = self._archive_pages(n_files)
        return write_warc(
            pages, out_dir, n_files, url_col="url", payload_col="content",
            epoch_col="epoch", warc_type="resource",
            content_type="text/html", gzip_records=gzip_records,
        )

    def _archive_pages(self, n_files: Optional[int]):
        """Fetched page captures (url, first-fetch epoch, html) + a file
        count sized ~64k records/file — shared by the WARC/WET/WAT sinks."""
        fetched = (
            self.fetch_log().filter(F.col("status") == P.ST_FETCHED)
            .groupBy("url").agg(F.min("event_epoch").alias("epoch"))
        )
        pages = fetched.join(self.pages.select("url", "content"), "url")
        if n_files is None:
            n_files = max(2, -(-pages.count() // 65536))
        return pages, n_files

    def export_wet(self, out_dir: str, n_files: Optional[int] = None,
                   gzip_records: bool = True) -> dict:
        """WET extracted-text companion of :meth:`export_warc` — one
        ``conversion`` record per capture (Common Crawl handoff shape for
        text-only consumers; operators.warc.write_wet)."""
        from crawler_spark.operators.warc import write_wet

        pages, n_files = self._archive_pages(n_files)
        return write_wet(pages, out_dir, n_files, url_col="url",
                         payload_col="content", epoch_col="epoch",
                         gzip_records=gzip_records)

    def export_wat(self, out_dir: str, n_files: Optional[int] = None,
                   gzip_records: bool = True) -> dict:
        """WAT metadata companion of :meth:`export_warc` — one ``metadata``
        record per capture carrying the JSON envelope (title + extracted
        links; operators.warc.write_wat)."""
        from crawler_spark.operators.warc import write_wat

        pages, n_files = self._archive_pages(n_files)
        return write_wat(pages, out_dir, n_files, url_col="url",
                         payload_col="content", epoch_col="epoch",
                         gzip_records=gzip_records)
