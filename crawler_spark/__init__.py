"""crawler_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

Brand-new engine with the capabilities of the reference crawler
(totyumengr/crawler, surveyed in SURVEY.md), re-expressed Spark-first:

- frontier / url_seen / task_trace as partitioned Parquet tables with
  Iceberg-style atomic snapshot manifests that also carry per-partition
  lineage; the recycle bin is the trace's death events
  (crawler_spark.sources.snapshots)
- politeness + priority fetch-batch selection as salted window ranking
  (crawler_spark.operators.politeness)
- URL-seen dedup as partitioned bloom fast-path + exact anti-join
  (crawler_spark.operators.dedup)
- the reference's quirky URL algebra as vectorized pandas UDFs
  (crawler_spark.functions.urlnorm)
- image payloads as binary columns + numpy/zlib codecs
  (crawler_spark.functions.imaging)
- the crawl loop as deterministic, resumable batch rounds
  (crawler_spark.plans.engine)
"""

__version__ = "0.1.0"
