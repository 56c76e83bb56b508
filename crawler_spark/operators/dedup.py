"""URL-seen dedup: partitioned Bloom fast path + exact anti-join (SURVEY.md U2).

The reference bypasses its duplicate filter (reference
BackLogFetcher.java:115 ``setSkipDuplicateFilter(true)``) and gets
at-most-once from savepoints; the north rule instead demands a partitioned
URL-seen set with canonicalized hashing, here a Bloom filter.  Design:

* ground truth  — the ``url_seen`` table; admission is an exact LEFT ANTI
  join against it (membership is the checked invariant).
* fast path     — per-bucket Bloom filters over ``url_hash = xxhash64(url)``
  (Spark's JVM-side xxhash64 — the canonical URL never leaves the JVM for
  hashing).  Candidates whose bucket filter says "definitely unseen" skip
  the anti-join probe entirely; only probable hits join.

The filter state is a DATAFRAME — one row per hash bucket, bits sized from
that bucket's OBSERVED count (not a global constant) — persisted beside the
checkpoint as a parquet table and updated/probed entirely executor-side.
Every pass is an ``applyInPandas`` grouped by SHARD, ``pmod(bucket, P)``
with P = min(n_buckets, shuffle partitions): one Python call per shard
loops over its buckets with numpy slices (a per-bucket grouping paid one
pandas round-trip per bucket — 256 per pass for a few hundred hashes).  At
cluster scale P >= n_buckets, so a shard is one bucket.

* build  — numpy bitset per bucket, double hashing; capacity = headroom ×
  observed items with a floor of 64, fpp-targeted sizing.  The floor is
  small so that bits per URL stay flat with load (19.2 at 1% fpp once a
  bucket holds more than 32 URLs); a bucket that outgrows its capacity is
  rebuilt before the next round probes it (resize below).
* update — cogroup of (bloom rows, delta hashes) per shard: OR each
  bucket's delta into its bits at its existing geometry; new buckets size
  themselves from the delta.  O(Δ) work per round.
* probe  — cogroup of (candidates, bloom rows) per shard: the bits never
  transit the driver and are never broadcast (round 1 collected the whole
  filter into a driver dict and re-broadcast it every round — ~12 GB of
  driver bits at 10¹⁰ URLs, plus a broadcast leak).
* fused  — what the engine runs each round (``bloom_admit``): ONE cogroup
  probes the candidates and emits every bucket's next row, ORing in the
  definitely-new hashes.  A false positive the exact anti-join confirms as
  new has all k bits set already, so only its bucket's ``n_items`` needs
  correcting, from the same job that counts the admitted rows.  The pass
  is persisted until the commit writes the next rows from it.
* resize — a bucket whose ``n_items`` exceeds ``capacity`` degrades fpp but
  NEVER correctness (the filter only prunes anti-join probes).  The fused
  pass's count job lists the buckets it leaves past capacity, and the engine
  rebuilds them from url_seen at ``HEADROOM`` × their load before the next
  round's probe (a resumed crawl's first round probes the table as it was
  committed), and capacity grows geometrically: one url_seen scan each
  time a bucket's load doubles.

Every pass returns the rows of the per-bucket definition exactly (tested
in tests/test_dedup.py), so persisted tables keep ``BLOOM_FORMAT`` 2.
The Bloom filter only PRUNES probes; admitted membership is identical with
the fast path on or off (tested in tests/test_dedup.py).
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "with_url_hash",
    "admit_new_exact",
    "BLOOM_SCHEMA",
    "with_bucket",
    "bloom_build",
    "bloom_update",
    "bloom_probe",
    "bloom_probe_update",
    "admit_new_bloom",
    "Admission",
    "bloom_admit",
    "BLOOM_FORMAT",
]

# versions the persisted Bloom table in the round manifest: a resume whose
# checkpoint carries another format (or bucketing) rebuilds from url_seen
# instead of misreading foreign bytes
BLOOM_FORMAT = 2
BLOOM_SCHEMA = "bucket int, bits binary, n_bits long, k int, n_items long, capacity long"
DEFAULT_FPP = 0.01
MIN_CAPACITY = 64
HEADROOM = 2.0


def with_url_hash(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical 64-bit key: JVM-side xxhash64 over the canonical URL string."""
    return df.withColumn("url_hash", F.xxhash64(F.col(url_col)))


def admit_new_exact(candidates: DataFrame, url_seen: DataFrame) -> DataFrame:
    """Exact first-submission-wins: candidates NOT IN url_seen (left anti)."""
    return candidates.join(url_seen.select("url"), "url", "left_anti")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))


# ---------------------------------------------------------------------------
# bitset primitives (numpy, executor-side only)
# ---------------------------------------------------------------------------


def _bloom_params(capacity: int, fpp: float) -> tuple[int, int]:
    n = max(1, capacity)
    n_bits = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    n_bits = (n_bits + 63) // 64 * 64
    k = max(1, round(n_bits / n * math.log(2)))
    return n_bits, min(k, 16)


def _indices(hashes: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """k double-hashed bit indices per input hash → (len, k) int64 array."""
    h1 = hashes.astype(np.uint64)
    h2 = (h1 >> np.uint64(17) | h1 << np.uint64(47)) * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(n_bits)).astype(np.int64)


def _or_into(bits: np.ndarray, hashes: np.ndarray, n_bits: int, k: int) -> None:
    idx = _indices(hashes, n_bits, k).ravel()
    np.bitwise_or.at(bits, idx // 8, (1 << (idx % 8)).astype(np.uint8))


def _build_bits(hashes: np.ndarray, n_bits: int, k: int) -> bytes:
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    _or_into(bits, hashes, n_bits, k)
    return bits.tobytes()


def _probe_bits(hashes: np.ndarray, bits: bytes, n_bits: int, k: int) -> np.ndarray:
    arr = np.frombuffer(bits, dtype=np.uint8)
    idx = _indices(hashes, n_bits, k)
    hit = (arr[idx // 8] & (1 << (idx % 8)).astype(np.uint8)) != 0
    return hit.all(axis=1)


def _sized_row(bucket: int, hashes: np.ndarray, fpp: float):
    capacity = max(MIN_CAPACITY, int(HEADROOM * len(hashes)))
    n_bits, k = _bloom_params(capacity, fpp)
    return {
        "bucket": bucket,
        "bits": _build_bits(hashes, n_bits, k),
        "n_bits": n_bits,
        "k": k,
        "n_items": len(hashes),
        "capacity": capacity,
    }


# ---------------------------------------------------------------------------
# per-shard kernels (executor-side; one Python call per shard of buckets)
# ---------------------------------------------------------------------------

BLOOM_COLS = ["bucket", "bits", "n_bits", "k", "n_items", "capacity"]


def _n_shards(df: DataFrame, n_buckets: int) -> int:
    """Groups per Bloom pass: min(n_buckets, shuffle partitions).  A group
    is a shard of buckets (``pmod(bucket, P)``); at cluster scale P >=
    n_buckets, so a shard is one bucket and per-group memory is unchanged."""
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(n_buckets, parts))


def _with_shard(df: DataFrame, n_shards: int) -> DataFrame:
    return df.withColumn("shard", F.pmod(F.col("bucket"), F.lit(n_shards)))


def _by_bucket(buckets: np.ndarray):
    """(bucket, row positions) for each distinct bucket of a shard."""
    order = np.argsort(buckets, kind="stable")
    uniq, starts = np.unique(buckets[order], return_index=True)
    return zip(uniq.tolist(), np.split(order, starts[1:]))


def _probe_shard(cand, bl) -> np.ndarray:
    """probably_seen for each candidate row of a shard (aligned with cand).
    A bucket with no Bloom row probes definite-new."""
    seen = np.zeros(len(cand), dtype=bool)
    if len(cand) == 0 or len(bl) == 0:
        return seen
    row_of = {int(b): i for i, b in enumerate(bl["bucket"])}
    hashes = cand["url_hash"].to_numpy(dtype=np.int64)
    for b, pos in _by_bucket(cand["bucket"].to_numpy()):
        i = row_of.get(b)
        if i is not None:
            seen[pos] = _probe_bits(
                hashes[pos], bytes(bl["bits"].iat[i]), int(bl["n_bits"].iat[i]),
                int(bl["k"].iat[i]),
            )
    return seen


def _update_shard(bl, buckets: np.ndarray, hashes: np.ndarray, fpp: float) -> list[dict]:
    """Next rows of a shard: existing buckets OR the delta in at their own
    geometry, fresh buckets size themselves from the delta."""
    delta = {b: hashes[pos] for b, pos in _by_bucket(buckets)}
    rows = []
    for r in bl.itertuples(index=False):
        h = delta.pop(int(r.bucket), None)
        n_bits, k = int(r.n_bits), int(r.k)
        if h is None:
            bits = bytes(r.bits)
        else:
            arr = np.frombuffer(bytes(r.bits), dtype=np.uint8).copy()
            _or_into(arr, h, n_bits, k)
            bits = arr.tobytes()
        rows.append({
            "bucket": int(r.bucket), "bits": bits, "n_bits": n_bits, "k": k,
            "n_items": int(r.n_items) + (0 if h is None else len(h)),
            "capacity": int(r.capacity),
        })
    rows.extend(_sized_row(b, h, fpp) for b, h in delta.items())
    return rows


def _rows_frame(rows: list[dict]):
    import pandas as pd

    return pd.DataFrame(rows, columns=BLOOM_COLS)


# ---------------------------------------------------------------------------
# DataFrame-level state lifecycle
# ---------------------------------------------------------------------------


def bloom_build(url_seen: DataFrame, n_buckets: int = 256, fpp: float = DEFAULT_FPP) -> DataFrame:
    """Per-bucket Bloom bits over url_hash → DF(BLOOM_SCHEMA).

    Each hash-bucket's bitset is produced by the partition holding its keys
    and sized from that bucket's observed count — no driver collect, no
    global size constant (round 1 hardcoded 100k/bucket: beyond ~10⁷ URLs
    fpp→1 while still paying the probe pass)."""
    empty = _rows_frame([])

    def _build(pdf):
        return _rows_frame(_update_shard(
            empty, pdf["bucket"].to_numpy(), pdf["url_hash"].to_numpy(dtype=np.int64), fpp))

    hashed = with_bucket(url_seen, n_buckets).select("bucket", "url_hash")
    return _with_shard(hashed, _n_shards(hashed, n_buckets)).groupBy("shard").applyInPandas(
        _build, BLOOM_SCHEMA
    )


def bloom_update(
    bloom: DataFrame, admitted: DataFrame, n_buckets: int, fpp: float = DEFAULT_FPP
) -> DataFrame:
    """OR the round's admitted url_hash delta into the filter — executor-side.

    Cogroup (bloom rows, delta hashes) per shard: existing buckets keep
    their geometry (bits OR delta), fresh buckets size from the delta.
    A bucket past capacity keeps absorbing (fpp degrades, correctness does
    not); the engine's round runs ``bloom_admit``, which reports such
    buckets so that they are rebuilt from url_seen."""
    delta = with_bucket(admitted.select("url_hash"), n_buckets).select("bucket", "url_hash")
    n_shards = _n_shards(delta, n_buckets)

    def _merge(key, old, new):
        return _rows_frame(_update_shard(
            old, new["bucket"].to_numpy(), new["url_hash"].to_numpy(dtype=np.int64), fpp))

    return (
        _with_shard(bloom, n_shards).groupBy("shard")
        .cogroup(_with_shard(delta, n_shards).groupBy("shard"))
        .applyInPandas(_merge, BLOOM_SCHEMA)
    )


def _ddl(df: DataFrame) -> list[str]:
    return [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]


def bloom_probe(candidates: DataFrame, bloom: DataFrame, n_buckets: int) -> DataFrame:
    """Add ``probably_seen`` to candidates (must carry url_hash).

    Cogrouped probe: each shard's candidates meet that shard's bits on the
    executors — the filter is never collected or broadcast.  A bucket with
    no bloom row (nothing seen there yet) probes definite-new.
    """
    cols = [f.name for f in candidates.schema.fields]
    out_schema = ", ".join(_ddl(candidates) + ["probably_seen boolean"])
    bucketed = with_bucket(candidates, n_buckets)
    n_shards = _n_shards(bucketed, n_buckets)

    def _probe(key, cand, bl):
        return cand[cols].assign(probably_seen=_probe_shard(cand, bl))

    return (
        _with_shard(bucketed, n_shards).groupBy("shard")
        .cogroup(_with_shard(bloom, n_shards).groupBy("shard"))
        .applyInPandas(_probe, out_schema)
    )


def bloom_probe_update(
    candidates: DataFrame, bloom: DataFrame, n_buckets: int, fpp: float = DEFAULT_FPP
) -> DataFrame:
    """The fused pass: one cogroup that probes the candidates AND emits every
    bucket's next row (bits ORed with the definitely-new candidates' hashes,
    ``n_items`` grown by their count).

    Two kinds of output row: a probed candidate (its columns, ``bucket``,
    ``probably_seen``; Bloom columns null) or a bucket's next row (Bloom
    columns; candidate columns null).  Probable hits are left out of the
    next rows: a hit has all k bits set already, and the caller adds the
    ones the exact anti-join confirms as new to ``n_items``."""
    import pandas as pd

    cols = [f.name for f in candidates.schema.fields]
    bucketed = with_bucket(candidates, n_buckets)
    out_schema = ", ".join(
        _ddl(bucketed) + ["probably_seen boolean", BLOOM_SCHEMA.removeprefix("bucket int, ")]
    )
    n_shards = _n_shards(bucketed, n_buckets)

    def _nullable(pdf):
        # each row kind nulls the other's columns; numpy ints would fall
        # back to float and round 64-bit hashes
        return pdf.convert_dtypes(
            infer_objects=False, convert_string=False, convert_floating=False)

    def _fused(key, cand, bl):
        seen = _probe_shard(cand, bl)
        new = ~seen
        nxt = _update_shard(
            bl, cand["bucket"].to_numpy()[new],
            cand["url_hash"].to_numpy(dtype=np.int64)[new], fpp,
        )
        probed = cand[cols + ["bucket"]].assign(probably_seen=seen)
        return pd.concat([_nullable(probed), _nullable(_rows_frame(nxt))], ignore_index=True)

    return (
        _with_shard(bucketed, n_shards).groupBy("shard")
        .cogroup(_with_shard(bloom, n_shards).groupBy("shard"))
        .applyInPandas(_fused, out_schema)
    )


def admit_new_bloom(
    candidates: DataFrame, url_seen: DataFrame, bloom: DataFrame, n_buckets: int
) -> DataFrame:
    """Bloom-pruned admission: identical result to admit_new_exact.

    definite-miss rows pass straight through; probable hits take the exact
    anti-join. Union of both = exact semantics with pruned join probes.
    """
    probed = bloom_probe(candidates, bloom, n_buckets)
    definite_new = probed.filter(~F.col("probably_seen")).drop("probably_seen")
    maybe_seen = probed.filter(F.col("probably_seen")).drop("probably_seen")
    confirmed_new = maybe_seen.join(url_seen.select("url"), "url", "left_anti")
    return definite_new.unionByName(confirmed_new)


class Admission(NamedTuple):
    """One round's URL-seen admission, materialized: ``admitted`` is
    persisted and counted; ``state_next`` is the next filter state (lazy,
    reading only persisted rows); ``saturated`` lists the buckets whose
    ``state_next`` row holds more items than its capacity; ``cached`` lists
    the frames to unpersist once ``state_next`` is written."""

    admitted: DataFrame
    state_next: DataFrame
    n_admitted: int
    saturated: tuple
    cached: tuple


def bloom_admit(
    candidates: DataFrame, url_seen: DataFrame, bloom: DataFrame, n_buckets: int,
    fpp: float = DEFAULT_FPP,
) -> Admission:
    """Admission and the next filter from ONE Python pass (bloom_probe_update).

    ``admitted`` holds admit_new_bloom's rows plus ``bucket`` and
    ``probably_seen`` (true for a Bloom false positive the anti-join
    confirmed as new).  ``state_next`` holds bloom_update(bloom, admitted)'s
    rows: the bits are exact because a probable hit has all k bits set
    already, and ``n_items`` adds each bucket's confirmed false positives,
    counted by the same job that counts the admitted rows and lists the
    buckets ``state_next`` leaves past capacity.  The fused pass
    stays persisted until ``state_next`` is written, so that write reads
    persisted rows only."""
    fused = bloom_probe_update(candidates, bloom, n_buckets, fpp).persist()
    cols = [f.name for f in candidates.schema.fields] + ["bucket", "probably_seen"]
    probed = fused.filter(F.col("bits").isNull()).select(*cols)
    confirmed_new = probed.filter(F.col("probably_seen")).join(
        url_seen.select("url"), "url", "left_anti")
    admitted = probed.filter(~F.col("probably_seen")).unionByName(confirmed_new).persist()
    # one job counts the admitted rows and finds the buckets whose next row
    # is past capacity: a bucket's state row enters as n_items - capacity and
    # each confirmed false positive adds 1 to its bucket (the rows of
    # definite-new admissions group under a null bucket)
    nxt = fused.filter(F.col("bits").isNotNull())
    tally = (
        admitted.select(
            F.when(F.col("probably_seen"), F.col("bucket")).alias("bucket"),
            F.lit(1).alias("n"),
            F.lit(1).cast("long").alias("over"),
        )
        .unionByName(nxt.select(
            "bucket", F.lit(0).alias("n"), (F.col("n_items") - F.col("capacity")).alias("over")))
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"), F.sum("over").alias("over"))
        .filter((F.col("n") > 0) | (F.col("over") > 0))
        .collect()
    )
    fp_rows = [r for r in tally if r["bucket"] is not None]
    false_pos = {r["bucket"]: r["n"] for r in fp_rows if r["n"]}
    n_items = F.col("n_items")
    if false_pos:
        per_bucket = F.create_map(*[F.lit(v) for kv in false_pos.items() for v in kv])
        n_items = n_items + F.coalesce(F.try_element_at(per_bucket, F.col("bucket")), F.lit(0))
    state_next = nxt.select(*[n_items.alias(c) if c == "n_items" else c for c in BLOOM_COLS])
    saturated = tuple(sorted(r["bucket"] for r in fp_rows if r["over"] > 0))
    return Admission(
        admitted, state_next, sum(r["n"] for r in tally), saturated, (admitted, fused))

