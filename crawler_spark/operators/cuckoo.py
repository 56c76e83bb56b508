"""Partitioned cuckoo-filter URL-seen set — the deletable half of the north
rule's "Bloom/cuckoo" pair (SURVEY.md U2; reference parity note: the
reference's duplicate filter is bypassed, BackLogFetcher.java:115, so both
fast paths here are north-rule additions, not ports).

Same state model as the Bloom path (operators/dedup.py): the filter is a
DATAFRAME — one row per hash bucket (shard) — persisted beside the
checkpoint as parquet and built / updated / probed / DELETED entirely
executor-side via (cogrouped) ``applyInPandas``.  What the cuckoo filter
adds over Bloom is **deletion**: a crawl that expires URLs for recrawl can
remove them from the fast path instead of rebuilding it, see
``cuckoo_delete`` / ``expire_for_recrawl``.

Per-shard layout (Fan et al., "Cuckoo Filter: Practically Better Than
Bloom", CoNEXT 2014):

* ``table``   — ``n_slots`` buckets x 4 slots of 16-bit fingerprints
  (0 = empty; fingerprints are forced nonzero), little-endian uint16.
* partial-key addressing — ``i1 = bits(h)``, ``i2 = i1 XOR H(fp)`` with
  ``n_slots`` a power of two, so the pair is recoverable from either index
  (the eviction walk needs only the resident fingerprint).
* ``stash``   — (fp, canonical-slot) records for inserts whose eviction walk
  exceeds MAX_KICKS.  The canonical slot ``min(i1, i2)`` preserves entry
  IDENTITY (same semantics as a table slot), so probe stays exact-member and
  delete removes the right multiset entry.  A growing stash only degrades
  probe cost, never correctness; the engine's saturation sweep rebuilds the
  shard from ``url_seen`` with doubled geometry (cuckoo tables cannot grow
  in place — the stored fingerprints don't determine new indices).

Invariant (same as Bloom): the filter only PRUNES exact anti-join probes.
``probably_seen == False`` is a guarantee (no false negatives — insert never
drops an item: overflow lands in the stash), so admission via
``admit_new_cuckoo`` is identical to ``admit_new_exact``.  Deletion keeps
the guarantee as long as only previously-inserted members are deleted —
exactly the ``url_seen``-driven expiry contract of ``expire_for_recrawl``.

False-positive rate: fixed 16-bit fingerprints give
fpp <= 2 * SLOTS_PER_BUCKET / 2^16 ~= 1.2e-4 at any load the sizing allows —
the ``fpp`` argument on ``cuckoo_build`` exists for signature parity with
``bloom_build`` and is intentionally unused.
"""

from __future__ import annotations

import math
from types import SimpleNamespace

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.operators.dedup import Admission, admit_new_exact, counted, with_bucket

__all__ = [
    "CUCKOO_SCHEMA",
    "cuckoo_build",
    "cuckoo_update",
    "cuckoo_delete",
    "cuckoo_probe",
    "admit_new_cuckoo",
    "expire_for_recrawl",
    "CUCKOO_OPS",
]

CUCKOO_SCHEMA = (
    "bucket int, table binary, stash binary, n_slots long, n_items long, capacity long"
)
SLOTS_PER_BUCKET = 4
MAX_KICKS = 500
MIN_SLOTS = 256  # capacity floor 1024 entries/shard (mirrors bloom MIN_CAPACITY)
LOAD_TARGET = 0.84  # sizing load factor (CoNEXT '14 table 2, 4-way buckets)
CAP_FRACTION = 0.95  # n_items above this x table size flags the shard for rebuild
_H_CONST = 0x5BD1E995  # fingerprint hash multiplier (MurmurHash2 magic)
_STASH_DT = np.dtype([("fp", "<u2"), ("slot", "<u4")])


def _geometry(n_entries: int) -> tuple[int, int]:
    """(n_slots, capacity) for an expected entry count — power-of-two slots."""
    want = max(1, math.ceil(n_entries / (SLOTS_PER_BUCKET * LOAD_TARGET)))
    n_slots = max(MIN_SLOTS, 1 << (want - 1).bit_length())
    return n_slots, int(CAP_FRACTION * n_slots * SLOTS_PER_BUCKET)


def _fp_slots(hashes: np.ndarray, n_slots: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-hash (fingerprint, i1, i2).  fp from the TOP 16 bits, i1 from the
    middle bits — disjoint from the pmod-bucket routing bits so shard
    assignment doesn't bias in-shard placement."""
    h = hashes.astype(np.uint64)
    fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    mask = np.uint64(n_slots - 1)
    i1 = ((h >> np.uint64(16)) & mask).astype(np.int64)
    i2 = (i1.astype(np.uint64) ^ ((fp.astype(np.uint64) * np.uint64(_H_CONST)) & mask)).astype(
        np.int64
    )
    return fp, i1, i2


def _alt(i: int, fp: int, mask: int) -> int:
    return i ^ ((fp * _H_CONST) & mask)


def _insert_many(
    table: np.ndarray, stash: list, fp: np.ndarray, i1: np.ndarray, n_slots: int
) -> None:
    """Place each fingerprint at i1/i2 with bounded eviction; overflow → stash.

    The eviction victim rotates deterministically (kick % 4); determinism of
    the final LAYOUT is irrelevant anyway — probes check both of an entry's
    buckets plus the stash, so membership answers are layout-independent.
    """
    mask = n_slots - 1
    for f, i in zip(fp.tolist(), i1.tolist()):
        cur, pos = f, i
        for kick in range(MAX_KICKS):
            row = table[pos]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = cur
                break
            victim = kick % SLOTS_PER_BUCKET
            cur, row[victim] = int(row[victim]), cur
            pos = _alt(pos, cur, mask)
        else:
            stash.append((cur, min(pos, _alt(pos, cur, mask))))


def _probe_many(
    table: np.ndarray, stash: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray
) -> np.ndarray:
    hit = (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)
    if stash.size:
        canon = np.minimum(i1, i2).astype(np.uint64)
        key = (fp.astype(np.uint64) << np.uint64(32)) | canon
        skey = (stash["fp"].astype(np.uint64) << np.uint64(32)) | stash["slot"].astype(np.uint64)
        hit |= np.isin(key, skey)
    return hit


def _delete_many(
    table: np.ndarray, stash: list, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray
) -> int:
    """Remove ONE multiset entry per (fp, slot-pair); returns removed count.

    Contract: every deleted key was previously inserted (enforced by the
    url_seen-driven expiry path).  A key with no matching entry is a caller
    bug — raising here would poison the whole executor task, so it is
    counted and surfaced via the returned total instead.
    """
    removed = 0
    for f, a, b in zip(fp.tolist(), i1.tolist(), i2.tolist()):
        row = table[a]
        j = np.nonzero(row == f)[0]
        if not j.size:
            row = table[b]
            j = np.nonzero(row == f)[0]
        if j.size:
            row[j[0]] = 0
            removed += 1
            continue
        ident = (f, min(a, b))
        for k, entry in enumerate(stash):
            if (int(entry[0]), int(entry[1])) == ident:
                del stash[k]
                removed += 1
                break
    return removed


def _shard_row(bucket: int, table: np.ndarray, stash: list, n_slots: int, n_items: int):
    return {
        "bucket": bucket,
        "table": table.tobytes(),
        "stash": np.array(stash, dtype=_STASH_DT).tobytes(),
        "n_slots": n_slots,
        "n_items": n_items,
        "capacity": int(CAP_FRACTION * n_slots * SLOTS_PER_BUCKET),
    }


def _load_shard(row) -> tuple[np.ndarray, list, int]:
    n_slots = int(row["n_slots"])
    table = (
        np.frombuffer(bytes(row["table"]), dtype="<u2")
        .reshape(n_slots, SLOTS_PER_BUCKET)
        .copy()
    )
    stash = [tuple(e) for e in np.frombuffer(bytes(row["stash"]), dtype=_STASH_DT)]
    return table, stash, n_slots


# ---------------------------------------------------------------------------
# DataFrame-level lifecycle (mirrors dedup.bloom_*)
# ---------------------------------------------------------------------------


def cuckoo_build(url_seen: DataFrame, n_buckets: int = 256, fpp: float = 0.01) -> DataFrame:
    """Per-shard cuckoo tables over url_hash → DF(CUCKOO_SCHEMA).

    ``fpp`` is accepted for signature parity with ``bloom_build`` and
    ignored — see the module docstring for the fixed-fingerprint fpp bound.
    """
    import pandas as pd

    del fpp

    def _build(pdf):
        bucket = int(pdf["bucket"].iloc[0])
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
        n_slots, _cap = _geometry(len(hashes))
        table = np.zeros((n_slots, SLOTS_PER_BUCKET), dtype=np.uint16)
        stash: list = []
        fp, i1, _i2 = _fp_slots(hashes, n_slots)
        _insert_many(table, stash, fp, i1, n_slots)
        return pd.DataFrame([_shard_row(bucket, table, stash, n_slots, len(hashes))])

    hashed = with_bucket(url_seen, n_buckets)
    return hashed.select("bucket", "url_hash").groupBy("bucket").applyInPandas(
        _build, CUCKOO_SCHEMA
    )


def _apply_delta(filter_df: DataFrame, delta: DataFrame, n_buckets: int, op: str) -> DataFrame:
    """Cogrouped per-shard insert/delete of a url_hash delta — executor-side."""
    import pandas as pd

    delta = with_bucket(delta.select("url_hash"), n_buckets).select("bucket", "url_hash")

    def _merge(key, old, new):
        bucket = int(key[0])
        hashes = new["url_hash"].to_numpy(dtype=np.int64) if len(new) else np.empty(0, np.int64)
        if len(old) == 0:
            if op == "delete" or len(hashes) == 0:
                # deleting from a shard that was never built is the caller
                # violating the inserted-members contract; emit nothing
                return pd.DataFrame(
                    {
                        "bucket": pd.Series(dtype="int32"),
                        "table": pd.Series(dtype=object),
                        "stash": pd.Series(dtype=object),
                        "n_slots": pd.Series(dtype="int64"),
                        "n_items": pd.Series(dtype="int64"),
                        "capacity": pd.Series(dtype="int64"),
                    }
                )
            n_slots, _cap = _geometry(len(hashes))
            table = np.zeros((n_slots, SLOTS_PER_BUCKET), dtype=np.uint16)
            stash: list = []
            fp, i1, _i2 = _fp_slots(hashes, n_slots)
            _insert_many(table, stash, fp, i1, n_slots)
            return pd.DataFrame([_shard_row(bucket, table, stash, n_slots, len(hashes))])
        row = old.iloc[0]
        table, stash, n_slots = _load_shard(row)
        n_items = int(row["n_items"])
        if len(hashes):
            fp, i1, i2 = _fp_slots(hashes, n_slots)
            if op == "insert":
                _insert_many(table, stash, fp, i1, n_slots)
                n_items += len(hashes)
            else:
                n_items -= _delete_many(table, stash, fp, i1, i2)
        return pd.DataFrame([_shard_row(bucket, table, stash, n_slots, n_items)])

    return (
        filter_df.groupBy("bucket")
        .cogroup(delta.groupBy("bucket"))
        .applyInPandas(_merge, CUCKOO_SCHEMA)
    )


def cuckoo_update(
    filter_df: DataFrame, admitted: DataFrame, n_buckets: int, fpp: float = 0.01
) -> DataFrame:
    """Insert the round's admitted url_hash delta — O(Δ), executor-side.

    A shard past ``capacity`` keeps absorbing through its stash (probe
    stays exact-member, fpp unchanged, per-probe stash scan grows); the
    engine's saturation sweep rebuilds it from url_seen with regrown
    geometry, same as the Bloom path."""
    del fpp
    return _apply_delta(filter_df, admitted, n_buckets, "insert")


def cuckoo_delete(filter_df: DataFrame, removed: DataFrame, n_buckets: int) -> DataFrame:
    """Delete previously-inserted members (the operation Bloom cannot do).

    Every row of ``removed`` must have been inserted exactly once (the
    url_seen expiry contract) — deleting a never-inserted key could strip
    an identically-fingerprinted member and create a false negative."""
    return _apply_delta(filter_df, removed, n_buckets, "delete")


def cuckoo_probe(candidates: DataFrame, filter_df: DataFrame, n_buckets: int) -> DataFrame:
    """Add ``probably_seen`` to candidates (must carry url_hash) — cogrouped,
    the filter never transits the driver."""
    cols = [f.name for f in candidates.schema.fields]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields]
        + ["probably_seen boolean"]
    )

    def _probe(key, cand, fl):
        if len(cand) == 0:
            return cand.assign(probably_seen=np.empty(0, dtype=bool))[cols + ["probably_seen"]]
        if len(fl) == 0:
            cand = cand.assign(probably_seen=False)
        else:
            row = fl.iloc[0]
            table, stash, n_slots = _load_shard(row)
            hashes = cand["url_hash"].to_numpy(dtype=np.int64)
            fp, i1, i2 = _fp_slots(hashes, n_slots)
            cand = cand.assign(
                probably_seen=_probe_many(
                    table, np.array(stash, dtype=_STASH_DT), fp, i1, i2
                )
            )
        return cand[cols + ["probably_seen"]]

    bucketed = with_bucket(candidates, n_buckets)
    return (
        bucketed.groupBy("bucket")
        .cogroup(filter_df.groupBy("bucket"))
        .applyInPandas(_probe, out_schema)
    )


def admit_new_cuckoo(
    candidates: DataFrame, url_seen: DataFrame, filter_df: DataFrame, n_buckets: int
) -> DataFrame:
    """Cuckoo-pruned admission: identical result to admit_new_exact."""
    probed = cuckoo_probe(candidates, filter_df, n_buckets)
    definite_new = probed.filter(~F.col("probably_seen")).drop("probably_seen")
    maybe_seen = probed.filter(F.col("probably_seen")).drop("probably_seen")
    confirmed_new = maybe_seen.join(url_seen.select("url"), "url", "left_anti")
    return definite_new.unionByName(confirmed_new)


def expire_for_recrawl(
    url_seen: DataFrame, filter_df: DataFrame, expire: DataFrame, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """Expire members for recrawl: (url_seen', filter') with ``expire`` rows
    removed from BOTH — the deletion capability the north rule's "cuckoo"
    option buys.  ``expire`` must carry url + url_hash and be a subset of
    url_seen (enforce with a semi-join upstream if unsure); after expiry the
    same URLs are re-admittable by admit_new_cuckoo / admit_new_exact."""
    seen_next = url_seen.join(expire.select("url"), "url", "left_anti")
    filter_next = cuckoo_delete(filter_df, expire.select("url_hash"), n_buckets)
    return seen_next, filter_next


def _admit_then_update(
    candidates: DataFrame, url_seen: DataFrame, filter_df: DataFrame, n_buckets: int,
    fpp: float = 0.01,
) -> Admission:
    """The engine's admit op (see dedup.BLOOM_OPS): admit, then insert the
    admitted hashes."""
    admitted = admit_new_cuckoo(candidates, url_seen, filter_df, n_buckets)
    return counted(admitted, cuckoo_update(filter_df, admitted, n_buckets, fpp))


# engine-facing namespace: interchangeable with dedup.BLOOM_OPS
CUCKOO_OPS = SimpleNamespace(
    name="cuckoo",
    format_id=3,
    build=cuckoo_build,
    admit=_admit_then_update,
)
