"""Iceberg-style snapshotted state store over Parquet (SURVEY.md §7).

No Iceberg runtime jars in this container, so we implement the part of its
contract the engine needs — ATOMIC, RESUMABLE round commits with manifest
metadata — directly over Parquet:

* each round writes its tables under ``<ckpt>/round=NNNN/<table>/`` as
  zstd parquet (a constant: the crawl's tables come out 17-40% smaller than
  with Spark's default snappy).  Readers do not depend on the codec, so
  checkpoints written with snappy resume unchanged and a delta union may
  mix the two
* a ``MANIFEST.json`` is written LAST via tmp-file + fsync + ``os.replace``
  + directory fsync (atomic on POSIX, and durable once the commit returns);
  a round directory without a manifest is an uncommitted torn write and is
  ignored + cleaned on resume
* append-only tables (url_seen, fetch_log, story_results, payload_log,
  task_trace) are stored as per-round DELTAS and unioned on read — the
  Iceberg manifest-list pattern, so a round's commit cost is O(round
  output), not O(total state); a delta table named in a round's
  ``compacted`` is a FULL snapshot, and ``read_deltas`` starts its union
  there (the Iceberg rewrite-manifests pattern)
* small per-round facts (tallies, Bloom geometry, per-partition lineage)
  ride the manifest's ``meta`` instead of a table, so they commit with the
  manifest itself
* the mutable frontier is stored in full each round (it is the working set;
  at 100 TB scale this becomes an Iceberg row-delta table, the layout and
  commit protocol here are deliberately swap-compatible)

Swap path to real Iceberg: point ``spark.sql.catalog.crawl`` at an Iceberg
catalog and replace ``RoundCommit``/``read_*`` with MERGE/snapshot reads;
the engine only touches this module for state IO.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "MANIFEST.json"


def _round_dir(ckpt_dir: str, rnd: int) -> str:
    return os.path.join(ckpt_dir, f"round={rnd:05d}")


class RoundCommit:
    """Streaming round commit: submit table writes AS THEY BECOME READY,
    seal with the manifest at the end (the atomic commit point).

    The round's long pole is usually one table (the payload-verification
    log: decode+phash+PSNR over every fetched image).  With a monolithic
    commit that pole serializes BEHIND the rest of the round's driver work
    (timeout scan, expansion, dedup) even though its input — the persisted
    classification — is final much earlier.  Submitting each write the
    moment its input is materialized makes the round wall
    max(long-pole, remaining-driver-work) instead of the sum — the fixed
    per-round latency this removes is exactly what erodes N→4N scaling
    efficiency (BASELINE.md "per-round fixed driver work").

    Atomicity is unchanged: writes land under the round dir, the manifest
    is still written LAST via tmp+rename, and a crash mid-round leaves a
    manifest-less torn dir that resume cleans.
    """

    def __init__(self, ckpt_dir: str, rnd: int, max_workers: int = 8):
        self.rdir = _round_dir(ckpt_dir, rnd)
        self.rnd = rnd
        if os.path.exists(self.rdir):
            shutil.rmtree(self.rdir)  # torn previous attempt for this round
        os.makedirs(self.rdir, exist_ok=True)
        self._ex = ThreadPoolExecutor(max_workers=max(1, max_workers))
        self._futs: dict[str, object] = {}

    def write(self, name: str, df: DataFrame) -> None:
        """Submit a table write now (returns immediately; runs on a commit
        thread as a concurrent Spark job).  The df's inputs must already be
        materialized (persisted/committed) — a lazy lineage would recompute
        upstream work on the commit thread."""
        path = os.path.join(self.rdir, name)

        def _write():
            df.write.mode("overwrite").parquet(path, compression="zstd")
            return path

        self._futs[name] = self._ex.submit(_write)

    def commit(self, meta: Optional[dict] = None, compacted: tuple[str, ...] = ()) -> dict:
        """Wait for every submitted write, then seal the manifest.

        If a write fails, the writes not yet started are cancelled and the
        running ones finish before the error propagates: no commit thread
        outlives a failed commit, so the torn round directory that resume
        removes has no writer left.  The manifest's bytes and its directory
        entry are fsync'd before this returns, so a committed round survives
        a power loss."""
        manifest: dict = {"round": self.rnd, "tables": {}, "meta": meta or {}}
        try:
            wait(self._futs.values(), return_when=FIRST_EXCEPTION)
            for name, fut in self._futs.items():
                manifest["tables"][name] = {
                    "path": fut.result(),
                    "compacted": name in compacted,
                }
        finally:
            self._ex.shutdown(wait=True, cancel_futures=True)
        tmp = os.path.join(self.rdir, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.rdir, MANIFEST))  # commit
        dfd = os.open(self.rdir, os.O_RDONLY)
        try:
            os.fsync(dfd)  # persist the rename itself
        finally:
            os.close(dfd)
        return manifest


def committed_rounds(ckpt_dir: str) -> list[int]:
    """Rounds with a valid manifest, ascending; torn dirs are skipped."""
    if not os.path.isdir(ckpt_dir):
        return []
    out = []
    for d in sorted(os.listdir(ckpt_dir)):
        if d.startswith("round=") and os.path.exists(os.path.join(ckpt_dir, d, MANIFEST)):
            out.append(int(d.split("=")[1]))
    return out


def latest_round(ckpt_dir: str) -> Optional[int]:
    rounds = committed_rounds(ckpt_dir)
    return rounds[-1] if rounds else None


def clean_uncommitted(ckpt_dir: str) -> list[str]:
    """Drop round dirs lacking a manifest (torn writes from a crash)."""
    removed = []
    if not os.path.isdir(ckpt_dir):
        return removed
    for d in os.listdir(ckpt_dir):
        p = os.path.join(ckpt_dir, d)
        if d.startswith("round=") and not os.path.exists(os.path.join(p, MANIFEST)):
            shutil.rmtree(p)
            removed.append(p)
    return removed


def read_full(spark: SparkSession, ckpt_dir: str, name: str, rnd: int) -> DataFrame:
    return spark.read.parquet(os.path.join(_round_dir(ckpt_dir, rnd), name))


def read_manifest(ckpt_dir: str, rnd: int) -> Optional[dict]:
    """The committed manifest for a round (None if uncommitted/missing)."""
    p = os.path.join(_round_dir(ckpt_dir, rnd), MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def read_deltas(
    spark: SparkSession, ckpt_dir: str, name: str, upto_round: int
) -> Optional[DataFrame]:
    """Union of a delta table across committed rounds ≤ upto_round, starting
    from the table's most recent COMPACTED snapshot (see the module doc)."""
    rounds = [r for r in committed_rounds(ckpt_dir) if r <= upto_round]
    start = 0
    for i, r in enumerate(rounds):
        entry = ((read_manifest(ckpt_dir, r) or {}).get("tables") or {}).get(name) or {}
        if entry.get("compacted"):
            start = i
    paths = []
    for r in rounds[start:]:
        p = os.path.join(_round_dir(ckpt_dir, r), name)
        if os.path.exists(p):
            paths.append(p)
    if not paths:
        return None
    return spark.read.parquet(*paths)
