"""Unit tests for the URL-seen dedup operator family (SURVEY.md U2) and the
snapshot-store commit features the incremental Bloom path relies on."""

import os

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators import dedup as dd


@pytest.fixture(scope="module")
def seen_and_cands(spark):
    seen_urls = [(f"http://h{i % 7}.example.com/p/{i}",) for i in range(0, 600, 2)]
    cand_urls = [(f"http://h{i % 7}.example.com/p/{i}",) for i in range(0, 600, 3)]
    seen = dd.with_url_hash(spark.createDataFrame(seen_urls, ["url"]))
    cands = dd.with_url_hash(spark.createDataFrame(cand_urls, ["url"]))
    return seen, cands


def test_bloom_equals_exact(seen_and_cands):
    seen, cands = seen_and_cands
    exact = {r.url for r in dd.admit_new_exact(cands, seen).collect()}
    bloom = dd.bloom_build(seen, n_buckets=8)
    via_bloom = {r.url for r in dd.admit_new_bloom(cands, seen, bloom, 8).collect()}
    assert via_bloom == exact
    # candidates divisible by 6 are in seen; the rest (mult of 3, odd) are new
    assert exact == {u for (u,) in cands.select("url").toPandas().itertuples(index=False)} - {
        u for (u,) in seen.select("url").toPandas().itertuples(index=False)
    }


def test_bloom_incremental_update_equals_full_rebuild(spark, seen_and_cands):
    """Cogrouped delta updates must admit exactly like a full rebuild."""
    seen, cands = seen_and_cands
    first = seen.filter(F.col("url_hash") % 2 == 0)
    second = seen.filter(F.col("url_hash") % 2 != 0)
    merged = dd.bloom_update(dd.bloom_build(first, n_buckets=8), second.select("url_hash"), 8)
    full = dd.bloom_build(seen, n_buckets=8)
    adm_merged = {r.url for r in dd.admit_new_bloom(cands, seen, merged, 8).collect()}
    adm_full = {r.url for r in dd.admit_new_bloom(cands, seen, full, 8).collect()}
    exact = {r.url for r in dd.admit_new_exact(cands, seen).collect()}
    assert adm_merged == adm_full == exact


def test_bloom_no_false_negatives(seen_and_cands):
    """Every seen url_hash must probe as probably_seen (bloom invariant)."""
    seen, _ = seen_and_cands
    bloom = dd.bloom_build(seen, n_buckets=8)
    probed = dd.bloom_probe(seen, bloom, 8)
    assert probed.filter(~F.col("probably_seen")).count() == 0
    # update must track n_items; a saturating bucket is flagged via counts
    upd = dd.bloom_update(bloom, seen.select("url_hash"), 8).collect()
    assert all(r["n_items"] == 2 * b["n_items"] for r, b in zip(
        sorted(upd, key=lambda r: r["bucket"]),
        sorted(bloom.collect(), key=lambda r: r["bucket"]),
    ))


# --- shard-grouped kernels vs a per-bucket reference -----------------------


def _ref_rows(hashes, n_buckets, fpp, rows=None):
    """Per-bucket reference: build (rows=None) or update existing rows with
    ``hashes``, bucket by bucket, from the numpy primitives."""
    import numpy as np

    rows = {r["bucket"]: dict(r) for r in (rows or {}).values()}
    by_bucket = {}
    for h in hashes:
        by_bucket.setdefault(h % n_buckets, []).append(h)
    for b, hs in by_bucket.items():
        hs = np.array(hs, dtype=np.int64)
        if b not in rows:
            rows[b] = dd._sized_row(b, hs, fpp)
            continue
        r = rows[b]
        bits = np.frombuffer(r["bits"], dtype=np.uint8).copy()
        dd._or_into(bits, hs, r["n_bits"], r["k"])
        rows[b] = {**r, "bits": bits.tobytes(), "n_items": r["n_items"] + len(hs)}
    return rows


def _ref_probe(rows, h, n_buckets):
    import numpy as np

    r = rows.get(h % n_buckets)
    if r is None:
        return False
    return bool(dd._probe_bits(np.array([h], dtype=np.int64), r["bits"], r["n_bits"], r["k"])[0])


def _as_rows(df):
    return {
        r["bucket"]: {**r.asDict(), "bits": bytes(r["bits"])}
        for r in df.select(*dd.BLOOM_COLS).collect()
    }


@pytest.mark.parametrize(
    "n_buckets,fpp,n_cands",
    [(16, 0.01, 300), (4, 0.01, 300), (32, 0.5, 300), (16, 0.01, 0)],
    ids=["buckets>partitions", "buckets<partitions", "forced-fp", "no-candidates"],
)
def test_shard_kernels_match_per_bucket_reference(spark, n_buckets, fpp, n_cands):
    """Build, update, probe and the fused pass return exactly the rows of a
    per-bucket reference.  Seen URLs avoid the last two buckets: one gets
    candidates (a fresh bucket, no Bloom row), one stays empty; buckets
    above ``n_buckets // 2`` get no candidates (a row, but nothing to
    probe).  The test session runs 8 shuffle partitions."""
    mk = lambda urls: dd.with_url_hash(spark.createDataFrame([(u,) for u in urls], "url string"))
    pool = [f"http://h{i % 5}.example.com/p/{i}" for i in range(4000)]
    hashes = dict(mk(pool).select("url", "url_hash").collect())
    bucket = {u: h % n_buckets for u, h in hashes.items()}
    seen_urls = [u for u in pool[:1500] if bucket[u] < n_buckets - 2]
    fresh = n_buckets - 2
    cand_urls = [
        u for u in pool[1000:] if bucket[u] <= n_buckets // 2 or bucket[u] == fresh
    ][:n_cands]
    assert any(bucket[u] == fresh for u in cand_urls) or not n_cands
    seen, cands = mk(seen_urls), mk(cand_urls)

    ref = _ref_rows([hashes[u] for u in seen_urls], n_buckets, fpp)
    bloom = dd.bloom_build(seen, n_buckets, fpp).persist()
    assert _as_rows(bloom) == ref

    probed = {r.url: r.probably_seen for r in dd.bloom_probe(cands, bloom, n_buckets).collect()}
    ref_probed = {u: _ref_probe(ref, hashes[u], n_buckets) for u in cand_urls}
    assert probed == ref_probed

    upd = dd.bloom_update(bloom, cands.select("url_hash"), n_buckets, fpp)
    assert _as_rows(upd) == _ref_rows([hashes[u] for u in cand_urls], n_buckets, fpp, ref)

    seen_set = set(seen_urls)
    exact = {u for u in cand_urls if u not in seen_set}
    false_pos = {u for u in exact if ref_probed[u]}
    if fpp == 0.5:
        assert false_pos  # the n_items correction runs
    adm = dd.bloom_admit(cands, seen, bloom, n_buckets, fpp)
    rows = adm.admitted.collect()
    assert {r.url for r in rows} == exact == {
        r.url for r in dd.admit_new_bloom(cands, seen, bloom, n_buckets).collect()}
    assert adm.n_admitted == len(rows) == len(exact)
    assert {r.url for r in rows if r.probably_seen} == false_pos
    assert _as_rows(adm.state_next) == _ref_rows(
        [hashes[u] for u in exact], n_buckets, fpp, ref)
    for df in (bloom, *adm.cached):
        df.unpersist()


@pytest.mark.parametrize("n", [8_192, 10_000_000])
def test_bloom_sized_from_observed_counts_fpp_bounded(spark, n):
    """Bench scale (32 hashes per bucket) and scale path (10⁷ seen hashes):
    bits sized per-bucket from observed counts, not a capacity floor —
    false-positive rate on fresh keys stays ≤ 2× nominal, and the filter
    never transits the driver (the only collect here is the test's)."""
    fpp = 0.01
    seen = spark.range(n).select(F.xxhash64("id").alias("url_hash"))
    bloom = dd.bloom_build(seen, n_buckets=256, fpp=fpp).persist()
    rows = bloom.select("bucket", "n_bits", "n_items", "capacity").collect()
    assert len(rows) == 256
    assert all(r["capacity"] >= r["n_items"] for r in rows)
    # sizing follows observed load, not a constant: ~10 bits/key at 1% fpp
    total_bits = sum(r["n_bits"] for r in rows)
    assert 6 * n < total_bits < 30 * n
    fresh = spark.range(n, n + 200_000).select(F.xxhash64("id").alias("url_hash"))
    fp = dd.bloom_probe(fresh, bloom, 256).filter(F.col("probably_seen")).count()
    assert fp / 200_000 <= 2 * fpp
    bloom.unpersist()


def test_commit_round_blobs_and_concurrent_writes(spark, tmpdir_path):
    """RoundCommit writes every table concurrently under one manifest."""
    from crawler_spark.sources import snapshots as snap

    df_a = spark.range(100).withColumnRenamed("id", "a")
    df_b = spark.range(50).withColumnRenamed("id", "b")
    rc = snap.RoundCommit(tmpdir_path, 0)
    rc.write("ta", df_a)
    rc.write("tb", df_b)
    manifest = rc.commit(meta={"x": 1})
    assert set(manifest["tables"]) == {"ta", "tb"}
    assert snap.read_full(spark, tmpdir_path, "ta", 0).count() == 100
    assert snap.read_full(spark, tmpdir_path, "tb", 0).count() == 50


def test_round_commit_streaming_and_torn_write(spark, tmpdir_path):
    """RoundCommit: early-submitted writes land under the same atomic
    manifest; an uncommitted (manifest-less) round dir from a crash between
    write() and commit() is invisible to readers and cleaned on resume."""
    from crawler_spark.sources import snapshots as snap

    rc = snap.RoundCommit(tmpdir_path, 0)
    rc.write("early", spark.range(10).withColumnRenamed("id", "a"))
    rc.write("late", spark.range(5).withColumnRenamed("id", "b"))
    manifest = rc.commit(meta={"x": 1})
    assert set(manifest["tables"]) == {"early", "late"}
    assert snap.read_full(spark, tmpdir_path, "early", 0).count() == 10
    assert snap.committed_rounds(tmpdir_path) == [0]

    # simulate a crash after an early write but before the manifest seal
    torn = snap.RoundCommit(tmpdir_path, 1)
    torn.write("early", spark.range(3).withColumnRenamed("id", "a"))
    torn._ex.shutdown(wait=True)  # writes done, manifest never written
    assert snap.committed_rounds(tmpdir_path) == [0]  # torn round invisible
    removed = snap.clean_uncommitted(tmpdir_path)
    assert len(removed) == 1 and "round=00001" in removed[0]
    # a fresh attempt for the same round succeeds after cleanup
    retry = snap.RoundCommit(tmpdir_path, 1)
    retry.write("early", spark.range(3).withColumnRenamed("id", "a"))
    retry.commit()
    assert snap.committed_rounds(tmpdir_path) == [0, 1]


class _Table:
    """The slice of DataFrame RoundCommit.write uses (``df.write.mode(m)
    .parquet(path, compression=c)``), logging when each write starts and
    ends."""

    def __init__(self, log, seconds=0.0, error=None):
        self.log, self.seconds, self.error = log, seconds, error

    @property
    def write(self):
        return self

    def mode(self, _):
        return self

    def parquet(self, path, compression=None):
        import time

        name = os.path.basename(path)
        self.log.append(("start", name))
        time.sleep(self.seconds)
        try:
            if self.error:
                raise self.error
            os.makedirs(path)
        finally:
            self.log.append(("end", name))


def test_round_commit_failed_write_stops_siblings(tmpdir_path):
    """A table write that raises fails the commit only after the running
    writes end and the queued ones are cancelled: no writer outlives the
    failed commit (resume removes its round directory), and no manifest
    seals the round."""
    from crawler_spark.sources import snapshots as snap

    log = []
    rc = snap.RoundCommit(tmpdir_path, 0, max_workers=2)
    rc.write("slow", _Table(log, seconds=0.5))
    rc.write("bad", _Table(log, error=OSError("disk full")))
    for i in range(4):
        rc.write(f"queued{i}", _Table(log, seconds=0.3))
    with pytest.raises(OSError, match="disk full"):
        rc.commit(meta={"x": 1})
    started = [n for ev, n in log if ev == "start"]
    ended = [n for ev, n in log if ev == "end"]
    assert sorted(started) == sorted(ended)  # nothing still running
    assert "queued3" not in started  # cancelled before it could start
    assert snap.committed_rounds(tmpdir_path) == []
    assert len(snap.clean_uncommitted(tmpdir_path)) == 1


def test_round_commit_fsyncs_manifest_and_directory(tmpdir_path, monkeypatch):
    """The manifest's bytes are fsync'd before the rename that commits it,
    and the round directory (which holds the rename) after it, both before
    commit returns."""
    import stat

    from crawler_spark.sources import snapshots as snap

    rc = snap.RoundCommit(tmpdir_path, 0)
    manifest = os.path.join(rc.rdir, snap.MANIFEST)
    synced = []
    real_fsync = os.fsync

    def spy(fd):
        st = os.fstat(fd)
        synced.append((st.st_ino, stat.S_ISDIR(st.st_mode), os.path.exists(manifest)))
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", spy)
    rc.commit(meta={"x": 1})
    assert synced == [
        (os.stat(manifest).st_ino, False, False),  # the .tmp, before os.replace
        (os.stat(rc.rdir).st_ino, True, True),  # the directory, after it
    ]


def _crawl(spark, fix, ckpt, rounds, resume=False, **kw):
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.plans.policy import CrawlConfig

    return CrawlEngine(spark, fix, ckpt, CrawlConfig(max_rounds=rounds), **kw).run(resume)


def test_engine_resume_rebuilds_incompatible_bloom(spark, tmpdir_path, monkeypatch):
    """A checkpoint whose Bloom table is of another format (3 was the deleted
    cuckoo backend's) or another bucketing is not read back: resume rebuilds
    the filter from url_seen and ends at the same url_seen and fetch-log
    rows as a straight crawl."""
    import json
    import shutil

    from crawler_spark.fixtures import generate
    from crawler_spark.sources import snapshots as snap

    fix = os.path.join(tmpdir_path, "fix")
    generate(fix, n_pages=96, n_hosts=4, seed=7)
    straight_dir = os.path.join(tmpdir_path, "straight")
    straight = _crawl(spark, fix, straight_dir, 4)
    assert straight["rounds"] == 4
    for rnd in range(4):
        meta = snap.read_manifest(straight_dir, rnd)["meta"]
        assert meta["bloom_format"] == dd.BLOOM_FORMAT
        assert meta["bloom_buckets"] == 256

    def two_rounds(name):  # rounds 0-1 of the straight crawl = a 2-round crawl
        ckpt = os.path.join(tmpdir_path, name)
        for rnd in (0, 1):
            d = f"round={rnd:05d}"
            shutil.copytree(os.path.join(straight_dir, d), os.path.join(ckpt, d))
        return ckpt

    builds = []
    real_build = dd.bloom_build
    monkeypatch.setattr(
        dd, "bloom_build", lambda *a, **kw: builds.append(a[1:]) or real_build(*a, **kw)
    )
    # a compatible resume reads the committed table back
    _crawl(spark, fix, two_rounds("ok"), 3, resume=True)
    assert builds == []

    foreign = two_rounds("foreign")
    manifest = snap.read_manifest(foreign, 1)
    manifest["meta"]["bloom_format"] = 3
    with open(os.path.join(foreign, "round=00001", snap.MANIFEST), "w") as f:
        json.dump(manifest, f)
    resumed = {"foreign": _crawl(spark, fix, foreign, 4, resume=True)}
    assert builds == [(256, 0.01)]

    rebucketed = two_rounds("rebucketed")
    resumed["rebucketed"] = _crawl(spark, fix, rebucketed, 4, resume=True, bloom_buckets=64)
    assert builds == [(256, 0.01), (64, 0.01)]
    assert snap.read_manifest(rebucketed, 3)["meta"]["bloom_buckets"] == 64

    for case, summary in resumed.items():
        assert summary["rounds"] == 2, case
        for key in ("url_seen_digest", "fetch_log_digest"):
            assert summary[key] == straight[key], (case, key)


def test_engine_ingest_payloads(spark, tmpdir_path):
    """Ingest-time payload pass: every fetched image decode-checked per round."""
    from crawler_spark.fixtures import generate
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.plans.policy import CrawlConfig, ST_FETCHED

    fix = os.path.join(tmpdir_path, "fix")
    generate(fix, n_pages=96, n_hosts=4, seed=7, image_shards=4)
    ckpt = os.path.join(tmpdir_path, "ckpt")
    eng = CrawlEngine(spark, fix, ckpt, CrawlConfig(max_rounds=4), ingest_payloads=True)
    summary = eng.run()
    assert summary["payload_checked"] > 0
    assert summary["payload_ok"] is True
    # payload coverage == distinct fetched image ids
    from crawler_spark.sources import snapshots as snap

    last = snap.latest_round(ckpt)
    plog = snap.read_deltas(spark, ckpt, "payload_log", last)
    fetched_imgs = (
        eng.fetch_log()
        .filter(F.col("status") == ST_FETCHED)
        .join(eng.pages.select("url", "image_id"), "url")
        .select("image_id")
        .distinct()
        .count()
    )
    assert plog.select("image_id").distinct().count() == fetched_imgs


def test_engine_ingest_jpeg_payloads_clear_lossy_gate(spark, tmpdir_path):
    """North-rule lossy invariant end to end: a crawl over a fixture whose
    payload mix includes REAL baseline-JPEG rows must verify every fetched
    payload — exact phash (stored post-decode for lossy fmts) and finite
    roundtrip PSNR, with the engine's >=40dB gate green."""
    from crawler_spark.fixtures import generate
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.plans.policy import CrawlConfig
    from crawler_spark.sources import snapshots as snap

    fix = os.path.join(tmpdir_path, "fixj")
    generate(fix, n_pages=72, n_hosts=3, seed=11, image_shards=2, fmts=["png", "jpeg"])
    ckpt = os.path.join(tmpdir_path, "ckptj")
    eng = CrawlEngine(spark, fix, ckpt, CrawlConfig(max_rounds=3), ingest_payloads=True)
    summary = eng.run()
    assert summary["payload_checked"] > 0
    assert summary["payload_ok"] is True
    last = snap.latest_round(ckpt)
    plog = snap.read_deltas(spark, ckpt, "payload_log", last)
    images = spark.read.parquet(os.path.join(fix, "images.parquet"))
    by_fmt = {
        r.fmt: r
        for r in plog.join(images.select("image_id", "fmt"), "image_id")
        .groupBy("fmt")
        .agg(
            F.count("*").alias("n"),
            F.min(F.col("decode_ok").cast("int")).alias("all_decode"),
            F.min(F.col("phash_ok").cast("int")).alias("all_phash"),
            F.min("psnr_db").alias("min_psnr"),
        )
        .collect()
    }
    assert set(by_fmt) == {"png", "jpeg"}
    for fmt, r in by_fmt.items():
        assert r.n > 0 and r.all_decode == 1 and r.all_phash == 1
    assert by_fmt["png"].min_psnr == float("inf")  # lossless
    jp = by_fmt["jpeg"].min_psnr
    assert jp != float("inf") and jp >= 40.0  # genuinely lossy, gate clear


def test_sharded_images_match_single_file(tmpdir_path):
    """image_shards>1 writes the same rows as the single-file layout."""
    import pyarrow.parquet as pq

    from crawler_spark.fixtures import generate

    d1 = os.path.join(tmpdir_path, "one")
    d2 = os.path.join(tmpdir_path, "many")
    generate(d1, n_pages=64, n_hosts=4, seed=3, image_shards=1)
    generate(d2, n_pages=64, n_hosts=4, seed=3, image_shards=8)
    t1 = pq.read_table(os.path.join(d1, "images.parquet")).sort_by("image_id")
    t2 = pq.read_table(os.path.join(d2, "images.parquet")).sort_by("image_id")
    assert t1.equals(t2)


def test_delta_compaction_reads_from_snapshot(spark, tmpdir_path):
    """A compacted table is a full snapshot: read_deltas skips older rounds
    (and would double-count if it didn't)."""
    from crawler_spark.sources import snapshots as snap

    d0 = spark.range(0, 10).withColumnRenamed("id", "k")
    full1 = spark.range(0, 20).withColumnRenamed("id", "k")  # 0..9 folded in
    d2 = spark.range(20, 25).withColumnRenamed("id", "k")
    for rnd, df, compacted in ((0, d0, ()), (1, full1, ("t",)), (2, d2, ())):
        rc = snap.RoundCommit(tmpdir_path, rnd)
        rc.write("t", df)
        rc.commit(compacted=compacted)
    out = snap.read_deltas(spark, tmpdir_path, "t", 2)
    assert out.count() == 25  # 35 would mean round 0 was (wrongly) included
    assert {r.k for r in out.collect()} == set(range(25))
    # reads bounded before the compaction still see the original deltas
    assert snap.read_deltas(spark, tmpdir_path, "t", 0).count() == 10


def test_engine_compaction_preserves_membership(spark, tmpdir_path):
    """url_seen compaction every 2 rounds: same membership as the simulator,
    no duplicate rows in the compacted table."""
    import os

    from crawler_spark.fixtures import generate
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.plans.policy import CrawlConfig
    from crawler_spark.simulator import simulate

    fix = os.path.join(tmpdir_path, "fix")
    generate(fix, n_pages=96, n_hosts=4, seed=7)
    cfg = CrawlConfig(max_rounds=6)
    eng = CrawlEngine(spark, fix, os.path.join(tmpdir_path, "ck"), cfg, compact_every=2)
    eng.run()
    sim = simulate(fix, cfg)
    rows = eng.url_seen().collect()
    assert {r.url for r in rows} == sim.url_seen
    assert len(rows) == len(sim.url_seen)  # compaction introduced no dups


def test_engine_soak_many_rounds_resume_clean(spark, tmpdir_path):
    """Soak: tight budgets force many rounds across several compaction
    cycles and the T2 round-deadline, and two Bloom buckets outgrow their
    64-item floor; afterwards (a) every round has a committed manifest, (b)
    a bucket a round commits past capacity is rebuilt from url_seen at
    HEADROOM × its load before the next round, (c) url_seen equals the
    simulator's and resume re-admits NOTHING (url_seen exactness survives
    long histories, folding and rebuilds), (d) membership covers the log."""
    import glob
    import os

    from crawler_spark.fixtures import generate
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.plans.policy import CrawlConfig
    from crawler_spark.simulator import simulate
    from crawler_spark.sources import snapshots as snap

    fix = os.path.join(tmpdir_path, "soakfix")
    generate(fix, n_pages=768, n_hosts=8, seed=13)
    ckpt = os.path.join(tmpdir_path, "soakck")
    cfg = CrawlConfig(
        round_seconds=2.0, max_burst_per_host=8, max_rounds=8, max_wait_rounds=4
    )
    eng = CrawlEngine(spark, fix, ckpt, cfg, compact_every=3, bloom_buckets=2)
    s = eng.run()
    assert s["rounds"] == 8
    assert len(glob.glob(os.path.join(ckpt, "round=*", "MANIFEST.json"))) == 8
    blooms = [
        {
            r.bucket: r
            for r in snap.read_full(
                spark, ckpt, "bloom", snap.read_manifest(ckpt, rnd)["meta"]["bloom_round"]
            ).collect()
        }
        for rnd in range(8)
    ]
    saturated = [
        (rnd, b) for rnd in range(7) for b, r in blooms[rnd].items() if r.n_items > r.capacity
    ]
    assert saturated
    for rnd, b in saturated:
        assert blooms[rnd + 1][b].capacity == dd.HEADROOM * blooms[rnd][b].n_items
    assert {r.url for r in eng.url_seen().collect()} == simulate(fix, cfg).url_seen
    # every committed table is zstd parquet, column chunk by column chunk
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(ckpt, "round=*", "*", "*.parquet"))
    codecs = {
        md.row_group(g).column(c).compression
        for md in (pq.ParquetFile(f).metadata for f in files)
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    }
    assert files and codecs == {"ZSTD"}

    eng2 = CrawlEngine(spark, fix, ckpt, cfg, compact_every=3, bloom_buckets=2)
    s2 = eng2.run(resume=True)
    assert s2["selected"] == 0  # nothing re-admitted after resume

    seen = {r.url for r in eng2.url_seen().collect()}
    logged = {r.url for r in eng2.fetch_log().select("url").distinct().collect()}
    assert logged <= seen


def test_engine_rounds_leave_no_persisted_frames(spark, tmpdir_path):
    """Every frame a round persists (classification, admission, the fused
    Bloom pass) is released by the round's end: after each round the
    session holds only the engine's own table caches."""
    import dataclasses

    from crawler_spark.fixtures import generate
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.plans.policy import CrawlConfig

    fix = os.path.join(tmpdir_path, "fix")
    generate(fix, n_pages=96, n_hosts=4, seed=7)
    eng = CrawlEngine(spark, fix, os.path.join(tmpdir_path, "ck"), CrawlConfig(max_rounds=1))
    for df in (eng.pages, eng.robots, eng._landing):
        df.count()
    def persisted():  # getPersistentRDDs returns a snapshot: call it each time
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = persisted()
    for rounds in (1, 2, 3):
        eng.cfg = dataclasses.replace(eng.cfg, max_rounds=rounds)
        assert eng.run(resume=rounds > 1)["rounds"] == 1
        assert persisted() == base, f"round {rounds - 1} left persisted RDDs"


def test_rows_digest_counts_duplicates_and_null_positions(spark):
    """Two fetch logs that differ only by a duplicated row, or only by which
    field is null, get different digests; row order does not matter."""
    from crawler_spark.plans.engine import rows_digest

    schema = "round int, url string, status string, attempt int"
    cols = ["round", "url", "status", "attempt"]
    a, b = (0, "http://h/a", "FETCHED", 0), (1, "http://h/b", "FETCHED", 0)
    digest = lambda rows: rows_digest(spark.createDataFrame(rows, schema), cols)
    assert digest([a, b]) == digest([b, a])
    assert digest([a]) != digest([a, b, b])  # an xor cancels the pair
    assert digest([a, b]) != digest([a, b, b])
    assert digest([(0, "http://h/a", None, 0)]) != digest([(0, "http://h/a", "0", None)])
    assert digest([(0, None, "x", 0)]) != digest([(0, "x", None, 0)])
