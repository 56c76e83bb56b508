"""Unit tests for the text-dedup operator family (SURVEY.md §2.10), focused
on the banded simhash near-pair plan: full recall at Hamming ≤ bands−1 vs a
brute-force oracle, the negative-simhash band-key portability, and the
deterministic hot-bucket cap."""

import random

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.dedup_text import simhash_near_pairs


def _sim_df(spark, rows):
    return spark.createDataFrame(
        [(f"d{i:04d}", h) for i, h in enumerate(rows)], ["doc_id", "simhash"]
    )


def _to_i64(h):
    return h - (1 << 64) if h >= (1 << 63) else h


def _brute_pairs(rows, max_hamming):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if bin((rows[i] ^ rows[j]) & ((1 << 64) - 1)).count("1") <= max_hamming:
                out.add((f"d{i:04d}", f"d{j:04d}"))
    return out


def test_banded_recall_vs_brute_force(spark):
    """Pigeonhole: every pair at Hamming ≤ 3 shares one of the 4 bands, so
    candidates (uncapped) must be a superset of the brute-force ≤3 set."""
    rng = random.Random(42)
    rows = [rng.getrandbits(64) for _ in range(48)]
    # plant near-dups at controlled distances (1-3 bit flips), some flipping
    # high bits — the case round 2's single top-16 prefix band missed
    for base, flips in [(0, [63]), (7, [0, 32]), (13, [15, 31, 47]), (21, [60, 61])]:
        h = rows[base]
        for b in flips:
            h ^= 1 << b
        rows.append(h)
    i64 = [_to_i64(h) for h in rows]
    cand = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(_sim_df(spark, i64), bands=4, max_band_size=None).collect()
    }
    want = _brute_pairs(rows, max_hamming=3)
    assert want, "fixture must contain at least the planted near pairs"
    assert want <= cand


def test_high_bit_flip_found_negative_simhash(spark):
    """Hamming-1 pair differing only in the sign bit: the old prefix band
    missed it, and the arithmetic-shift band keys must handle the negative
    long without leaking sign-fill bits into lower bands."""
    df = _sim_df(spark, [0, _to_i64(1 << 63)])
    got = {(r.doc_a, r.doc_b) for r in simhash_near_pairs(df).collect()}
    assert got == {("d0000", "d0001")}


def test_one_flip_per_band_not_candidate(spark):
    """Hamming 4 spread one bit per band shares no band — bucketed plan, not
    an all-pairs join."""
    h = (1 << 3) | (1 << 19) | (1 << 35) | (1 << 51)
    df = _sim_df(spark, [0, h])
    assert simhash_near_pairs(df).count() == 0


def test_hot_bucket_cap_deterministic(spark):
    """All-identical simhashes: the cap keeps the first ``max_band_size``
    doc_ids per bucket, so pair count is exactly C(cap, 2)."""
    df = _sim_df(spark, [12345] * 20)
    capped = simhash_near_pairs(df, max_band_size=8).collect()
    assert len(capped) == 8 * 7 // 2
    kept = {r.doc_a for r in capped} | {r.doc_b for r in capped}
    assert kept == {f"d{i:04d}" for i in range(8)}  # lowest doc_ids win


def test_bands_must_divide_64(spark):
    with pytest.raises(ValueError):
        simhash_near_pairs(_sim_df(spark, [0]), bands=5)


def test_band_keys_match_duckdb_shift_semantics(spark):
    """The oracle's plain BIGINT ``>>`` + mask must reproduce Spark's band
    keys bit-for-bit on negative simhashes (q28's portability contract)."""
    duckdb = pytest.importorskip("duckdb")
    rng = random.Random(7)
    vals = [_to_i64(rng.getrandbits(64)) for _ in range(64)] + [0, -1, _to_i64(1 << 63)]
    df = _sim_df(spark, vals)
    keys = F.array(
        *[F.shiftright("simhash", b * 16).bitwiseAND(F.lit(65535)) for b in range(4)]
    )
    got = {
        (r.doc_id, r.band, r.band_key)
        for r in df.select("doc_id", F.posexplode(keys).alias("band", "band_key")).collect()
    }
    con = duckdb.connect()
    want = {
        (f"d{i:04d}", b, k)
        for i, v in enumerate(vals)
        for b, k in enumerate(
            con.execute(
                "SELECT (CAST(? AS BIGINT) >> 0) & 65535,"
                "       (CAST(? AS BIGINT) >> 16) & 65535,"
                "       (CAST(? AS BIGINT) >> 32) & 65535,"
                "       (CAST(? AS BIGINT) >> 48) & 65535",
                [v, v, v, v],
            ).fetchone()
        )
    }
    assert got == want


# --------------------------------------------------------------------------
# Materialized-tier reuse (the production pattern, dedup_text module
# docstring): one tokenization checkpoint feeds every shingle width, and a
# stored band table (q64's store) composes with a downstream miner (q79's
# verification stage) bit-identically to the from-scratch lineage.
# --------------------------------------------------------------------------


def _docs_df(spark):
    rows = [
        ("a", "the cat sat on the mat"),
        ("b", "the cat sat on the mat today"),
        ("c", "a dog ran in the park"),
        ("d", "the cat sat on the mat"),
        ("e", "one two"),          # shorter than a trigram
        ("f", "single"),           # unigram only
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_shingle_table_toks_reuse_bit_identical(spark):
    """shingle_table(d, n, toks=tokenized(d)) ≡ shingle_table(d, n) for every
    width — the equivalence the session-scoped shared tiers rely on."""
    from crawler_spark.operators.dedup_text import shingle_table, tokenized

    d = _docs_df(spark)
    tk = tokenized(d).localCheckpoint(eager=True)
    for n in (1, 2, 3):
        fresh = sorted(map(tuple, shingle_table(d, n=n).collect()))
        shared = sorted(map(tuple, shingle_table(d, n=n, toks=tk).collect()))
        assert fresh == shared, f"n={n}: toks= reuse changed the shingle table"


def test_stored_band_table_composes_with_miner(spark):
    """Compose q64's store with q79's miner: build the signature/band tiers
    ONCE from a shared tokenization checkpoint, then run both the incremental
    band join (store consumer) and the Jaccard verification (miner consumer)
    — results must equal each consumer's own from-scratch lineage."""
    from crawler_spark.operators.dedup_text import (
        lsh_band_table,
        lsh_candidate_pairs,
        minhash_signature,
        ngram_jaccard_pairs,
        shingle_table,
        tokenized,
    )

    d = _docs_df(spark)
    tk = tokenized(d).localCheckpoint(eager=True)
    sh3 = shingle_table(d, toks=tk).localCheckpoint(eager=True)

    # store consumer (q64's shape): signatures -> banded keys
    store = lsh_band_table(minhash_signature(d, shingles=sh3), k=6, bands=3)
    fresh_store = lsh_band_table(minhash_signature(d), k=6, bands=3)
    assert sorted(map(tuple, store.collect())) == sorted(map(tuple, fresh_store.collect()))

    # miner consumer (q79's verification stage) over the SAME shared tier
    cand = lsh_candidate_pairs(d, k=6, bands=3, shingles=sh3)
    mined = ngram_jaccard_pairs(d, cand, threshold=0.5, shingles=sh3)
    fresh = ngram_jaccard_pairs(
        d, lsh_candidate_pairs(d, k=6, bands=3), threshold=0.5
    )
    assert sorted(map(tuple, mined.collect())) == sorted(map(tuple, fresh.collect()))
    # the exact-dup pair (a, d) must survive verification in both lineages
    assert any(r.doc_a == "a" and r.doc_b == "d" for r in mined.collect())


def test_shared_tokens_follow_a_regenerated_fixture(spark, tmp_path):
    """A documents table rewritten under the same directory in one session
    gets freshly tokenized, not the checkpoint of the old content."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawler_spark.queries import shared_tokens

    def write(texts):
        table = pa.table({"doc_id": [f"d{i}" for i in range(len(texts))], "text": texts})
        pq.write_table(table, str(tmp_path / "documents.parquet"))

    def tokens():
        return sorted((r.doc_id, tuple(r.toks)) for r in shared_tokens(spark, str(tmp_path)).collect())

    write(["the cat sat", "a dog ran"])
    assert tokens() == [("d0", ("the", "cat", "sat")), ("d1", ("a", "dog", "ran"))]
    write(["regenerated fixture text"])
    assert tokens() == [("d0", ("regenerated", "fixture", "text"))]
