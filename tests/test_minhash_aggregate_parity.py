"""Parity pin for the shared MinHash LSH head (one aggregate over
exploded shingles, struct banding).  xxhash64: ``minhash_candidates``
must return exactly the pairs of the per-row fold pipeline below — the
``minhash_signature`` Column form, HOF banding over the signature array,
then the shared ``_bucket_pairs`` tail.  md5: ``minhash_candidates_md5``
must return the pairs of hashlib signatures (``tests/md5_oracle.py``)
banded by the SQL definition the DuckDB oracles replay.  ``minhash_state``
xxhash64 signatures are pinned against the pure-Python XXH64 oracle, and
the plan shape of both families is pinned so neither the interpreted fold
nor a Python UDF can come back unnoticed."""

import os

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import DEFAULT_SF
from evalidate_spark.functions import dedup
from evalidate_spark.functions.similarity import _ensure_parallelism
from tests import md5_oracle, xxh64_oracle as X

SF = os.path.join(DEFAULT_SF, "documents.parquet")


def _fold_bands(sig, bands, rows):
    """Reference banding: the signature let-bound via a single-element
    ``transform`` so it appears once in the plan, then one struct
    ``(band, xxhash64(slice))`` per band."""
    per_band = F.transform(
        F.array(sig),
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                F.xxhash64(F.slice(s, b * rows + 1, rows)).alias("h"),
            ),
        ),
    )
    return F.flatten(per_band)


def _fold_candidates(df, num_hashes, bands, shingle_k=3, max_bucket=64):
    """Reference pipeline: per-row fold signature → HOF banding →
    ``_bucket_pairs``, with the same NULL-text/NULL-id filter."""
    rows = num_hashes // bands
    ids, tc = F.col("doc_id"), F.col("text")
    live = _ensure_parallelism(df.filter(tc.isNotNull() & ids.isNotNull()))
    sigs = live.select(
        ids.alias("__id"), dedup.minhash_signature(tc, num_hashes, shingle_k).alias("__sig")
    )
    banded = sigs.select(
        "__id", F.explode(_fold_bands(F.col("__sig"), bands, rows)).alias("b")
    ).select(F.col("b.band").alias("band"), F.col("b.h").alias("h"), "__id")
    return dedup._bucket_pairs(banded, max_bucket)


def _md5_oracle_candidates(spark, df, num_hashes, bands, shingle_k=3, max_bucket=64):
    """Reference md5 pipeline: hashlib signatures per live row (NULL text
    and NULL id dropped, duplicate ids kept), banded in SQL as
    ``md5(concat_ws('|', <band slice>))``, then ``_bucket_pairs``."""
    rows = num_hashes // bands
    sigs = spark.createDataFrame(
        [
            (i, md5_oracle.minhash_signature_md5(t, num_hashes, shingle_k))
            for i, t in df.select("doc_id", "text").collect()
            if i is not None and t is not None
        ],
        "__id long, __sig array<string>",
    )
    banded = sigs.select(
        "__id",
        F.posexplode(F.expr(
            "transform(sequence(0, %d), b -> md5(concat_ws('|', slice(__sig, b * %d + 1, %d))))"
            % (bands - 1, rows, rows)
        )).alias("band", "h"),
    )
    return dedup._bucket_pairs(banded, max_bucket)


def _pairs(df):
    return sorted(
        tuple(r) for r in df.select("id_a", "id_b", "n_bands", "truncated").collect()
    )


def _edge_df(spark):
    body = "the quick brown fox jumps over the lazy dog again"
    return spark.createDataFrame(
        [
            (1, body), (1, body + " twice"), (2, body), (3, body),
            (None, body), (None, body + " twice"),
            (4, ""), (5, ""), (6, "   \t "), (7, " \n"),
            (8, "one two"), (9, "one two"), (10, "one"),
            (11, None), (12, None), (None, None),
        ],
        "doc_id long, text string",
    )


@pytest.mark.parametrize("num_hashes,bands", [(16, 4), (32, 16), (64, 16)])
def test_candidates_equal_fold_on_documents(spark, num_hashes, bands):
    d = spark.read.parquet(SF).select("doc_id", "text")
    want = _pairs(_fold_candidates(d, num_hashes, bands))
    assert want, "corpus must produce candidate pairs"
    assert _pairs(dedup.minhash_candidates(d, num_hashes=num_hashes, bands=bands)) == want


def test_candidates_equal_fold_on_edge_frame(spark):
    d = _edge_df(spark)
    for max_bucket in (3, 64):
        want = _pairs(_fold_candidates(d, 16, 4, max_bucket=max_bucket))
        got = _pairs(dedup.minhash_candidates(d, num_hashes=16, bands=4, max_bucket=max_bucket))
        assert got == want, max_bucket
    # duplicate ids stay two signatures: the two id-1 rows pair with each
    # other, and both count toward (1, 2)
    assert any(p[:2] == (1, 1) for p in got)
    assert (1, 2, 5, False) in got and (4, 5, 4, False) in got
    assert all(None not in (a, b) for a, b, _, _ in got)


@pytest.mark.parametrize("num_hashes,bands", [(16, 8), (32, 16)])
def test_md5_candidates_equal_oracle_on_documents(spark, num_hashes, bands):
    d = spark.read.parquet(SF).select("doc_id", "text")
    want = _pairs(_md5_oracle_candidates(spark, d, num_hashes, bands))
    assert want, "corpus must produce candidate pairs"
    got = dedup.minhash_candidates_md5(d, num_hashes=num_hashes, bands=bands)
    assert _pairs(got) == want


def test_md5_candidates_equal_oracle_on_edge_frame(spark):
    d = _edge_df(spark)
    for max_bucket in (3, 64):
        want = _pairs(_md5_oracle_candidates(spark, d, 16, 4, max_bucket=max_bucket))
        got = _pairs(
            dedup.minhash_candidates_md5(d, num_hashes=16, bands=4, max_bucket=max_bucket)
        )
        assert got == want, max_bucket
    # duplicate ids stay two signatures; identical texts share all 4 bands
    assert any(p[:2] == (1, 1) for p in got)
    assert any(p[:2] == (1, 2) and p[2] >= 4 for p in got) and (4, 5, 4, False) in got
    assert all(None not in (a, b) for a, b, _, _ in got)


def test_candidates_equal_fold_on_degenerate_bucket(spark):
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("the exact same boilerplate text repeated everywhere").alias("text"),
    )
    want = _pairs(_fold_candidates(df, 16, 4, max_bucket=20))
    assert len(want) == 190
    assert _pairs(dedup.minhash_candidates(df, num_hashes=16, bands=4, max_bucket=20)) == want


def test_minhash_state_matches_xxh64_oracle(spark):
    d = (
        spark.read.parquet(SF).filter(F.col("doc_id") < 60).select("doc_id", "text")
        .union(_edge_df(spark))
    )
    rows = dedup.minhash_state(d, "u0", num_hashes=16, hash_fn="xxhash64").collect()
    want = sorted(
        (i, X.minhash_signature(t, 16, 3)) for i, t in
        ((r["doc_id"], r["text"]) for r in d.collect())
        if i is not None and t is not None
    )
    assert sorted((r["doc_id"], list(r["sig"])) for r in rows) == want
    assert {r["increment"] for r in rows} == {"u0"}


def test_minhash_candidates_plan_is_one_hash_aggregate(spark):
    d = spark.read.parquet(SF).select("doc_id", "text")
    qe = dedup.minhash_candidates(d, num_hashes=32, bands=16)._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert "aggregate(" not in optimized and "zip_with(" not in optimized
    physical = qe.executedPlan().toString()
    assert "HashAggregate(keys=[__row" in physical
    assert "min(xxhash64(__h" in physical


def test_minhash_candidates_md5_plan_is_one_aggregate(spark):
    # no Python UDF; the string minima are one aggregate keyed on __row
    # (sort-based: Spark keeps a hash aggregate for fixed-width buffers only)
    d = spark.read.parquet(SF).select("doc_id", "text")
    physical = dedup.minhash_candidates_md5(d)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in physical and "BatchEvalPython" not in physical
    assert "SortAggregate(key=[__row" in physical
    assert "min(substring(md5(cast(concat(0:, __h" in physical
