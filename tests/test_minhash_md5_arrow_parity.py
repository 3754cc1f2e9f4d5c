"""Oracle pin for the md5 MinHash signature (`minhash_signature_md5`):
the Arrow UDF (stdlib md5 over distinct shingles, raw-digest minima)
must equal the SQL definition the DuckDB oracles replay —
``min(substr(md5(i || ':' || shingle), 1, 16))`` per permutation — as
computed by the hashlib oracle in ``tests/md5_oracle.py``.  The bytewise
8-byte digest order IS the lowercase 16-hex string order.  Randomized
corpora + the contract corners (NULL text, empty text, whitespace-only,
duplicate shingles, unicode, short docs below shingle_k)."""

import random

from pyspark.sql import functions as F

from evalidate_spark.functions.dedup import minhash_signature_md5
from tests import md5_oracle


def _sigs(spark, texts, num_hashes=8, shingle_k=3):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    rows = df.select(
        "id", minhash_signature_md5(F.col("text"), num_hashes, shingle_k).alias("sig")
    ).collect()
    got = {r["id"]: (None if r["sig"] is None else list(r["sig"])) for r in rows}
    want = {
        i: md5_oracle.minhash_signature_md5(t, num_hashes, shingle_k)
        for i, t in enumerate(texts)
    }
    return got, want


def test_arrow_equals_hof_on_random_corpus(spark):
    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "käse", "日本", "x"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for _ in range(120)
    ]
    got, want = _sigs(spark, texts)
    assert got == want
    # non-vacuous: signatures differ across docs and are 16-hex strings
    sigs = [tuple(v) for v in got.values() if v]
    assert len(set(sigs)) > 10
    assert all(len(h) == 16 for v in sigs for h in v if h is not None)


def test_arrow_equals_hof_on_contract_corners(spark):
    got, want = _sigs(spark, md5_oracle.CORNERS)
    assert got == want
    # NULL/empty/whitespace texts all collapse to the '' shingle signature
    assert got[0] == got[1] == got[2]


def test_identical_texts_share_signatures(spark):
    got, _ = _sigs(spark, ["same exact text here ok", "same exact text here ok"])
    assert got[0] == got[1]
