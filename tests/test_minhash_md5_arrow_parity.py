"""Oracle pin for the md5 MinHash signature: ``minhash_state(...,
hash_fn="md5")`` signatures, built by the shared compiled head
(``dedup._minhash_slots``), must equal the SQL definition the DuckDB
oracles replay — ``min(substr(md5(i || ':' || shingle), 1, 16))`` per
permutation — as computed by the hashlib oracle in
``tests/md5_oracle.py``.  Randomized corpora + the contract corners
(empty text, whitespace-only, duplicate shingles, unicode, short docs
below shingle_k); the NULL-text corner is left out of the state."""

import random

from evalidate_spark.functions import dedup
from tests import md5_oracle


def _sigs(spark, texts, num_hashes=8, shingle_k=3):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    rows = dedup.minhash_state(
        df, "u0", id_col="id", num_hashes=num_hashes, shingle_k=shingle_k, hash_fn="md5"
    ).collect()
    got = {r["doc_id"]: list(r["sig"]) for r in rows}
    assert len(got) == len(rows)
    want = {
        i: md5_oracle.minhash_signature_md5(t, num_hashes, shingle_k)
        for i, t in enumerate(texts)
        if t is not None
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
    sigs = [tuple(v) for v in got.values()]
    assert len(set(sigs)) > 10
    assert all(len(h) == 16 for v in sigs for h in v)


def test_arrow_equals_hof_on_contract_corners(spark):
    got, want = _sigs(spark, md5_oracle.CORNERS)
    assert got == want
    # the NULL-text row has no state; empty and whitespace-only texts
    # collapse to the '' shingle signature
    assert md5_oracle.CORNERS[0] is None and 0 not in got
    assert got[1] == got[2]


def test_identical_texts_share_signatures(spark):
    got, _ = _sigs(spark, ["same exact text here ok", "same exact text here ok"])
    assert got[0] == got[1]
