"""Oracle pin for the SRP integer-dot core (`_with_srp_dots`): the
Arrow path (one int64 numpy matmul per batch) must be BIT-IDENTICAL to
the pure-Column fold below, which spells out the per-element SQL the
DuckDB oracles replay — integer addition is associative, so any
divergence means the quantisation (Spark `F.round` HALF_UP vs sign-aware
floor(|x|·s+0.5)) or the plane matrix drifted.  Randomized vectors + the
adversarial shapes that stress the rounding boundary (exact .5 products,
negative zero, tiny magnitudes, the hostile embedding corpus)."""

from pyspark.sql import functions as F

from evalidate_spark.fixtures import HOSTILE_EMBEDDINGS
from evalidate_spark.functions.similarity import (
    _srp_plane_weight,
    _vec_ok,
    _with_srp_dots,
)


def _hof_srp_dots(base, n_planes, dim, scale):
    """Reference: the quantised vector let-bound once, then one transform
    over a 2D plane literal folding each plane's integer dot."""
    qv = F.transform(
        F.col("__v"),
        lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long"),
    )
    planes2d = F.array(*[
        F.array(*[
            F.lit(_srp_plane_weight(p, d)).cast("long") for d in range(dim)
        ])
        for p in range(n_planes)
    ])
    dots = F.transform(
        planes2d,
        lambda w: F.aggregate(
            F.zip_with(F.col("__qv"), w, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    return base.withColumn("__qv", qv).withColumn("__dots", dots)


def _collect_dots(df):
    return {r["id"]: list(r["__dots"]) for r in df.select("id", "__dots").collect()}


def _dots(spark, rows, dim, n_planes=8, scale=1_000_000):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)], "id long, v array<float>"
    ).select("id", F.col("v").alias("__v"))
    return {
        "arrow": _collect_dots(_with_srp_dots(df, n_planes, dim, scale)),
        "hof": _collect_dots(_hof_srp_dots(df, n_planes, dim, scale)),
    }


def test_arrow_equals_hof_on_random_vectors(spark):
    import random

    rng = random.Random(42)
    dim = 16
    rows = [
        [rng.uniform(-3, 3) for _ in range(dim)] for _ in range(200)
    ]
    got = _dots(spark, rows, dim)
    assert got["arrow"] == got["hof"]
    # sanity: dots are non-trivial (not all zero)
    assert any(any(d != 0 for d in ds) for ds in got["arrow"].values())


def test_arrow_equals_hof_on_rounding_boundaries(spark):
    # products landing exactly on .5 (HALF_UP away from zero), negative
    # zero, sub-quantum magnitudes, and exact integers after scaling
    dim = 4
    rows = [
        [0.0000005, -0.0000005, 0.0000015, -0.0000025],  # exact .5 ties
        [-0.0, 0.0, 1e-9, -1e-9],                        # signed zero + tiny
        [1.0, -1.0, 0.5, -0.5],                          # exact integers
        [2.9999995, -2.9999995, 1e-7, -1e-7],
    ]
    got = _dots(spark, rows, dim)
    assert got["arrow"] == got["hof"]


def test_arrow_equals_hof_on_hostile_corpus(spark):
    dim = 64
    df = spark.createDataFrame(
        [(i, r[1]) for i, r in enumerate(HOSTILE_EMBEDDINGS)],
        "id long, v array<float>",
    ).filter(_vec_ok(F.col("v"), dim)).select("id", F.col("v").alias("__v"))
    a = _collect_dots(_with_srp_dots(df, 8, dim, 1_000_000))
    h = _collect_dots(_hof_srp_dots(df, 8, dim, 1_000_000))
    assert a and a == h


def test_arrow_path_is_in_the_plan(spark):
    """`_with_srp_dots` really runs the Arrow UDF (an ArrowEvalPython
    stage), and the reference really is pure-Column (no Python nodes)."""
    df = spark.createDataFrame([(1, [0.5] * 8)], "id long, v array<float>")
    df = df.select("id", F.col("v").alias("__v"))
    arrow_plan = (
        _with_srp_dots(df, 4, 8, 1_000_000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    hof_plan = (
        _hof_srp_dots(df, 4, 8, 1_000_000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in arrow_plan
    assert "ArrowEvalPython" not in hof_plan
    assert "BatchEvalPython" not in hof_plan


def _hof_lsh_pairs(spark, rows, planes, dim, seed=42):
    """Reference for `lsh_bucket_pairs`' Arrow sign-bit bucket: the
    pure-Column fold it replaced (one HOF dot per hyperplane, sign bits
    concatenated), with the same plane matrix and the same row filter.
    Returns every same-bucket id pair ``(a, b)``, ``a < b``."""
    import numpy as np

    from evalidate_spark.functions.similarity import _finite_vec, dot

    planes_m = np.random.default_rng(seed).standard_normal((planes, dim))
    vec = F.col("__v")
    bits = [
        (dot(vec, F.array(*[F.lit(float(x)) for x in row])) >= 0).cast("int").alias(f"b{i}")
        for i, row in enumerate(planes_m)
    ]
    bucket = F.concat_ws("", *[b.cast("string") for b in bits])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = (
        df.filter(
            F.col("vec_id").isNotNull()
            & (F.size("embedding") == dim)
            & _finite_vec(F.col("embedding"))
        )
        .select("vec_id", F.col("embedding").alias("__v"))
        .select("vec_id", bucket.alias("b"))
        .collect()
    )
    by_bucket = {}
    for r in got:
        by_bucket.setdefault(r["b"], []).append(r["vec_id"])
    return sorted(
        (a, b)
        for ids in by_bucket.values()
        for a in ids
        for b in ids
        if a < b
    )


class TestLshBucketArrowParity:
    """Float LSH bucket (`lsh_bucket_pairs`' Arrow matmul vs the HOF
    reference above): not formally order-independent like the integer
    family, so the pin is fixture equality — random vectors, the hostile
    corpus, and the full pair output of an injected-duplicate
    construction."""

    def _pairs(self, spark, rows, planes=8, dim=4):
        from evalidate_spark.functions.similarity import lsh_bucket_pairs

        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = lsh_bucket_pairs(
            df, planes=planes, max_bucket=64, dim=dim
        ).collect()
        return sorted(
            (r["id_a"], r["id_b"], r["cosine"], r["truncated"]) for r in got
        )

    def test_pair_outputs_equal_on_random_corpus(self, spark):
        import random

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(80)
        ] + [(1000 + i, [rng.uniform(-1, 1)] * 4) for i in range(5)]
        a = self._pairs(spark, rows)
        assert a  # non-vacuous: some bucket produced pairs
        assert not any(p[3] for p in a)  # no bucket hit the cap
        assert [p[:2] for p in a] == _hof_lsh_pairs(spark, rows, 8, 4)

    def test_exact_duplicates_always_pair_either_method(self, spark):
        v = [0.3, -0.2, 0.9, 0.1]
        rows = [(1, v), (2, v), (3, [-0.9, 0.4, 0.0, -0.3])]
        pairs = self._pairs(spark, rows)
        assert any(p[:2] == (1, 2) and p[2] == 1.0 for p in pairs)
        assert (1, 2) in _hof_lsh_pairs(spark, rows, 8, 4)

    def test_hostile_corpus_equal_and_nonfinite_excluded(self, spark):
        from evalidate_spark.fixtures import HOSTILE_EMBEDDINGS

        rows = [
            (i, r[1]) for i, r in enumerate(HOSTILE_EMBEDDINGS)
            if r[1] is not None
        ]
        a = self._pairs(spark, rows, dim=64)
        assert not any(p[3] for p in a)
        assert [p[:2] for p in a] == _hof_lsh_pairs(spark, rows, 8, 64)
        nonfinite_ix = {
            i for i, r in enumerate(HOSTILE_EMBEDDINGS)
            if r[1] is not None
            and any(x is None or x != x or abs(x) == float("inf") for x in r[1])
        }
        assert nonfinite_ix  # the corpus really carries non-finite rows
        assert all(
            p[0] not in nonfinite_ix and p[1] not in nonfinite_ix for p in a
        )
