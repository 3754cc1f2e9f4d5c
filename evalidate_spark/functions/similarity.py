"""Similarity search over embedding columns (``array<float>``).

Three tiers, increasing scale:

* :func:`cosine_topk` — brute-force exact top-k: broadcast the (small)
  probe set, one scan of the corpus, per-query top-k via window rank.
  Baseline and oracle for the approximate paths.  O(|corpus|·|probes|·d)
  but zero shuffle of the corpus (probes are broadcast; the only shuffle
  is the per-query top-k of |corpus| candidate rows — pre-filtered by a
  per-partition partial top-k so the shuffle carries ≤ k·partitions rows
  per query).
* :func:`lsh_bucket_pairs` — random-hyperplane LSH all-pairs: sign-bit
  bucket then exact cosine inside buckets only.
* :func:`ivf_topk` — IVF (inverted file) ANN: k-means centroids fitted on
  a driver-side sample (numpy, deterministic seed), corpus assigned to its
  nearest centroid once (cheap: |corpus|·C dot products, no shuffle),
  queries probe only the ``nprobe`` nearest cells — the classic
  recall/throughput dial for 10^12-scale corpora.

Dot products use ``F.aggregate``/``F.zip_with`` (JVM-side, codegen) — no
Python in any hot path.
"""

from __future__ import annotations


from typing import List, Optional

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame, Window, functions as F


def cap_per_group(
    df: DataFrame, keys: List[str], order_col: str, cap: int, min_size: int = 2
) -> DataFrame:
    """Bound per-group rows BEFORE any aggregation buffer exists.

    Appends ``__rn`` (rank by *order_col* within *keys*) and ``__gsz`` (the
    TRUE group size), keeping only groups of ≥ *min_size* rows and the first
    *cap* rows of each.  Any later ``collect_list`` over the result holds at
    most *cap* elements per group — unlike collect-then-``slice``, whose
    aggregation buffer materialises the whole group first and OOMs on a
    boilerplate bucket with millions of members at corpus scale.  The window
    sort spills to disk (UnsafeExternalSorter); the aggregate buffer never
    grows past *cap*.  The window and the downstream groupBy hash-partition
    on the same keys, so no extra exchange is introduced."""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__rn", F.row_number().over(w.orderBy(order_col)))
        .withColumn("__gsz", F.count(F.lit(1)).over(w))
        .filter((F.col("__gsz") >= min_size) & (F.col("__rn") <= cap))
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin *df* up to ``defaultParallelism`` partitions when it
    has fewer.  A small or compacted input can arrive as 1-2 splits and
    would run a whole signature or scoring stage on that many cores.  At
    scale the scan already yields more splits than cores, so this never
    fires there and adds no shuffle to the big-corpus path.

    Reading the partition count goes through ``.rdd``, which plans the
    frame eagerly at graph-construction time and is unavailable under
    Spark Connect."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "embedding_q",
    scale_col: str = "emb_scale",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantisation: ``scale =
    max|x|/127``, ``q_i = round(x_i / scale) ∈ [-127, 127]`` (tinyint
    array) — a 4× (float32) / 8× (float64) smaller ANN working set, the
    standard storage/compute dial for 10^12-vector corpora; recall loss is
    negligible for typical embedding dims.  Pure Column HOFs, no Python.

    The scale is LET-BOUND via a 1-element ``transform`` — naively
    referencing the ``aggregate``-computed scale inside the per-element
    lambda would re-inline the whole max-reduction per element (O(d²) per
    row; see the MinHash plan-blow-up note in dedup.py).

    A vector with a NULL/NaN/±Inf element quantises to NULL scale + NULL
    codes (unanswerable, not fabricated): the naive arithmetic would
    silently turn a NaN vector into the all-zero code vector (Spark's
    non-ANSI NaN→tinyint cast is 0), which then scores 0.0 downstream —
    a fake-valid neighbour.  NULL propagates into the scorers' existing
    NULL-vector exclusion instead."""
    v = F.col("`%s`" % vec_col)
    amax = F.aggregate(
        v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x.cast("double")))
    )
    scale = F.when(
        _finite_vec(v),
        F.when(amax > 0.0, amax / 127.0).otherwise(F.lit(1.0)),
    )
    qv = F.element_at(
        F.transform(
            F.array(scale),
            lambda s: F.when(
                s.isNotNull(),
                F.transform(
                    v, lambda x: F.round(x.cast("double") / s).cast("tinyint")
                ),
            ),
        ),
        1,
    )
    return df.withColumn(scale_col, scale).withColumn(q_col, qv)


def dequantize(q_col: Column, scale_col: Column) -> Column:
    """int8 quantised vector + per-vector scale → ``array<double>``."""
    return F.element_at(
        F.transform(
            F.array(scale_col),
            lambda s: F.transform(q_col, lambda q: q.cast("double") * s),
        ),
        1,
    )


def _finite_vec(vc):
    """Dimension-agnostic finite-geometry predicate shared by the FLOAT
    scoring family (cosine top-k, IVF, centroid outliers/silhouette,
    LSH buckets, semantic dedup): a vector with a NULL/NaN/±Inf element
    is EXCLUDED, never scored.  NaN comparisons diverge across engines
    (Spark orders NaN greatest and ``NaN > 0`` is true; DuckDB's NaN
    comparisons are false), so a non-finite cosine would rank
    engine-divergently — exclusion is the only portable contract.
    ``embedding_health`` owns *counting* these rows; every scorer owns
    excluding them.  :func:`_vec_ok` is the fixed-dim variant used by
    the integer-exact family."""
    bad = F.filter(
        vc,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
    return vc.isNotNull() & (F.size(bad) == 0)


def _vec_ok(vc, dim: int):
    """Shared validity predicate for the integer-exact vector family:
    non-NULL, exactly *dim* wide, and every element finite — a NULL/NaN/
    Inf element would otherwise poison the integer dot SILENTLY (Spark
    casts NaN·scale to 0L while DuckDB refuses the cast), so unknown or
    non-finite geometry is excluded, never fabricated."""
    bad = F.filter(
        vc,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
    return vc.isNotNull() & (F.size(vc) == dim) & (F.size(bad) == 0)


def _srp_plane_weight(p: int, d: int) -> int:
    """md5-derived SRP plane weight in [-1000, 1000] — deterministic and
    replayable in any engine with md5: ``int(md5('srp:p:d')[:8], 16)
    % 2001 - 1000``."""
    import hashlib

    h = int(hashlib.md5(f"srp:{p}:{d}".encode()).hexdigest()[:8], 16)
    return h % 2001 - 1000


def srp_candidates_md5(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 32,
    bands: int = 4,
    dim: int = 64,
    max_bucket: int = 256,
    min_cosine: float = 0.9,
    scale: int = 1_000_000,
) -> DataFrame:
    """Signed-random-projection LSH over embeddings with an md5-keyed,
    INTEGER-EXACT hash family — the embedding-side twin of
    ``dedup.minhash_candidates_md5``: every stage (plane weights, sign
    bits, banding, bucketing, pair generation, exact-cosine filter) is
    replayable bit-for-bit as an ANSI-SQL oracle, putting the whole
    sublinear embedding-dedup pipeline under the cross-engine hash gate.
    The numpy-seeded :func:`lsh_bucket_pairs` stays the cheap production
    default; this family is the verification path.

    Exactness across engines: vectors quantise to ``round(x·10^6)``
    int64 and plane weights are md5-derived ints in [-1000, 1000], so
    each projection is an exact integer dot (|dot| ≤ d·10^9 ≪ 2^63 —
    no float summation-order hazard); the sign bit is then unambiguous.
    ``n_planes`` bits split into *bands* OR-amplified bands (r =
    n_planes/bands sign bits each): near-identical vectors agree on all
    bits and collide in every band, while a random pair passes a band
    with probability 2^-r.  Candidates within capped buckets get an
    EXACT cosine (rounded to 6 dp — the cross-engine float contract)
    and only pairs ≥ *min_cosine* survive → ``(id_a, id_b, n_bands,
    cosine, truncated)`` (``truncated`` marks pairs from a capped
    bucket — explicit recall-loss visibility, as in the text LSH
    family).

    Scale shape: one shuffle on (band, bucket) at signature cardinality,
    per-bucket cap BEFORE any collect buffer (``cap_per_group``), the
    exact-cosine join runs at candidate cardinality only.  NULL ids,
    NULL vectors, wrong-dimension vectors, and vectors containing NULL
    or non-finite elements are excluded up front (a NULL/NaN/Inf element
    would void the whole integer dot — unknown geometry is not evidence
    of similarity)."""
    if n_planes % bands != 0:
        raise ValueError("srp_candidates_md5: bands must divide n_planes")
    r = n_planes // bands
    if r > 62:
        raise ValueError("srp_candidates_md5: band width must fit an int64")
    ic, vc = F.col("`%s`" % id_col), F.col("`%s`" % vec_col)
    base = df.filter(
        ic.isNotNull()
        & _vec_ok(vc, dim)
    ).select(ic.alias("__id"), vc.alias("__v"))

    sigd = _with_srp_dots(base, n_planes, dim, scale)

    def bit(p: int):
        return (F.element_at(F.col("__dots"), p + 1) >= 0).cast("long")

    band_keys = []
    for b in range(bands):
        h = F.lit(0).cast("long")
        for i in range(r):
            h = h + bit(b * r + i) * F.lit(1 << i).cast("long")
        band_keys.append(
            F.struct(F.lit(b).alias("band"), h.alias("h"))
        )
    banded = sigd.select(
        "__id", F.explode(F.array(*band_keys)).alias("bh")
    ).select(F.col("bh.band").alias("band"), F.col("bh.h").alias("h"), "__id")

    from .dedup import _bucket_pairs

    pairs = _bucket_pairs(banded, max_bucket)
    va = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    vb = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    scored = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_bands").cast("int").alias("n_bands"),
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cosine"),
            "truncated",
        )
    )
    return scored.filter(F.col("cosine") >= float(min_cosine))


def embedding_drift(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_waves: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Wave-over-wave embedding-distribution drift — the vector-space
    twin of ``text.vocab_drift``: vectors slice into *n_waves* equal
    id-ranges (the ingest-order proxy ``table_checks._waves``) and
    each wave reports the cosine between ITS centroid and the previous
    wave's — ``(wave, n_vecs, centroid_cos_prev)`` (NULL for the first
    wave).  A falling curve is how a silent encoder-version change, a
    domain shift, or a preprocessing regression shows up in a 10^12-row
    embedding column long before recall metrics move.

    Cross-engine exactness: per-dim centroid sums accumulate
    ``round(x·10^6)`` int64 (order-independent — float mean vectors are
    NOT reproducible across engines), centroids floor-divide by the wave
    count (explicit double-floor: Spark ``div`` truncates while DuckDB
    ``//`` floors, and sums go negative), and only the final cosine is
    a float, rounded to 6 dp.  Plan: ONE aggregate computes all
    dim×waves sums (64 map-side-combined sum expressions — no explode,
    the shuffle carries n_waves rows of 64 longs, never row×dim), then
    an (n_waves)-row self-join.  NULL ids/vectors/elements and
    wrong-dimension vectors are excluded (same contract as
    :func:`srp_candidates_md5`).  int64 envelope: a per-dim sum reaches
    n_rows × |x|_max × scale, so at 10^12 rows the default scale=10^6
    is safe only for |x|≤9 (9.2e18 / 10^18) — normalised or
    near-normalised embeddings, which is the intended domain.  For
    unnormalised vectors at that row count, lower ``scale`` (10^3 buys
    |x|≤9·10^3) or widen the accumulators to decimal; non-ANSI Spark
    long sums wrap SILENTLY on overflow, so stay inside the envelope."""
    from ..operators.table_checks import _waves

    if n_waves < 1:
        raise ValueError("embedding_drift: n_waves must be >= 1")
    ic, vc = F.col("`%s`" % id_col), F.col("`%s`" % vec_col)
    base = df.filter(
        ic.isNotNull()
        & _vec_ok(vc, dim)
    ).select(ic.alias("__id"), vc.alias("__v"))
    waved = _waves(base, n_waves).select(F.col("__w").alias("wave"), "__v")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_vecs")]
    for d in range(dim):
        el = F.element_at(F.col("__v"), d + 1).cast("double")
        aggs.append(
            F.sum(F.round(el * F.lit(float(scale))).cast("long"))
            .cast("long")
            .alias("__s%d" % d)
        )
    per_wave = waved.groupBy("wave").agg(*aggs)
    cent = per_wave.select(
        "wave",
        "n_vecs",
        F.array(*[
            F.floor(F.col("__s%d" % d).cast("double") / F.col("n_vecs"))
            .cast("long")
            for d in range(dim)
        ]).alias("__c"),
    )
    prev = cent.select(
        (F.col("wave") + 1).alias("wave"), F.col("__c").alias("__cp")
    )
    idot = F.aggregate(
        F.zip_with(F.col("__c"), F.col("__cp"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )

    def inorm(c):
        return F.sqrt(
            F.aggregate(
                c, F.lit(0).cast("long"), lambda a, x: a + x * x
            ).cast("double")
        )

    denom = inorm(F.col("__c")) * inorm(F.col("__cp"))
    return (
        cent.join(prev, "wave", "left")
        .select(
            "wave",
            "n_vecs",
            F.when(
                F.col("__cp").isNull(), F.lit(None).cast("double")
            )
            .when(denom > 0, F.round(idot.cast("double") / denom, 6))
            .otherwise(F.lit(0.0))
            .alias("centroid_cos_prev"),
        )
        .orderBy("wave")
    )


def _with_srp_dots(
    base: DataFrame, n_planes: int, dim: int, scale: int
) -> DataFrame:
    """Attach ``__dots`` (array of the n_planes integer plane dots) to a
    frame carrying ``__v`` — the shared signature core of
    :func:`srp_candidates_md5` and :func:`srp_state`.

    An Arrow ``pandas_udf``: ONE int64 numpy matmul per batch (quantise →
    ``Q @ planesᵀ``).  Integer addition is associative, so the matmul is
    BIT-IDENTICAL to the per-element SQL fold the DuckDB oracle replays —
    no float summation-order hazard — while replacing ~n_planes·dim
    interpreted expression steps per row (HOFs never enter whole-stage
    codegen; ~1 ms/row at 32×64, the dominant cost of the whole
    verification family in BENCH_r04) with vectorized BLAS-shape work
    (~1 µs/row).  Quantisation replicates Spark's ``F.round`` HALF_UP via
    sign-aware ``floor(|x|·scale+0.5)`` (the ``cosine_topk_blas``
    precedent); overflow is structurally impossible (|dot| ≤
    dim·(scale·|x|_max)·1000 ≪ 2^63 inside the :func:`_vec_ok` envelope).
    tests/test_srp_arrow_parity.py pins it against the Column fold."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [[_srp_plane_weight(p, d) for d in range(dim)] for p in range(n_planes)],
        dtype=np.int64,
    )

    @pandas_udf(ArrayType(LongType()))
    def _dots(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        v = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        a = np.abs(v) * float(scale)
        q = (np.floor(a + 0.5) * np.sign(v)).astype(np.int64)
        d = q @ planes.T
        return pd.Series(list(d))

    return base.withColumn("__dots", _dots(F.col("__v")))


def srp_state(
    df: DataFrame,
    increment: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 32,
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """Stored SRP signature state for one ingest increment:
    ``(increment, vec_id, sig)`` where ``sig`` packs the *n_planes*
    md5-keyed sign bits (:func:`srp_candidates_md5`'s integer-exact
    family) into one int64.  The cross-increment dedup shape: write this
    tiny state per ingest, and
    :func:`srp_dedup_against_state` dedups any new increment against
    ALL history from states alone — historical vectors are never
    rescanned, and similarity is estimated from the stored bits
    (bit-agreement share), not from the embeddings.  Exclusion contract
    matches the batch family."""
    if n_planes > 62:
        raise ValueError("srp_state: n_planes must fit an int64 signature")
    ic, vc = F.col("`%s`" % id_col), F.col("`%s`" % vec_col)
    base = df.filter(
        ic.isNotNull()
        & _vec_ok(vc, dim)
    ).select(ic.alias("vec_id"), vc.alias("__v"))
    sigd = _with_srp_dots(base, n_planes, dim, scale)
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        bit = (F.element_at(F.col("__dots"), p + 1) >= 0).cast("long")
        sig = sig + bit * F.lit(1 << p).cast("long")
    return sigd.select(
        F.lit(increment).alias("increment"), "vec_id", sig.alias("sig")
    )


def srp_dedup_against_state(
    new_state: DataFrame,
    old_state: DataFrame,
    n_planes: int = 32,
    bands: int = 2,
    max_bucket: int = 256,
) -> DataFrame:
    """Bipartite cross-increment near-dup candidates from SRP states
    alone: band keys derive from the stored signatures by bit
    arithmetic, new×old buckets join, and similarity is the exact
    bit-agreement share — ``(id_new, inc_new, id_old, inc_old, n_bands,
    hamming, sim_bp)`` with ``sim_bp = (n_planes − hamming)·10000 div
    n_planes``.  No embedding is touched on either side: at 10^12
    vectors the history scan this replaces is the entire cost.
    (``sim_bp`` is monotone in angular cosine — rank/threshold on it
    directly; recover a cosine estimate as ``cos(π·hamming/n_planes)``
    downstream if needed.  Integer output keeps the gate exact.)

    The old (history) side caps per bucket BEFORE the join
    (``cap_per_group``) so one degenerate bucket cannot explode the
    bipartite product; capped pairs carry ``truncated = true``."""
    if n_planes % bands != 0:
        raise ValueError("srp_dedup_against_state: bands must divide n_planes")
    r = n_planes // bands
    mask = (1 << r) - 1

    def banded(state: DataFrame, prefix: str) -> DataFrame:
        keys = F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.expr("CAST(sig DIV %d AS BIGINT) %% %d" % (1 << (b * r), mask + 1))
                .alias("h"),
            )
            for b in range(bands)
        ])
        return state.select(
            F.col("vec_id").alias(prefix + "_id"),
            F.col("increment").alias(prefix + "_inc"),
            F.col("sig").alias(prefix + "_sig"),
            F.explode(keys).alias("bh"),
        ).select(
            prefix + "_id", prefix + "_inc", prefix + "_sig",
            F.col("bh.band").alias("band"), F.col("bh.h").alias("h"),
        )

    nb = banded(new_state, "new")
    # min_size=1: a singleton HISTORY bucket still pairs with new-side
    # members (the self-join default of 2 only makes sense when pairs
    # come from within one bucket)
    ob = cap_per_group(
        banded(old_state, "old"), ["band", "h"], "old_id", max_bucket,
        min_size=1,
    )
    j = nb.join(ob, ["band", "h"])
    pairs = j.groupBy("new_id", "new_inc", "old_id", "old_inc").agg(
        F.count(F.lit(1)).cast("int").alias("n_bands"),
        F.first("new_sig").alias("__sa"),
        F.first("old_sig").alias("__sb"),
        (F.max("__gsz") > max_bucket).alias("truncated"),
    )
    hamming = F.bit_count(F.expr("__sa ^ __sb")).cast("int")
    return pairs.select(
        F.col("new_id").alias("id_new"),
        F.col("new_inc").alias("inc_new"),
        F.col("old_id").alias("id_old"),
        F.col("old_inc").alias("inc_old"),
        "n_bands",
        hamming.alias("hamming"),
        F.expr(
            "CAST((%d - bit_count(__sa ^ __sb)) * 10000 DIV %d AS BIGINT)"
            % (n_planes, n_planes)
        ).alias("sim_bp"),
        "truncated",
    )


def centroid_aggs(v: Column, dim: int, scale: int = 1_000_000) -> List[Column]:
    """The centroid family's aggregates over valid (:func:`_vec_ok`)
    vectors *v*: ``n_vecs`` and the per-dim int64 sums ``__s<d>`` of
    ``round(x·scale)`` (0 on an empty input).  Read by
    :func:`embedding_centroid_state` and ``streaming.centroid_stream``."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_vecs")]
    for d in range(dim):
        el = F.element_at(v, d + 1).cast("double")
        aggs.append(
            F.coalesce(
                F.sum(F.round(el * F.lit(float(scale))).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("__s%d" % d)
        )
    return aggs


def centroid_rows(agg_df: DataFrame, dim: int, keep=()) -> DataFrame:
    """The centroid family's finishing projection: the *keep* columns,
    ``n_vecs`` and the ``sums`` array."""
    sums = F.array(*[F.col("__s%d" % d) for d in range(dim)]).alias("sums")
    return agg_df.select(*keep, "n_vecs", sums)


def embedding_centroid_state(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """ONE-ROW mergeable centroid state for an embedding increment:
    ``(n_vecs, sums)`` where ``sums`` is the per-dim int64 sum of
    ``round(x·10^6)`` — the same integer-exact accumulation as
    :func:`embedding_drift`, factored into the scan-once-forever shape
    of the HLL/KLL/Theta state families: fold increments with
    :func:`merge_centroid_states`, compare any two states with
    :func:`centroid_state_cosine`, and history vectors are never
    rescanned.  Exclusion contract matches ``embedding_drift``
    (NULL id/vector/element, wrong dim).  int64 envelope is also
    ``embedding_drift``'s: a per-dim sum (across ALL folded increments)
    reaches n_rows × |x|_max × scale — at 10^12 total rows the default
    scale=10^6 holds only for |x|≤9 (normalised embeddings); lower
    ``scale`` or widen to decimal beyond that, since long sums wrap
    silently.  The aggregates are :func:`centroid_aggs`, finished by
    :func:`centroid_rows`."""
    ic, vc = F.col("`%s`" % id_col), F.col("`%s`" % vec_col)
    base = df.filter(ic.isNotNull() & _vec_ok(vc, dim)).select(vc.alias("__v"))
    # a global agg yields exactly one row even on empty input (count 0,
    # sums coalesced to 0) — the empty-increment state is valid
    return centroid_rows(base.agg(*centroid_aggs(F.col("__v"), dim, scale)), dim)


def merge_centroid_states(states: DataFrame) -> DataFrame:
    """Fold per-increment :func:`embedding_centroid_state` rows into one:
    counts and per-dim sums just add (exact int64, order-insensitive).
    O(increments) rows in, one row out; ``array_sort`` on (dim, sum)
    structs restores dimension order after the fold (``collect_list``
    order is not deterministic)."""
    sums = (
        states.select(F.posexplode("sums").alias("d", "s"))
        .groupBy("d")
        .agg(F.sum("s").cast("long").alias("s"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "s"))),
                lambda x: x["s"],
            ).alias("sums")
        )
    )
    return (
        states.agg(F.sum("n_vecs").cast("long").alias("n_vecs"))
        .crossJoin(F.broadcast(sums))
        .select("n_vecs", "sums")
    )


def centroid_state_cosine(a_row, b_row) -> float:
    """Cosine between two centroid states (driver-side, two tiny rows):
    floor-divided integer centroids, float only at the end — the same
    arithmetic as :func:`embedding_drift`'s wave comparison."""
    import math

    ca = [math.floor(s / a_row["n_vecs"]) for s in a_row["sums"]]
    cb = [math.floor(s / b_row["n_vecs"]) for s in b_row["sums"]]
    dot = sum(x * y for x, y in zip(ca, cb))
    na = math.sqrt(sum(x * x for x in ca))
    nb = math.sqrt(sum(x * x for x in cb))
    return round(dot / (na * nb), 6) if na * nb > 0 else 0.0


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbours for every probe:
    ``(query_id, neighbor_id, cosine, rank)``, rank 1..k, ties broken by
    neighbor id (deterministic).

    Probes are broadcast (they must be small — a probe *set*, not a second
    corpus); the corpus is scanned once and scored JVM-side.  The partial
    top-k is a per-partition Arrow ``mapInPandas`` prune with O(|probes|·k)
    running state (batches folded into a bounded per-query buffer), so the
    ONLY exchange in the plan is the final per-query window over
    ≤ k·partitions rows per query — a window over the full scored set would
    instead hash-exchange every |corpus|·|probes| scored row first.

    NULL contract: corpus rows with NULL id or vector and probes with NULL
    query id or vector are EXCLUDED (unanswerable, not fabricated-zero);
    a corpus/probe pair of different vector lengths is excluded too (the
    cosine is undefined, and a ragged corpus should be caught by a
    validation rule upstream).  A zero vector is valid and scores 0.0;
    a vector with a NULL/NaN/±Inf element is excluded on either side
    (:func:`_finite_vec` — non-finite cosines rank engine-divergently).
    """
    c = corpus.filter(
        F.col("`%s`" % id_col).isNotNull()
        & _finite_vec(F.col("`%s`" % vec_col))
    ).select(
        F.col("`%s`" % id_col).alias("neighbor_id"), F.col("`%s`" % vec_col).alias("__cv")
    )
    p = probes.filter(
        F.col("`%s`" % probe_id_col).isNotNull()
        & _finite_vec(F.col("`%s`" % vec_col))
    ).select(
        F.col("`%s`" % probe_id_col).alias("query_id"), F.col("`%s`" % vec_col).alias("__pv")
    )
    scored = c.join(F.broadcast(p), F.size("__cv") == F.size("__pv")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__cv"), F.col("__pv")), 6).alias("cosine"),
    )

    def local_topk(batches):
        import pandas as pd

        buf = None
        for pdf in batches:
            cur = pdf if buf is None else pd.concat([buf, pdf], ignore_index=True)
            cur = cur.sort_values(
                ["query_id", "cosine", "neighbor_id"], ascending=[True, False, True]
            )
            buf = cur.groupby("query_id", sort=False).head(k)
        if buf is not None:
            yield buf

    pruned = scored.mapInPandas(local_topk, schema=scored.schema)
    order = [F.col("cosine").desc(), F.col("neighbor_id").asc()]
    final = Window.partitionBy("query_id").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucket_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 16,
    seed: int = 42,
    max_bucket: int = 256,
    dim: Optional[int] = None,
) -> DataFrame:
    """All-pairs candidate generation via random-hyperplane LSH: bucket =
    sign bits of *planes* fixed random projections (deterministic seed),
    exact cosine computed inside buckets only →
    ``(id_a, id_b, cosine, truncated)``.

    The hyperplanes are literal arrays compiled into the plan (planes×d
    doubles — tiny); bucketing is one shuffle on the bucket key.  Buckets
    are capped at *max_bucket* members BEFORE aggregation (the first
    *max_bucket* ids, deterministic); pairs from a capped bucket carry
    ``truncated = true`` so callers see the recall loss explicitly.

    NULL contract: rows with NULL id or vector are excluded, as are
    vectors whose length differs from *dim* (defaults to the first
    non-null vector's length — pass it explicitly for a deterministic,
    order-independent contract) and vectors with a NULL/NaN/±Inf element
    (:func:`_finite_vec` — a non-finite projection sign is undefined and
    the within-bucket cosine would rank engine-divergently).

    The sign-bit bucket is ONE float64 numpy matmul per Arrow batch — the
    production shape for a 10^12-vector corpus (a pure-Column HOF dot is
    interpreted, not codegen'd: ~planes·dim expression steps per row,
    and measured slower in wall and CPU time at 8 and 16 planes).  Unlike the integer-exact SRP family
    the float dot is not formally order-independent, so
    ``tests/test_srp_arrow_parity.py`` pins it against that Column fold
    on test fixtures rather than proving it equal — a sign can only
    differ when a projection lands within ~1 ulp of zero, and the
    recall constructions used by the gates (exact duplicates share
    buckets under ANY per-vector function) are unaffected either way."""
    import numpy as np

    if dim is None:
        first = (
            df.filter(F.col("`%s`" % vec_col).isNotNull())
            .select(F.size(F.col("`%s`" % vec_col)).alias("d"))
            .first()
        )
        if first is None:
            # an empty/all-NULL batch has zero pairs, not an error — the
            # graceful contract semantic_dedup already follows; raising
            # here turned a no-op increment into a 3am job failure
            # (review finding)
            id_t = df.schema[id_col].dataType.simpleString()
            return df.sparkSession.createDataFrame(
                [],
                "id_a %s, id_b %s, cosine double, truncated boolean"
                % (id_t, id_t),
            )
        dim = first["d"]
    df = df.filter(
        F.col("`%s`" % id_col).isNotNull()
        & (F.size(F.col("`%s`" % vec_col)) == dim)  # size(NULL) is NULL → dropped
        & _finite_vec(F.col("`%s`" % vec_col))
    )
    rng = np.random.default_rng(seed)
    planes_m = rng.standard_normal((planes, dim))

    from pyspark.sql.functions import pandas_udf

    pm = planes_m.T.copy()  # (dim, planes)

    @pandas_udf("string")
    def _bucket(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        v = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        bits = (v @ pm >= 0).astype(np.uint8) + ord("0")
        return pd.Series(
            [b.tobytes().decode("ascii") for b in bits]
        )

    sigs = df.select(
        F.col("`%s`" % id_col).alias("__id"), F.col("`%s`" % vec_col).alias("__v")
    ).select(
        "__id",
        "__v",
        _bucket(F.col("__v")).alias("__bucket"),
    )
    # cap BEFORE aggregating: the collect_list buffer holds ≤ max_bucket full
    # vectors per bucket, never the whole (possibly-degenerate) bucket
    capped = cap_per_group(sigs, ["__bucket"], "__id", max_bucket)
    buckets = capped.groupBy("__bucket").agg(
        F.sort_array(F.collect_list(F.struct("__id", "__v"))).alias("xs"),
        (F.max("__gsz") > max_bucket).alias("__trunc"),
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("xs"),
                    lambda a, i: F.transform(
                        F.slice(F.col("xs"), i + 2, F.size(F.col("xs"))),
                        lambda b: F.struct(
                            a["__id"].alias("id_a"),
                            b["__id"].alias("id_b"),
                            F.round(cosine(a["__v"], b["__v"]), 6).alias("cosine"),
                        ),
                    ),
                )
            )
        ).alias("p"),
        F.col("__trunc"),
    )
    return (
        pairs.groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(
            F.min("p.cosine").alias("cosine"),
            F.max("__trunc").alias("truncated"),
        )
    )


def _kmeans_centroids(
    df: DataFrame, vec_col: str, n_centroids: int, sample_n: int, iters: int, seed: int
) -> List[List[float]]:
    """Fit centroids on a driver-side sample with numpy (deterministic).
    The sample is tiny (default 10k vectors) and RANDOM — ``sample(seed)``
    over the whole corpus, not ``limit`` (the first partitions of a sorted
    or source-clustered corpus are a biased slice that would skew the IVF
    cells).  ``count()`` over parquet is metadata-only; the corpus itself
    is never collected.  NULL vectors are excluded; ragged sample vectors
    are dropped in favour of the sample's most common length (the fit must
    see a rectangular matrix — full-length handling is the scorers' job)."""
    import collections

    import numpy as np

    vdf = df.select(F.col("`%s`" % vec_col).alias("v")).filter(
        _finite_vec(F.col("v"))  # a NaN row would poison every centroid mean
    )
    total = vdf.count()
    if total > sample_n:
        # keep the WHOLE random draw (expected ~1.2x sample_n): trimming
        # with limit() cuts by partition order, excluding the corpus tail
        # from the fit — the positional bias sample() was chosen to avoid
        # (review finding).  The fit cost is linear in the sample, so the
        # 20% overdraw is cheaper than the bias.
        frac = min(1.0, 1.2 * sample_n / total)
        vdf = vdf.sample(fraction=frac, seed=seed)
    rows = vdf.collect()
    if not rows:
        raise ValueError("no non-null vectors to fit centroids on")
    lens = collections.Counter(len(r["v"]) for r in rows)
    d = lens.most_common(1)[0][0]
    x = np.array([r["v"] for r in rows if len(r["v"]) == d], dtype=np.float64)
    n = len(x)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(n, size=min(n_centroids, n), replace=False)]
    # the sample matrix never changes — normalise it once, outside the loop
    xn = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-12)
    for _ in range(iters):
        # cosine assignment on normalised vectors
        cn = cents / (np.linalg.norm(cents, axis=1, keepdims=True) + 1e-12)
        assign = np.argmax(xn @ cn.T, axis=1)
        for c in range(len(cents)):
            m = x[assign == c]
            if len(m):
                cents[c] = m.mean(axis=0)
    return [[float(v) for v in c] for c in cents]


def ivf_assign(
    df: DataFrame, centroids: List[List[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Append ``cell`` = argmax-cosine centroid index (one fused projection;
    centroids are plan literals)."""
    vec = F.col("`%s`" % vec_col)
    scored = F.array(
        *[
            F.struct(
                F.round(cosine(vec, F.array(*[F.lit(v) for v in c])), 9).alias("s"),
                F.lit(-i).alias("nix"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    best = F.array_max(scored)
    return df.withColumn("cell", (-best["nix"]).cast("int"))


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "query_id",
    sample_n: int = 10_000,
    iters: int = 5,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: corpus pre-assigned to centroid cells; each
    probe scans only its *nprobe* nearest cells.  Returns
    ``(query_id, neighbor_id, cosine, rank)``.

    At production scale the assigned corpus is written partitioned by
    ``cell`` so a probe touches nprobe/n_centroids of the data (partition
    pruning); here the cell filter happens in the join condition.

    Same NULL/length/finite contract as :func:`cosine_topk` (full-probe
    IVF must reproduce brute force exactly, excluded rows included)."""
    centroids = _kmeans_centroids(corpus, vec_col, n_centroids, sample_n, iters, seed)
    corpus = corpus.filter(
        F.col("`%s`" % id_col).isNotNull()
        & _finite_vec(F.col("`%s`" % vec_col))
    )
    probes = probes.filter(
        F.col("`%s`" % probe_id_col).isNotNull()
        & _finite_vec(F.col("`%s`" % vec_col))
    )
    assigned = ivf_assign(corpus, centroids, vec_col).select(
        F.col("`%s`" % id_col).alias("neighbor_id"),
        F.col("`%s`" % vec_col).alias("__cv"),
        "cell",
    )
    probe_cells = ivf_probe_cells(probes, centroids, nprobe, vec_col, probe_id_col)
    scored = assigned.join(
        F.broadcast(probe_cells),
        F.array_contains(probe_cells["cells"], assigned["cell"])
        & (F.size(assigned["__cv"]) == F.size(probe_cells["__pv"])),
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__cv"), F.col("__pv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_write(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 10_000,
    iters: int = 5,
    seed: int = 42,
) -> List[List[float]]:
    """Build the IVF index layout: assign every vector to its nearest
    centroid cell and write the corpus PARTITIONED BY cell.  Returns the
    fitted centroids (persist them next to the index).

    This is the production-scale half of IVF: with a cell-partitioned
    layout a probe reads only ``nprobe/n_centroids`` of the data via
    parquet/Iceberg PARTITION PRUNING — the scan never touches non-probed
    cells' files (asserted from the executed plan in tests)."""
    centroids = _kmeans_centroids(corpus, vec_col, n_centroids, sample_n, iters, seed)
    assigned = ivf_assign(
        # NULL-id / non-finite rows never enter the index: a NaN vector's
        # argmax cell is engine/NaN-ordering-dependent and it could never
        # be scored at probe time anyway (cosine_topk contract)
        corpus.filter(
            F.col("`%s`" % id_col).isNotNull()
            & _finite_vec(F.col("`%s`" % vec_col))
        ),
        centroids,
        vec_col,
    ).select(
        F.col("`%s`" % id_col).alias("vec_id"),
        F.col("`%s`" % vec_col).alias("embedding"),
        "cell",
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    return centroids


def ivf_append(
    new_vectors: DataFrame,
    path: str,
    centroids: List[List[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incremental IVF index maintenance: route NEW vectors into an
    existing cell layout (the centroids fitted at :func:`ivf_write`
    time) and append their files under the matching cell partitions —
    no refit, no rewrite, historical cells untouched.

    This is how a 10^12-vector index absorbs a daily ingest: assignment
    is one fused projection against plan-literal centroids, the write
    adds files only to the cells the increment actually hits, and every
    existing reader (:func:`ivf_topk_partitioned`) keeps working because
    partition pruning is layout-based, not manifest-based.  Centroid
    drift is the documented trade: appended vectors are assigned to the
    ORIGINAL centroids, so after heavy distribution shift the recall
    audit (``lsh_recall``-style) decides when a refit+rewrite is due.
    Returns the number of vectors appended.

    Guard rails: the passed centroids are validated against the index
    that already lives at *path* — mismatched centroid dimensions or an
    existing ``cell=`` partition outside ``[0, len(centroids))`` means
    the wrong centroid list for this layout, and silently appending
    would misroute every new vector (probes would never find them).
    The assignment is localCheckpoint-pinned so the count and the write
    execute the projection + source scan ONCE, and the returned count
    is the count of exactly what was written."""
    import os as _os

    dims = {len(c) for c in centroids}
    if len(dims) != 1:
        raise ValueError("ivf_append: centroids have inconsistent dimensions")
    (dim,) = dims
    if _os.path.isdir(path):
        cells = [
            int(name.split("=", 1)[1])
            for name in _os.listdir(path)
            if name.startswith("cell=")
        ]
        if cells and not (0 <= min(cells) and max(cells) < len(centroids)):
            raise ValueError(
                "ivf_append: existing index at %r has cell=%d outside "
                "[0, %d) — these centroids do not match the index layout"
                % (path, max(cells), len(centroids))
            )
        if cells:
            first = (
                new_vectors.sparkSession.read.parquet(path)
                .select(F.size(F.col("embedding")).alias("d"))
                .first()
            )
            if first is not None and first["d"] != dim:
                raise ValueError(
                    "ivf_append: index vectors at %r have dim %d, "
                    "centroids have dim %d" % (path, first["d"], dim)
                )
    assigned = ivf_assign(
        new_vectors.filter(
            F.col("`%s`" % id_col).isNotNull()
            & _finite_vec(F.col("`%s`" % vec_col))
        ),
        centroids,
        vec_col,
    ).select(
        F.col("`%s`" % id_col).alias("vec_id"),
        F.col("`%s`" % vec_col).alias("embedding"),
        "cell",
    ).localCheckpoint()
    n = assigned.count()
    assigned.write.mode("append").partitionBy("cell").parquet(path)
    return n


def ivf_topk_partitioned(
    spark,
    path: str,
    centroids: List[List[float]],
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """IVF top-k over a cell-partitioned index written by :func:`ivf_write`.

    The union of all probes' cells (a tiny driver-side set — probes are a
    probe *set*) becomes a partition-pruning filter, so only the probed
    cells' files are scanned; scoring then joins each probe to its own
    cells only, exactly like :func:`ivf_topk` (same NULL/length/finite
    contract: a probe with a NULL/NaN/±Inf element is not scored)."""
    probes = probes.filter(
        F.col("`%s`" % probe_id_col).isNotNull() & _finite_vec(F.col("`%s`" % vec_col))
    )
    probe_cells = ivf_probe_cells(probes, centroids, nprobe, vec_col, probe_id_col)
    cells = sorted(
        {int(c) for r in probe_cells.select("cells").collect() for c in r["cells"]}
    )
    assigned = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(cells))  # → PartitionFilters on the scan
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"), "cell")
    )
    scored = assigned.join(
        F.broadcast(probe_cells),
        F.array_contains(probe_cells["cells"], assigned["cell"])
        & (F.size(assigned["__cv"]) == F.size(probe_cells["__pv"])),
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__cv"), F.col("__pv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_probe_cells(
    probes: DataFrame,
    centroids: List[List[float]],
    nprobe: int,
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """Per-probe ``cells`` array: indices of the *nprobe* nearest centroids."""
    vec = F.col("`%s`" % vec_col)
    # tiebreak on the NEGATED index so descending sort prefers the LOWEST
    # centroid index — the exact rule ivf_assign's max(struct(s, -i))
    # applies; with a plain index the two sides broke 9-dp cosine ties in
    # opposite directions and a probe could miss the very cell its own
    # duplicate was assigned to (review finding)
    scored = F.array(
        *[
            F.struct(
                F.round(cosine(vec, F.array(*[F.lit(v) for v in c])), 9).alias("s"),
                F.lit(-i).alias("nix"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    return probes.select(
        F.col("`%s`" % probe_id_col).alias("query_id"),
        F.col("`%s`" % vec_col).alias("__pv"),
        F.transform(top, lambda s: (-s["nix"]).cast("int")).alias("cells"),
    )


def group_centroids(
    df: DataFrame,
    dim: int,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group elementwise-mean centroid → ``(group, centroid
    array<double>, n_members)``.  ONE map-side-combined aggregate of
    *dim* ``avg()`` columns — no explode, no shuffle beyond the group
    key, aggregation state O(groups · dim).  Rows with NULL group or
    vector are excluded, as are vectors with a NULL/NaN/±Inf element
    (:func:`_finite_vec` — one NaN element would otherwise poison the
    whole position mean); vectors shorter than *dim* contribute NULL (≡
    skipped) to the missing positions, matching SQL ``avg`` semantics.

    Each mean is ROUNDED to 6 dp: ``avg`` partial sums merge in
    partition/fetch order, so the raw double is not layout-deterministic —
    pinning the centroid to a 1e-6 grid makes everything downstream
    (cosine, rank, gate hash) order-independent up to a ~1e-13/5e-7
    boundary residue, the same stance as the engine's other rounded
    aggregates."""
    if dim <= 0:
        raise ValueError("dim must be positive")
    g = F.col("`%s`" % group_col)
    v = F.col("`%s`" % vec_col)
    return (
        df.filter(g.isNotNull() & _finite_vec(v))
        .groupBy(g.alias("__group"))
        .agg(
            F.array(
                # try_element_at: NULL (not an ANSI error) past the end of a
                # short vector, so ragged rows degrade instead of failing the job
                *[
                    F.round(F.avg(F.try_element_at(v, F.lit(i + 1)).cast("double")), 6)
                    for i in range(dim)
                ]
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def centroid_outliers(
    df: DataFrame,
    dim: int,
    k: int = 5,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic outlier detection: the *k* vectors per group FARTHEST
    from their own group's centroid → ``(group, id, cosine, rank)`` —
    the embedding-space quality filter of a multimodal pipeline
    (mislabeled / off-topic / corrupted samples score low cosine to
    their cluster mean).

    Rank orders on the 6-dp-ROUNDED cosine with an id tiebreak (the
    ann_topk pattern), so the ordering is stable across engines despite
    float formatting.  Plan: one centroid aggregate (tiny — O(groups)
    rows) broadcast back onto the table, pure Column cosine, one window
    rank per group key.  NULL id/group/vector rows are excluded, and
    vectors with a NULL/NaN/±Inf element are excluded from BOTH centroid
    shaping and ranking (:func:`_finite_vec`); vectors whose length
    differs from *dim* shape the centroid (prefix positions only, per
    :func:`group_centroids`) but are NOT rankable — their cosine against
    a *dim*-length centroid is undefined."""
    if k <= 0:
        raise ValueError("k must be positive")
    g = F.col("`%s`" % group_col)
    v = F.col("`%s`" % vec_col)
    ids = F.col("`%s`" % id_col)
    cents = group_centroids(df, dim, group_col, vec_col)
    scored = (
        df.filter(
            g.isNotNull()
            & ids.isNotNull()
            & (F.size(v) == dim)
            & _finite_vec(v)
        )
        .join(F.broadcast(cents), g == F.col("__group"))
        .select(
            g.alias("group"),
            ids.alias("id"),
            F.round(cosine(v, F.col("centroid")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("group").orderBy(F.col("cosine").asc(), F.col("id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_label_agreement(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    suspect_below_bp: int = 5000,
    neighbors: Optional[DataFrame] = None,
) -> DataFrame:
    """Label-noise detection by k-NN agreement — flag points whose
    nearest neighbours in embedding space mostly carry a DIFFERENT
    label (the classic Wilson-editing signal; on training corpora it
    surfaces mislabeled quality/toxicity/language annotations before
    they poison a classifier).

    Output: one row per labelled vector — ``(id, label, n_neighbors,
    n_agree, agree_bp, suspect)`` with ``agree_bp = 10000·n_agree div
    n_neighbors`` (pure int64) and ``suspect = agree_bp <
    suspect_below_bp``.  Neighbours are the exact top-*k* by cosine
    (6-dp-rounded, neighbour-id tiebreak — engine-stable), self
    excluded; unlabeled rows score no one and are not scored.

    Scale: by default neighbours come from :func:`cosine_topk` with the
    corpus as its own probe set — that broadcast-probe path is for
    evaluation-sized corpora (≲ 10⁵ labelled vectors, the usual size of
    a label-audit sample).  For full-corpus audits pass *neighbors* =
    the output of :func:`ivf_topk_partitioned` (any ``(query_id,
    neighbor_id, …)`` candidate table): the agreement join and roll-up
    are the same and stay id-keyed — one shuffle each at candidate
    cardinality.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    labeled = emb.filter(
        F.col("`%s`" % id_col).isNotNull()
        & F.col("`%s`" % label_col).isNotNull()
    ).select(
        F.col("`%s`" % id_col).alias("__id"),
        F.col("`%s`" % label_col).alias("__lab"),
    )
    if neighbors is None:
        probes = emb.filter(F.col("`%s`" % label_col).isNotNull()).select(
            F.col("`%s`" % id_col).alias("query_id"),
            F.col("`%s`" % vec_col).alias(vec_col),
        )
        cand = cosine_topk_blas(
            emb.join(
                labeled.select(F.col("__id").alias(id_col)), id_col, "semi"
            ),
            probes,
            k=k + 1,
            vec_col=vec_col,
            id_col=id_col,
        )
    else:
        cand = neighbors
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    knn = (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
    )
    agree = (
        knn.join(
            labeled.select(
                F.col("__id").alias("neighbor_id"),
                F.col("__lab").alias("__nlab"),
            ),
            "neighbor_id",
        )
        .join(
            labeled.select(
                F.col("__id").alias("query_id"), F.col("__lab").alias("__qlab")
            ),
            "query_id",
        )
        .groupBy(F.col("query_id").alias(id_col), F.col("__qlab").alias(label_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.sum(
                F.when(F.col("__nlab") == F.col("__qlab"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_agree"),
        )
    )
    return agree.select(
        id_col,
        label_col,
        "n_neighbors",
        "n_agree",
        F.expr("(10000 * n_agree) div n_neighbors").alias("agree_bp"),
        (
            F.expr("(10000 * n_agree) div n_neighbors")
            < F.lit(int(suspect_below_bp))
        ).alias("suspect"),
    )


def cosine_topk_blas(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """:func:`cosine_topk` with the scoring done as ONE numpy matrix
    multiply per Arrow batch instead of a per-pair JVM fold — same
    output contract (6-dp-rounded cosine, neighbour-id tiebreak, rank
    1..k, zero-norm → 0.0, NULL/ragged/non-finite rows excluded), same single
    final exchange, ~50× faster once |probes| is in the thousands
    (each batch costs one BLAS ``C @ Pᵀ`` — 10⁸ multiply-adds run in
    milliseconds where 10⁸ interpreted HOF steps run in minutes).

    The probe set is collected to the driver (one bounded collect — the
    same "a probe SET, not a second corpus" contract as
    :func:`cosine_topk`, which broadcasts it) and shipped to executors
    in the UDF closure grouped by vector length; corpus batches group
    by length too, so ragged corpora score only against equal-length
    probes.  Per-partition state is the running top-k per query —
    O(|probes|·k) rows, the same bound as the fold variant.

    Rounding matches Spark's ``F.round`` (HALF_UP, away from zero) via
    sign-aware ``floor(|x|·10⁶ + 0.5)``.
    """
    import numpy as np

    c_id = F.col("`%s`" % id_col)
    c_vec = F.col("`%s`" % vec_col)
    p_rows = (
        probes.filter(
            F.col("`%s`" % probe_id_col).isNotNull()
            & _finite_vec(F.col("`%s`" % vec_col))
        )
        .select(
            F.col("`%s`" % probe_id_col).alias("query_id"),
            F.col("`%s`" % vec_col).alias("__pv"),
        )
        .collect()
    )
    by_dim: dict = {}
    for r in p_rows:
        by_dim.setdefault(len(r[1]), []).append((r[0], r[1]))
    probe_mats = {}
    for dim, rows in by_dim.items():
        qids = [q for q, _ in rows]
        mat = np.asarray([v for _, v in rows], dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        probe_mats[dim] = (qids, mat, norms)

    qtype = probes.schema[probe_id_col].dataType.simpleString()
    ntype = corpus.schema[id_col].dataType.simpleString()
    out_schema = "query_id %s, neighbor_id %s, cosine double" % (qtype, ntype)

    live = corpus.filter(c_id.isNotNull() & _finite_vec(c_vec)).select(
        c_id.alias("__nid"), c_vec.alias("__cv")
    )
    # the sf0.1 embeddings parquet is ONE input split
    live = _ensure_parallelism(live)

    def score_topk(batches):
        import pandas as pd

        buf = None
        for pdf in batches:
            lens = pdf["__cv"].map(len)
            parts = []
            for dim, (qids, pmat, pnorms) in probe_mats.items():
                sub = pdf[lens == dim]
                if not len(sub):
                    continue
                cmat = np.asarray(list(sub["__cv"]), dtype=np.float64)
                cnorms = np.sqrt((cmat * cmat).sum(axis=1))
                dots = cmat @ pmat.T
                denom = np.outer(cnorms, pnorms)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom > 0, dots / denom, 0.0)
                cos = np.copysign(
                    np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6, cos
                )
                n_c, n_q = cos.shape
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.tile(qids, n_c),
                            "neighbor_id": np.repeat(
                                sub["__nid"].to_numpy(), n_q
                            ),
                            "cosine": cos.ravel(),
                        }
                    )
                )
            if not parts:
                continue
            cur = pd.concat(
                ([buf] if buf is not None else []) + parts, ignore_index=True
            )
            cur = cur.sort_values(
                ["query_id", "cosine", "neighbor_id"],
                ascending=[True, False, True],
            )
            buf = cur.groupby("query_id", sort=False).head(k)
        if buf is not None:
            yield buf

    pruned = live.mapInPandas(score_topk, schema=out_schema)
    final = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def centroid_silhouette(
    df: DataFrame,
    centroids: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector simplified silhouette against a PINNED centroid set —
    the cluster-quality audit for an embedding partition (IVF cells,
    semantic shards, topic buckets): ``(vec_id, cluster_id, cos_own,
    cos_next, silhouette)`` where ``cluster_id`` is the
    nearest centroid (6-dp-rounded cosine, centroid-id tiebreak — the
    ann_topk determinism pattern), ``cos_next`` the runner-up, and
    ``silhouette = (cos_own − cos_next) / max(1−cos_own, 1−cos_next)``
    (cosine-distance form of Kaufman's simplified silhouette —
    centroid distances instead of all-pairs, the only form that scales)
    rounded to 6 dp, in (−1, 1]: near 1 ⇒ crisp assignment, near 0 ⇒
    boundary straddler, negative ⇒ likely mis-sharded.

    Centroids are caller-PROVIDED (not fitted here) so the score is a
    pure deterministic function of its inputs — auditing an existing
    IVF index passes that index's centroids; tests and oracles pass a
    fixed slice.  NULL silhouette when there is only one centroid (no
    runner-up — nothing to compare against).  Vectors with NULL
    id/vector, length ≠ *dim*, or a NULL/NaN/±Inf element are excluded
    (embedding_health owns those; :func:`_finite_vec` on both the
    vector and centroid sides).

    Scale shape: centroid set broadcast (k rows), per-vector cosines in
    one fused JVM projection over the cross product (n·k rows, k small),
    ONE window keyed by vec_id picks winner + runner-up.  No
    float aggregation anywhere — every output row is a pure function of
    one vector and the centroid set, so results are partition-order
    independent."""
    ids = F.col("`%s`" % id_col)
    v = F.col("`%s`" % vec_col)
    cents = centroids.filter(
        _finite_vec(F.col("`%s`" % cent_vec_col))
    ).select(
        F.col("`%s`" % cent_id_col).alias("__cid"),
        F.col("`%s`" % cent_vec_col).alias("__cvec"),
    )
    scored = (
        df.filter(ids.isNotNull() & (F.size(v) == dim) & _finite_vec(v))
        .select(ids.alias("vec_id"), v.alias("__v"))
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "__cid",
            F.round(cosine(F.col("__v"), F.col("__cvec")), 6).alias("__cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__cos").desc(), F.col("__cid").asc()
    )
    two = scored.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= 2
    )
    tw = two.groupBy("vec_id").agg(
        F.max(F.when(F.col("__rk") == 1, F.col("__cid"))).alias("cluster_id"),
        F.max(F.when(F.col("__rk") == 1, F.col("__cos"))).alias("cos_own"),
        F.max(F.when(F.col("__rk") == 2, F.col("__cos"))).alias("cos_next"),
    )
    denom = F.greatest(1 - F.col("cos_own"), 1 - F.col("cos_next"))
    sil = F.when(
        F.col("cos_next").isNotNull(),
        F.when(denom > 0, F.round((F.col("cos_own") - F.col("cos_next")) / denom, 6))
        .otherwise(F.lit(0.0)),
    )
    return tw.select(
        "vec_id", "cluster_id", "cos_own", "cos_next", sil.alias("silhouette")
    )
