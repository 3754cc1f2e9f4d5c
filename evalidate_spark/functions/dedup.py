"""Deduplication operators — exact and near-duplicate detection at corpus
scale.

Scale design (10^12 docs):

* **exact** — hash-groupBy on a content fingerprint.  The shuffle key is a
  16-byte md5, uniformly distributed, map-side combined; AQE handles the
  (rare) pathological fingerprint skew of boilerplate documents.
* **MinHash + LSH** — per-doc signatures are one aggregate over the
  exploded shingles, one head for both hash families (no Python; the
  partial aggregate reduces each doc map-side); candidate generation
  explodes only ``bands`` rows per doc and groupBy-joins on (band,
  band_hash) buckets.  Only bucket
  collisions are ever paired, so the quadratic blow-up is confined to
  near-identical groups; buckets are capped BEFORE aggregation
  (:func:`similarity.cap_per_group`) so no executor buffer ever holds a
  whole boilerplate bucket, and capped output carries a ``truncated`` flag.
* **SimHash** — 64-bit signature via bitwise majority vote over shingle
  hashes (hashing JVM-side, the vote in one Arrow-batched numpy pass);
  Hamming-distance candidate pairing via band buckets on 16-bit chunks.
* **n-gram Jaccard** — exact verification on LSH candidates only
  (array_intersect/array_union on distinct shingle-hash arrays).
* **embedding cosine** — see :mod:`evalidate_spark.functions.similarity`;
  ``embedding_near_dups`` thin-wraps it with a similarity threshold.
"""

from __future__ import annotations

from typing import Callable, NamedTuple, Optional

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import Column, DataFrame, Window, functions as F

from .similarity import _ensure_parallelism, cap_per_group
from .text import fingerprint, shingles, tokens


# ---------------------------------------------------------------- exact
def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_ids: int = 100
) -> DataFrame:
    """Groups of exact duplicates (after whitespace/case normalisation):
    ``(fingerprint, n_docs, doc_ids, truncated)``.  One shuffle on the
    fingerprint.  ``n_docs`` is the TRUE group size; ``doc_ids`` lists at
    most *max_ids* members (capped before aggregation so a boilerplate
    fingerprint with millions of copies never materialises one giant array
    in an executor buffer), with ``truncated`` flagging capped groups."""
    fp = fingerprint(F.col("`%s`" % text_col))
    # NULL fingerprints (NULL text) are not duplicates of each other
    keyed = df.select(
        fp.alias("fingerprint"), F.col("`%s`" % id_col).alias("__id")
    ).filter(F.col("fingerprint").isNotNull())
    capped = cap_per_group(keyed, ["fingerprint"], "__id", max_ids)
    return capped.groupBy("fingerprint").agg(
        F.max("__gsz").alias("n_docs"),
        F.sort_array(F.collect_list("__id")).alias("doc_ids"),
        (F.max("__gsz") > max_ids).alias("truncated"),
    )


def distinct_by_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: Column | None = None,
) -> DataFrame:
    """Keep one representative (min id) per fingerprint — the dedup *apply*
    step.  Aggregate-then-semi-join keeps the payload out of the shuffle
    when the doc row is wide.  ``key`` overrides the dedup identity (e.g.
    a prefix fingerprint, a simhash band) — default is the full
    normalised-text :func:`~evalidate_spark.functions.text.fingerprint`.

    NULL-key rows (e.g. NULL text) PASS THROUGH untouched: a missing
    identity is a presence problem, not evidence two docs are copies —
    grouping NULL keys would silently delete all-but-one of them."""
    kexpr = key if key is not None else fingerprint(F.col("`%s`" % text_col))
    ids = F.col("`%s`" % id_col)
    keep = (
        df.select(kexpr.alias("__fp"), ids.alias("__id"))
        .filter(F.col("__fp").isNotNull())
        .groupBy("__fp")
        .agg(F.min("__id").alias("__keep"))
        .select(F.col("__keep").alias("__id"))
    )
    return df.filter(kexpr.isNull()).unionByName(
        df.filter(kexpr.isNotNull()).join(keep, on=ids == keep["__id"], how="left_semi")
    )


def resolve_duplicates(
    df: DataFrame,
    quality_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: Column | None = None,
) -> DataFrame:
    """Quality-aware dedup apply: keep the HIGHEST-quality member of each
    fingerprint group (NULL quality ranks last; ties break on min id) —
    what a real pipeline wants once quality scores exist, instead of
    :func:`distinct_by_fingerprint`'s arbitrary-but-deterministic min-id
    representative.

    Same scale shape as the min-id variant: one groupBy over (key,
    ranking-struct) — ``min(struct(-quality, id))`` picks the
    (quality DESC, id ASC) winner in a single map-side-combinable
    aggregate, no window over the corpus — then a LEFT SEMI join so the
    doc payload never rides the shuffle.  NULL-key rows pass through
    untouched (same contract and reasoning as
    :func:`distinct_by_fingerprint`).  ``quality_col`` must be numeric
    (it is negated for the ordering)."""
    kexpr = key if key is not None else fingerprint(F.col("`%s`" % text_col))
    ids = F.col("`%s`" % id_col)
    # -quality with NULL → +inf: null-quality docs lose to any scored doc
    neg_q = F.coalesce(
        -F.col("`%s`" % quality_col).cast("double"), F.lit(float("inf"))
    )
    keep = (
        # NULL-id rows cannot be ranking candidates: NULL sorts FIRST in
        # struct comparison, so a NULL-id doc would win its group and the
        # semi-join (ids == NULL never matches) would then delete the
        # whole group (review finding).  Excluding them here matches
        # distinct_by_fingerprint, whose min() ignores NULL ids.
        df.filter(ids.isNotNull())
        .select(kexpr.alias("__fp"), F.struct(neg_q.alias("nq"), ids.alias("id")).alias("__r"))
        .filter(F.col("__fp").isNotNull())
        .groupBy("__fp")
        .agg(F.min("__r").alias("__best"))
        .select(F.col("__best.id").alias("__id"))
    )
    return df.filter(kexpr.isNull()).unionByName(
        df.filter(kexpr.isNotNull()).join(keep, on=ids == keep["__id"], how="left_semi")
    )


def dedup_attrition(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    key: Column | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-*group_col* survival accounting under the
    :func:`distinct_by_fingerprint` keep rule — the report a pipeline
    owner reads after dedup: how many documents (and optionally how much
    *weight_col*, e.g. chars or tokens) each source contributed, how many
    survived, and the survival ratio.  Because the keep rule is GLOBAL
    (min id per fingerprint across the whole corpus), a source whose
    documents duplicate another source's earlier ids shows real attrition
    here — exactly the cross-source cannibalisation question.

    Returns ``(group, docs_in, docs_kept, kept_ratio[, w_in, w_kept])``.
    Semantics mirror :func:`distinct_by_fingerprint` row-for-row:
    NULL-key rows pass through (kept); NULL-id rows are never keepers
    (min ignores NULL) and are therefore dropped by the apply step, so
    they count in ``docs_in`` but never in ``docs_kept``.

    Scale shape: the doc payload is never touched — one map-side-
    combinable aggregate over ``(fp, id, group[, weight])`` (the same
    single shuffle the dedup apply itself needs), two #groups-sized
    roll-ups, and a tiny join.  No semi-join back against the corpus.
    The ``min(struct(id, group, weight))`` compiles to a SortAggregate
    (struct buffers are not hash-mutable; scalar ``min_by`` sorts too) —
    the per-partition sort is deliberate: the alternative, hash-agg
    ``min(id)`` then joining the slim table back to fetch the keeper's
    group, would shuffle the corpus-sized slim table a SECOND time."""
    kexpr = key if key is not None else fingerprint(F.col("`%s`" % text_col))
    ids = F.col("`%s`" % id_col)
    grp = F.col("`%s`" % group_col)
    wcol = (
        F.col("`%s`" % weight_col).cast("bigint")
        if weight_col is not None
        else F.lit(0).cast("bigint")
    )
    base = df.select(
        kexpr.alias("__fp"), ids.alias("__id"), grp.alias("__g"), wcol.alias("__w")
    )
    tot = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("docs_in"), F.sum("__w").alias("__w_in")
    )
    # keeper per fingerprint: min id wins; its own group/weight attribute
    # the survival (struct comparison starts at the unique non-null id)
    keepers = (
        base.filter(F.col("__fp").isNotNull() & F.col("__id").isNotNull())
        .groupBy("__fp")
        .agg(F.min(F.struct("__id", "__g", "__w")).alias("__m"))
        .groupBy(F.col("__m.__g").alias("__g"))
        .agg(F.count(F.lit(1)).alias("k"), F.sum("__m.__w").alias("wk"))
    )
    passthrough = (
        base.filter(F.col("__fp").isNull())
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("k"), F.sum("__w").alias("wk"))
    )
    kept = (
        keepers.unionByName(passthrough)
        .groupBy("__g")
        .agg(F.sum("k").alias("docs_kept"), F.sum("wk").alias("__w_kept"))
    )
    out = (
        # null-safe: a NULL group is a real group (e.g. source unknown),
        # its survivors must not be zeroed by null-unsafe equality
        tot.join(kept, on=tot["__g"].eqNullSafe(kept["__g"]), how="left")
        .select(
            tot["__g"].alias(group_col),
            F.col("docs_in").cast("bigint").alias("docs_in"),
            F.coalesce(F.col("docs_kept"), F.lit(0)).cast("bigint").alias("docs_kept"),
            (
                F.coalesce(F.col("docs_kept"), F.lit(0)).cast("double")
                / F.col("docs_in")
            ).alias("kept_ratio"),
            F.col("__w_in"),
            F.coalesce(F.col("__w_kept"), F.lit(0)).alias("__w_kept"),
        )
    )
    if weight_col is None:
        return out.drop("__w_in", "__w_kept")
    return out.withColumnRenamed("__w_in", "w_in").withColumnRenamed(
        "__w_kept", "w_kept"
    )


def cluster_attrition(
    df: DataFrame,
    clusters: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    weight_col: str | None = None,
    cluster_member_col: str = "id",
    cluster_id_col: str = "cluster_id",
) -> DataFrame:
    """:func:`dedup_attrition`'s sibling for CLUSTER-based (near-dup)
    dedup: given a ``(member_id, cluster_id)`` table (e.g. from
    :func:`duplicate_clusters`), keep one representative per cluster
    (min member id); documents in no cluster survive untouched.  Returns
    the same ``(group, docs_in, docs_kept, kept_ratio[, w_in, w_kept])``
    report — which sources lose documents once near-duplicates collapse
    to a single representative.

    Scale shape: the cluster table is tiny relative to the corpus (only
    clustered docs appear), so both joins hit a corpus-slim projection
    ``(id, group[, weight])`` keyed by id — broadcastable cluster side
    when it fits — followed by ONE group-sized aggregate.  The payload
    never moves."""
    ids = F.col("`%s`" % id_col)
    grp = F.col("`%s`" % group_col)
    wcol = (
        F.col("`%s`" % weight_col).cast("bigint")
        if weight_col is not None
        else F.lit(0).cast("bigint")
    )
    slim = df.select(ids.alias("__id"), grp.alias("__g"), wcol.alias("__w"))
    cl = clusters.select(
        F.col("`%s`" % cluster_member_col).alias("__m"),
        F.col("`%s`" % cluster_id_col).alias("__cl"),
    )
    # reps derives from cl: rename its columns so the second join's
    # condition isn't an ambiguous self-join lineage
    reps = (
        cl.groupBy("__cl")
        .agg(F.min("__m").alias("__rep"))
        .select(F.col("__cl").alias("__rcl"), "__rep")
    )
    marked = slim.join(cl, slim["__id"] == cl["__m"], "left").join(
        reps,
        (F.col("__cl") == F.col("__rcl")) & (F.col("__id") == F.col("__rep")),
        "left",
    )
    kept = F.col("__cl").isNull() | F.col("__rep").isNotNull()
    out = marked.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_in"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("docs_kept"),
        (
            F.sum(F.when(kept, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("kept_ratio"),
        F.sum("__w").alias("w_in"),
        F.coalesce(F.sum(F.when(kept, F.col("__w"))), F.lit(0)).alias("w_kept"),
    )
    if weight_col is None:
        return out.drop("w_in", "w_kept")
    return out


def incremental_dedup(
    new_df: DataFrame,
    index_df: Optional[DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    key: Column | None = None,
):
    """Dedup an incoming batch against an EXISTING corpus fingerprint
    index — the incremental-ingestion shape: the corpus is never
    rescanned, only its (tiny relative to payloads) ``fp`` index is.
    Returns ``(unique_df, index_delta_df)``:

    * ``unique_df`` — batch rows that survive BOTH within-batch dedup
      (min-id representative per fingerprint, via
      :func:`distinct_by_fingerprint`) and the anti-join against
      *index_df* (``fp: string`` — pass None for a first batch).
      NULL-text rows pass through (same contract as
      :func:`distinct_by_fingerprint`).
    * ``index_delta_df`` — the surviving fingerprints; append it to the
      index table to ingest the next batch.

    Plan shape: one fp aggregate on the batch, one LEFT ANTI join on
    ``fp`` against the index (hash-partitioned on the join key; AQE
    broadcasts it when the index is small).  The batch payload joins
    AFTER the id-level dedup, so wide doc rows never shuffle on fp.
    ``key`` overrides the dedup identity (same contract as
    :func:`distinct_by_fingerprint`)."""
    fp = key if key is not None else fingerprint(F.col("`%s`" % text_col))
    survivors = distinct_by_fingerprint(new_df, text_col, id_col, key=key)
    if index_df is not None:
        with_fp = survivors.withColumn("__fp", fp)
        keyed = with_fp.filter(F.col("__fp").isNotNull()).join(
            index_df.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
        )
        survivors = with_fp.filter(F.col("__fp").isNull()).unionByName(keyed).drop("__fp")
    delta = (
        survivors.select(fp.alias("fp")).filter(F.col("fp").isNotNull()).distinct()
    )
    return survivors, delta


def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: Column | None = None,
) -> DataFrame:
    """Snapshot diff between two corpus versions: per-doc ``status`` of
    ``added`` (id only in *new_df*), ``removed`` (only in *old_df*),
    ``changed`` (both, content fingerprint differs), ``unchanged`` — the
    audit step of an incremental ingestion pipeline (what did this
    release actually touch?).

    Content identity is the same fingerprint as the dedup family
    (``key`` overrides it); two NULL-text versions compare ``unchanged``
    (null-safe fp equality), NULL↔text is a change.  NULL ids are
    excluded (no identity to diff on).  Returns ``(id_col, status)``.

    Plan: each side reduces to a slim ``(id, fp)`` projection before the
    single FULL OUTER sort-merge join on the id — payloads never shuffle;
    store both snapshots bucketed on the id (``sources.write_bucketed``)
    and the join runs exchange-free."""
    fp = key if key is not None else fingerprint(F.col("`%s`" % text_col))
    ids = F.col("`%s`" % id_col)

    def slim(df, side):
        return df.filter(ids.isNotNull()).select(
            ids.alias(id_col),
            fp.alias("__%s_fp" % side),
            F.lit(True).alias("__%s" % side),
        )

    j = slim(old_df, "old").join(slim(new_df, "new"), id_col, "full_outer")
    status = (
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .when(F.col("__old_fp").eqNullSafe(F.col("__new_fp")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("`%s`" % id_col), status.alias("status"))


# ---------------------------------------------------------------- MinHash
def minhash_signature(
    col: Column, num_hashes: int = 64, shingle_k: int = 3
) -> Column:
    """MinHash signature (array<bigint> of length *num_hashes*): permutation
    *i* is ``min over shingles of xxhash64(base_hash, i)``.

    The per-row Column form: shingle hashes folded through one
    interpreted ``aggregate``/``zip_with``.  The LSH pipelines
    (:func:`minhash_candidates`, :func:`minhash_state`) compute the same
    values bit for bit with a compiled hash aggregate instead
    (:func:`_minhash_slots`)."""
    hs = F.transform(shingles(col, shingle_k), lambda s: F.xxhash64(s))
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        hs,
        F.array_repeat(F.lit((1 << 63) - 1).cast("bigint"), num_hashes),
        lambda acc, h: F.zip_with(acc, idx, lambda m, i: F.least(m, F.xxhash64(h, i))),
    )


def _check_shingle_k(shingle_k: int) -> None:
    # k < 1 slices every shingle empty: one constant signature, all-pairs junk
    if shingle_k < 1:
        raise ValueError("shingle_k must be >= 1, got %d" % shingle_k)


def _lsh_rows(num_hashes: int, bands: int) -> int:
    """Signature slots per band, after rejecting what would silently give
    junk: ``bands > num_hashes`` hashes 0-slot bands to a CONSTANT, and a
    non-divisor ignores trailing slots."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            "bands (%d) must divide num_hashes (%d)" % (bands, num_hashes)
        )
    return num_hashes // bands


class _Family(NamedTuple):
    """One MinHash hash family, as the Column expressions the shared head
    (:func:`_minhash_slots`) and the banding apply."""

    key: Callable[[Column], Column]  # shingle string -> per-shingle key
    slot: Callable[[Column, int], Column]  # (key, i) -> permutation i's value
    band: Callable[[Column], Column]  # array of a band's slots -> bucket hash


# xxhash64 is the production family; md5 is the one DuckDB can replay.  An
# md5 slot is a 16-hex prefix: lowercase hex orders like the unsigned
# integer it spells, so the string min IS the hash min.  (A string min
# plans as a sort aggregate; a bigint encoding via ``conv`` would keep a
# hash aggregate but cost ~1.5x the CPU.)
_FAMILIES = {
    "xxhash64": _Family(
        key=F.xxhash64,
        slot=lambda h, i: F.xxhash64(h, F.lit(i)),
        band=F.xxhash64,
    ),
    "md5": _Family(
        key=lambda sh: sh,
        slot=lambda h, i: F.substring(F.md5(F.concat(F.lit("%d:" % i), h)), 1, 16),
        band=lambda slots: F.md5(F.concat_ws("|", slots)),
    ),
}


def _family(hash_fn: str) -> _Family:
    if hash_fn not in _FAMILIES:
        raise ValueError("hash_fn must be 'xxhash64' or 'md5'")
    return _FAMILIES[hash_fn]


def _minhash_slots(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, shingle_k: int,
    hash_fn: str,
) -> DataFrame:
    """The MinHash signature head for both hash families, all compiled
    operators: rows ``(__id, __m0 … __m<num_hashes-1>)``, slot ``__m<i>``
    the minimum over the doc's shingles of the family's permutation *i*
    (:data:`_FAMILIES`).  For xxhash64 that is element *i* of
    :func:`minhash_signature`; for md5 it is ``substring(md5('i:' ||
    shingle), 1, 16)``, the SQL the DuckDB oracles replay.

    NULL-text and NULL-id rows are dropped (no content / no identity to
    match on), then the split guard.  A row-unique key keeps duplicate ids
    as separate signatures.  Shingle start positions are exploded and each
    shingle keyed once (``__h``); ``groupBy(__row, __id)`` takes one
    ``min`` per permutation, reduced map-side by the partial aggregate."""
    _check_shingle_k(shingle_k)
    fam = _family(hash_fn)
    ids = F.col("`%s`" % id_col)
    tc = F.col("`%s`" % text_col)
    live = _ensure_parallelism(df.filter(tc.isNotNull() & ids.isNotNull()))
    t, i = F.col("__t"), F.col("__i")
    starts = F.sequence(F.lit(1), F.greatest(F.size(t) - (shingle_k - 1), F.lit(1)))
    keyed = live.select(
        # row-unique key: duplicate ids keep one signature per row
        F.monotonically_increasing_id().alias("__row"), ids.alias("__id"), tokens(tc).alias("__t")
    ).select("__row", "__id", "__t", F.explode(starts).alias("__i")).select(
        "__row", "__id", fam.key(F.concat_ws(" ", F.slice(t, i, F.lit(shingle_k)))).alias("__h")
    )
    h = F.col("__h")
    return keyed.groupBy("__row", "__id").agg(
        *[F.min(fam.slot(h, j)).alias("__m%d" % j) for j in range(num_hashes)]
    ).drop("__row")


def _explode_bands(sigs: DataFrame, bands: int, band_hash, keep=("__id",)) -> DataFrame:
    """Signature rows → LSH bucket rows ``(band, h, *keep)``: one struct
    ``(band, band_hash(band))`` per band, band an int literal."""
    per_band = F.array(
        *[F.struct(F.lit(b).alias("band"), band_hash(b).alias("h")) for b in range(bands)]
    )
    return sigs.select(*keep, F.explode(per_band).alias("b")).select(
        F.col("b.band").alias("band"), F.col("b.h").alias("h"), *keep
    )


def _minhash_buckets(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, bands: int,
    shingle_k: int, hash_fn: str,
) -> DataFrame:
    """Text → LSH bucket rows ``(band, h, __id)``: :func:`_minhash_slots`,
    then one explode of ``(band, <family band hash of the band's slots>)``
    structs.  The shared head of the candidate pipelines and
    :func:`lsh_band_stats`, so every stage sees the identical bucketing."""
    rows = _lsh_rows(num_hashes, bands)
    band = _family(hash_fn).band
    sigs = _minhash_slots(df, text_col, id_col, num_hashes, shingle_k, hash_fn)
    return _explode_bands(sigs, bands, lambda b: band(
        F.array(*["__m%d" % i for i in range(b * rows, (b + 1) * rows)])
    ))


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate near-duplicate pairs ``(id_a, id_b, n_bands, truncated)``
    from MinHash LSH: docs sharing ≥1 band bucket, id_a < id_b.

    Plan: :func:`_minhash_slots` (split guard, a row-unique key so that
    duplicate ids stay separate signatures, the shingle explode, one hash
    aggregate over the permutation minima), one explode of ``(band,
    xxhash64(array(<band slots>)))`` structs, then :func:`_bucket_pairs`.
    NULL-text rows would co-bucket on the seed hash, and NULL ids would
    take cap slots from real ids; both are dropped up front.

    ``max_bucket`` caps bucket membership (boilerplate guard): a bucket of B
    docs yields B·(B−1)/2 pairs, so one viral template could otherwise
    dominate the output.  The cap is applied BEFORE aggregation (window
    row_number over the bucket key), so the collect_list buffer never holds
    more than *max_bucket* ids; capped buckets keep the first *max_bucket*
    ids (deterministic by id order) and their pairs carry
    ``truncated = true``.
    """
    banded = _minhash_buckets(df, text_col, id_col, num_hashes, bands, shingle_k, "xxhash64")
    return _bucket_pairs(banded, max_bucket)


def _bucket_pairs(banded: DataFrame, max_bucket: int) -> DataFrame:
    """(band, h, __id) bucket rows → candidate pairs ``(id_a, id_b,
    n_bands, truncated)``.  Shared tail of the LSH pipelines: cap each
    bucket BEFORE the collect_list buffer exists, pair within buckets
    (id_a < id_b by sorted order), count co-bucketed bands per pair."""
    capped = cap_per_group(banded, ["band", "h"], "__id", max_bucket)
    buckets = capped.groupBy("band", "h").agg(
        F.sort_array(F.collect_list("__id")).alias("ids"),
        (F.max("__gsz") > max_bucket).alias("__trunc"),
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                    ),
                )
            )
        ).alias("p"),
        F.col("__trunc"),
    )
    return (
        pairs.groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.max("__trunc").alias("truncated"),
        )
    )


def minhash_candidates_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """:func:`minhash_candidates` with the md5 hash family — the
    cross-engine-verifiable LSH path.  Same head (:func:`_minhash_slots`),
    with slot *i* = ``min(substring(md5('i:' || shingle), 1, 16))`` and
    band hash = md5 of the '|'-joined band slots, so DuckDB replays the
    whole pipeline in SQL.  NULL-text and NULL-id rows are dropped up
    front (mirror with ``WHERE text IS NOT NULL AND doc_id IS NOT NULL``
    in SQL oracles)."""
    banded = _minhash_buckets(df, text_col, id_col, num_hashes, bands, shingle_k, "md5")
    return _bucket_pairs(banded, max_bucket)


def lsh_band_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """Per-band LSH bucket-occupancy telemetry — the tuning report that
    says whether a banding scheme survives the corpus BEFORE the pair
    join runs: ``(band, n_buckets, n_docs, multi_buckets, max_bucket,
    est_pairs, capped_pairs)``.

    ``est_pairs`` is the uncapped candidate volume ``Σ k·(k−1)/2`` the
    pair stage WOULD generate per band; ``capped_pairs`` is the same sum
    after the production ``max_bucket`` cap (the number the pipeline
    actually pays).  A band whose ``max_bucket`` is a material fraction
    of ``n_docs`` means one boilerplate bucket owns the band — raise
    ``bands`` (narrower slices), raise ``shingle_k``, or keep the cap and
    accept the ``truncated`` flag downstream.  At 10^12 docs this report
    is how the cap is chosen: it costs one groupBy on (band, h) — the
    very shuffle the pair stage pays anyway — plus an 8-row rollup, so it
    is free to run ahead of every dedup campaign.

    The buckets are :func:`minhash_candidates_md5`'s, from the same md5
    head (:func:`_minhash_buckets`), so the report counts exactly the
    bucketing the pair stage sees.  All counts are exact int64 (``k·(k−1)
    div 2``); per-band output is ``bands`` rows, so the final aggregate is
    trivially small."""
    banded = _minhash_buckets(df, text_col, id_col, num_hashes, bands, shingle_k, "md5")
    per_bucket = banded.groupBy("band", "h").agg(
        F.count(F.lit(1)).alias("k")
    )
    k = F.col("k")
    mb = int(max_bucket)
    return (
        per_bucket.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(k).cast("long").alias("n_docs"),
            F.sum((k >= 2).cast("long")).cast("long").alias("multi_buckets"),
            F.max(k).cast("long").alias("max_bucket"),
            F.sum(F.expr("k * (k - 1) DIV 2")).cast("long").alias("est_pairs"),
            # k·(k−1) is even, so integer DIV 2 is exact — no float path
            F.sum(
                F.expr(f"least(k, {mb}L) * (least(k, {mb}L) - 1) DIV 2")
            )
            .cast("long")
            .alias("capped_pairs"),
        )
        .select(
            F.col("band").cast("int").alias("band"),
            "n_buckets",
            "n_docs",
            "multi_buckets",
            "max_bucket",
            "est_pairs",
            "capped_pairs",
        )
    )


# ------------------------------------- cross-increment near-dup state
def minhash_state(
    df: DataFrame,
    increment: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Mergeable near-dup state for one ingest increment — per non-NULL
    doc, one row ``(increment, doc_id, sig)`` where ``sig`` is the doc's
    MinHash signature (``array<bigint>`` for the xxhash64 production
    family, ``array<string>`` of 16-hex md5 prefixes for the
    cross-engine-verifiable ``hash_fn='md5'`` family).  Both families come
    from the one signature head the candidate pipelines use
    (:func:`_minhash_slots`), so a state row carries exactly the slots
    :func:`minhash_candidates` / :func:`minhash_candidates_md5` band.

    This is the near-dup sibling of :func:`incremental_dedup`'s exact
    fingerprint index: append each increment's state to a parquet table
    (``partitionBy(increment)``) and :func:`dedup_against_state` checks a
    NEW ingest against the whole corpus history reading ONLY this state —
    at 10^12 docs the signatures are ~0.1% of the text payload, and the
    historical text is never rescanned.  NULL-text and NULL-id rows are
    excluded (no content / no identity to match on); duplicate ids keep
    one row each."""
    sigs = _minhash_slots(df, text_col, id_col, num_hashes, shingle_k, hash_fn)
    slots = ["__m%d" % i for i in range(num_hashes)]
    return sigs.select(
        F.lit(increment).alias("increment"), F.col("__id").alias("doc_id"),
        F.array(*slots).alias("sig"),
    )


def _state_bands(
    state: DataFrame, hash_fn: str, num_hashes: int, bands: int, id_alias: str
) -> DataFrame:
    """(increment, doc_id, sig) state rows → exploded LSH bucket rows
    ``(band, h, <id_alias>, increment)``, banded with *hash_fn*'s band hash
    (:data:`_FAMILIES`) as :func:`_minhash_buckets` bands the same
    signature.  A sig whose length is not *num_hashes* fails the query:
    its bands would hash misaligned or empty slices (all-pairs junk)."""
    rows = _lsh_rows(num_hashes, bands)
    band = _family(hash_fn).band
    sig = F.col("sig")
    checked = F.when(
        F.size(sig) != num_hashes,
        F.raise_error(F.format_string(
            "minhash_state sig has %d slots, num_hashes is %d", F.size(sig), F.lit(num_hashes)
        )),
    ).otherwise(sig)
    keyed = state.select(F.col("doc_id").alias(id_alias), "increment", checked.alias("sig"))
    return _explode_bands(
        keyed, bands, lambda b: band(F.slice(sig, b * rows + 1, rows)), (id_alias, "increment")
    )


def dedup_against_state(
    new_state: DataFrame,
    old_states: DataFrame,
    bands: int,
    num_hashes: int,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-duplicate matches of a NEW increment's docs against the
    historical corpus, from :func:`minhash_state` rows alone — no text is
    read on either side.  Returns ``(new_id, old_id, old_increment,
    n_bands, jacc_bp, truncated)`` where ``jacc_bp`` is the MinHash
    Jaccard estimate in integer basis points (matching signature slots ×
    10000 div num_hashes) and ``n_bands`` counts co-bucketed LSH bands.
    A re-ingested doc (same id in history) IS reported — that is the
    "this exact document was already ingested" signal.

    Plan: both sides explode to ``bands`` bucket rows per doc, each side
    is capped at *max_bucket* per (band, h) BEFORE the join (window
    row_number — the boilerplate-bucket guard, same as
    :func:`minhash_candidates`), one hash join on (band, h), a pair-level
    groupBy, then two slim id-keyed joins back to the signatures for the
    slot comparison.  Cost is driven by bucket collisions, never by
    |history| × |new|; at 10^12 docs store the state bucketed on doc_id
    (``sources.write_bucketed``) so the sig-lookup joins are
    exchange-free on the state side.

    Both states must come from the same ``hash_fn`` (the sig element
    types must agree, else ``ValueError``: the two families never share a
    bucket), and every sig must hold *num_hashes* slots (checked in-plan:
    the query fails on the first sig of another length)."""
    new_t, old_t = (st.schema["sig"].dataType.elementType for st in (new_state, old_states))
    if new_t != old_t:
        raise ValueError(
            "new_state and old_states sig types differ (%s vs %s): build both "
            "with the same minhash_state hash_fn" % (new_t.simpleString(), old_t.simpleString())
        )
    hash_fn = "md5" if new_t.typeName() == "string" else "xxhash64"
    nb = _state_bands(new_state, hash_fn, num_hashes, bands, "new_id").drop("increment")
    ob = _state_bands(old_states, hash_fn, num_hashes, bands, "old_id").withColumnRenamed(
        "increment", "old_increment"
    )
    # cap each side independently; min_size=1 — a 1-member bucket on one
    # side still matches the other side (bipartite, unlike self-join LSH)
    nc = cap_per_group(nb, ["band", "h"], "new_id", max_bucket, min_size=1)
    oc = cap_per_group(ob, ["band", "h"], "old_id", max_bucket, min_size=1)
    pairs = (
        nc.select("band", "h", "new_id", (F.col("__gsz") > max_bucket).alias("__tn"))
        .join(
            oc.select(
                "band", "h", "old_id", "old_increment",
                (F.col("__gsz") > max_bucket).alias("__to"),
            ),
            ["band", "h"],
        )
        .groupBy("new_id", "old_id", "old_increment")
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.max(F.col("__tn") | F.col("__to")).alias("truncated"),
        )
    )
    ns = new_state.select(F.col("doc_id").alias("new_id"), F.col("sig").alias("__sa"))
    os_ = old_states.select(
        F.col("doc_id").alias("old_id"),
        F.col("increment").alias("old_increment"),
        F.col("sig").alias("__sb"),
    )
    matched = F.aggregate(
        F.zip_with(
            F.col("__sa"), F.col("__sb"), lambda x, y: (x == y).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(ns, "new_id")
        .join(os_, ["old_id", "old_increment"])
        .select(
            "new_id", "old_id", "old_increment", "n_bands", "truncated",
            matched.alias("__m"),
        )
        # integer bp via `div` (DuckDB `//`), not floor(double division)
        .select(
            "new_id",
            "old_id",
            "old_increment",
            "n_bands",
            F.expr("__m * 10000L div %dL" % num_hashes)
            .cast("long")
            .alias("jacc_bp"),
            "truncated",
        )
    )


def drop_history_dups(
    new_df: DataFrame,
    matches: DataFrame,
    threshold_bp: int = 8000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Filter a new ingest down to docs NOT near-duplicating history:
    LEFT ANTI join of *new_df* against :func:`dedup_against_state`
    matches at ``jacc_bp ≥ threshold_bp``.  NULL-id rows pass through
    (they had no identity to match — same contract as
    :func:`incremental_dedup`)."""
    hit = matches.filter(F.col("jacc_bp") >= int(threshold_bp)).select(
        F.col("new_id").alias("__hit")
    ).distinct()
    ids = F.col("`%s`" % id_col)
    return (
        new_df.join(hit, ids == F.col("__hit"), "left_anti")
    )


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs: join each side's distinct
    shingle-hash set (two broadcast-or-shuffle joins keyed by doc id, NOT a
    cross join) → ``(id_a, id_b, jaccard)``."""
    ids = F.col("`%s`" % id_col)
    sets_df = df.select(
        ids.alias("__id"),
        F.array_distinct(
            F.transform(shingles(F.col("`%s`" % text_col), shingle_k), lambda s: F.xxhash64(s))
        ).alias("__set"),
    )
    a = sets_df.select(F.col("__id").alias("id_a"), F.col("__set").alias("__sa"))
    b = sets_df.select(F.col("__id").alias("id_b"), F.col("__set").alias("__sb"))
    j = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = F.size(F.array_union("__sa", "__sb")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    out = j.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def ssjoin_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT all-pairs set-similarity self-join via prefix filtering
    (PPJoin family, Xiao et al. 2008): every pair of documents whose
    distinct k-token-shingle sets have Jaccard >= *threshold* —
    ``(id_a, id_b, jaccard)`` — with **zero false negatives**, unlike
    MinHash-LSH candidates.

    Prefix-filter guarantee: order each doc's shingles by a single global
    total order (corpus doc-frequency ascending, shingle tiebreak — rare
    first).  Jaccard >= t implies overlap >= ceil(t·|A|) for each side, so
    after dropping the last ceil(t·n)−1 elements of the ordering, a
    qualifying partner must still share one of the first
    ``n − ceil(t·n) + 1`` (prefix) shingles.  Join on prefix shingles
    only, size-filter (``min >= t·max``), then verify exactly with
    ``array_intersect`` on the full sets.

    Scale shape at 100 TB: the prefix join's bucket per shingle holds only
    docs for which that shingle is among their RAREST — high-frequency
    boilerplate shingles fall out of prefixes by construction, so buckets
    stay small without any cap (and the result stays exact).  Three
    shuffles total: doc-frequency agg, per-doc re-aggregation of the
    ordered set, and the candidate join; verification joins key on doc id.

    NULL ids/texts are excluded; score rounds to 6 dp for cross-engine
    hash determinism (the threshold compares the UNROUNDED ratio — both
    operands are exact small-integer doubles, so the compare is
    bit-identical in any IEEE engine)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("ssjoin_pairs: threshold must be in (0, 1]")
    ids = F.col("`%s`" % id_col)
    base = (
        df.filter(ids.isNotNull() & F.col("`%s`" % text_col).isNotNull())
        .select(
            ids.alias("__id"),
            F.array_distinct(
                shingles(F.col("`%s`" % text_col), shingle_k)
            ).alias("__set"),
        )
    )
    tok = base.select("__id", F.size("__set").alias("__n"), F.explode("__set").alias("__t"))
    dfreq = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    # rare-first global ordering; (df, shingle) is a total order
    ordered = (
        tok.join(dfreq, "__t")
        .groupBy("__id")
        .agg(
            F.first("__n").alias("__n"),
            F.array_sort(F.collect_list(F.struct("__df", "__t"))).alias("__st"),
        )
    )
    n = F.col("__n")
    # relative + absolute slack: ceil(0.8 * 5) must be 4, but IEEE 0.8*5 =
    # 4.0000000000000002 would ceil to 5 and shorten the prefix below the
    # no-false-negative bound.  The relative term keeps the slack above
    # one ulp of t·n at ANY set size (a flat 1e-9 stops covering rounding
    # error once t·n > ~9e6); slack only ever LENGTHENS the prefix
    # (more candidates, still exact).
    tn = F.lit(threshold) * n.cast("double")
    plen = (
        n
        - F.ceil(tn - F.abs(tn) * F.lit(1e-12) - F.lit(1e-9)).cast("int")
        + 1
    )
    pref = ordered.select(
        "__id",
        "__n",
        F.explode(
            F.slice(F.transform("__st", lambda s: s["__t"]), F.lit(1), plen)
        ).alias("__t"),
    )
    a = pref.select(
        F.col("__id").alias("id_a"), F.col("__n").alias("__na"), "__t"
    )
    b = pref.select(
        F.col("__id").alias("id_b"), F.col("__n").alias("__nb"), "__t"
    )
    bound = F.lit(threshold) * F.greatest("__na", "__nb").cast("double")
    cand = (
        a.join(b, "__t")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            # same relative+absolute slack: a (4, 5) pair at t=0.8 reaches
            # jaccard exactly 0.8, but float 0.8*5 > 4 would drop it here
            F.least("__na", "__nb").cast("double")
            >= bound - F.abs(bound) * F.lit(1e-12) - F.lit(1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verification sets come from the ALREADY-AGGREGATED ordered table
    # (the struct list projected back to shingles), not from base: base's
    # lineage would re-tokenize + re-shingle every raw text a second and
    # third time, while ordered's shuffle output is exchange-reusable
    # across pref/sa/sb
    sets = ordered.select(
        "__id", F.transform("__st", lambda s: s["__t"]).alias("__set")
    )
    sa = sets.select(F.col("__id").alias("id_a"), F.col("__set").alias("__sa"))
    sb = sets.select(F.col("__id").alias("id_b"), F.col("__set").alias("__sb"))
    j = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    uni = (F.size("__sa") + F.size("__sb")).cast("double") - inter
    jac = F.when(uni > 0, inter / uni).otherwise(F.lit(1.0))
    return (
        j.select("id_a", "id_b", jac.alias("__jac"))
        .filter(F.col("__jac") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("__jac", 6).alias("jaccard"))
    )


def near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact shingle Jaccard ≥
    *threshold* — the standard near-dup pipeline in one call."""
    cand = minhash_candidates(df, text_col, id_col, num_hashes, bands, shingle_k)
    return jaccard_pairs(df, cand, text_col, id_col, shingle_k, threshold)


# ---------------------------------------------------------------- SimHash
def _simhash_vote_batch(row_hashes) -> "pd.Series":
    """Whole-batch 64-bit majority vote: *row_hashes* is a sequence of
    per-row 64-bit shingle-hash arrays (empty/None rows → 0).

    One flat concat across the batch, then 64 C-speed passes — per bit,
    ``(flat >> b) & 1`` followed by ``np.add.reduceat`` at the row
    offsets — instead of a Python loop over rows.  Memory stays O(batch
    shingle total); no (total × 64) bit matrix is materialised, so a
    batch of long documents can't blow the Arrow worker."""
    import numpy as np

    n = len(row_hashes)
    out = np.zeros(n, dtype=np.int64)
    arrs = [
        None if a is None else np.asarray(a, dtype=np.int64)
        for a in row_hashes
    ]
    lens = np.fromiter(
        (0 if a is None else a.size for a in arrs), dtype=np.int64, count=n
    )
    nz = np.nonzero(lens)[0]
    if nz.size == 0:
        return pd.Series(out)
    flat = np.concatenate([arrs[i] for i in nz]).view(np.uint64)
    nzlens = lens[nz]
    starts = np.zeros(nz.size, dtype=np.int64)
    np.cumsum(nzlens[:-1], out=starts[1:])
    sums = np.empty((nz.size, 64), dtype=np.int64)
    for b in range(64):
        sums[:, b] = np.add.reduceat(
            (flat >> np.uint64(b)) & np.uint64(1), starts
        ).astype(np.int64)
    counts = 2 * sums - nzlens[:, None]  # (+1/-1 votes)
    sig = np.bitwise_or.reduce(
        (counts > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64),
        axis=1,
    )
    out[nz] = sig.view(np.int64)
    return pd.Series(out)


def _simhash_vote(hs: Column) -> Column:
    """64-bit SimHash (bigint) of an array<bigint> of per-shingle 64-bit
    hashes: the majority vote runs in an Arrow-batched pandas UDF, where
    :func:`_simhash_vote_batch` unpacks the whole batch with 64 vectorised
    reduceat passes.  An interpreted HOF ``aggregate`` over a 64-slot
    counter array took about 1.7× as long on a signature-only job (5,000
    sf0.1 documents, local[4]).  The input must be built from
    capture-free lambdas (``shingles(..., udf_safe=True)``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def vote(hs: pd.Series) -> pd.Series:
        return _simhash_vote_batch(hs)

    return vote(hs)


def simhash64(col: Column, shingle_k: int = 2) -> Column:
    """64-bit SimHash as bigint: majority vote per bit over the shingles'
    ``xxhash64`` values (the shingle hashing stays JVM-side; only the vote
    crosses to Python, see :func:`_simhash_vote`)."""
    return _simhash_vote(
        F.transform(shingles(col, shingle_k, udf_safe=True), lambda s: F.xxhash64(s))
    )


def simhash64_md5(col: Column, shingle_k: int = 2) -> Column:
    """64-bit SimHash keyed by md5 — :func:`simhash64` with the xxhash64
    (absent in DuckDB) swapped for a hash both engines have, so the
    signature replays in SQL.

    Per shingle the hash is the first 16 hex chars of ``md5(shingle)``,
    read as two 32-bit halves (``conv`` of 8 hex chars each — the full
    unsigned 64-bit value doesn't fit a signed bigint) and reassembled as
    the wrapping bigint ``hi << 32 | lo``, which carries the same 64 bits.
    The vote is :func:`simhash64`'s; bit 63 lands in the sign bit.  The
    md5 hex string is let-bound via its own ``transform`` so it is
    computed once per shingle."""
    hx = F.transform(shingles(col, shingle_k, udf_safe=True), lambda s: F.md5(s))
    hs = F.transform(
        hx,
        lambda h: F.shiftleft(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), 32
        ).bitwiseOR(F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")),
    )
    return _simhash_vote(hs)


def _simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, sig_fn, shingle_k: int, max_bucket: int
) -> DataFrame:
    """Shared SimHash candidates head: drop NULL-text and NULL-id rows
    (they never produce candidates, same rationale as MinHash), guard the
    split count, sign with *sig_fn*, then :func:`hamming_candidates` over
    four 16-bit chunks."""
    _check_shingle_k(shingle_k)
    ids = F.col("`%s`" % id_col)
    tc = F.col("`%s`" % text_col)
    live = _ensure_parallelism(df.filter(tc.isNotNull() & ids.isNotNull()))
    sigs = live.select(ids.alias("__id"), sig_fn(tc, shingle_k).alias("__sig"))
    return hamming_candidates(
        sigs, id_col="__id", sig_col="__sig", n_chunks=4, max_bucket=max_bucket
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 2,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-dup candidates by SimHash banding: split the 64-bit signature
    into four 16-bit chunks; docs sharing any chunk value are candidates
    (catches all pairs within Hamming distance 3).  Returns
    ``(id_a, id_b, hamming, truncated)`` with exact Hamming distance
    computed via bit_count on the XOR.  Buckets are capped at *max_bucket*
    members BEFORE aggregation (first ids by order, deterministic);
    pairs from capped buckets carry ``truncated = true``."""
    return _simhash_pairs(df, text_col, id_col, simhash64, shingle_k, max_bucket)


def simhash_candidates_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 2,
    max_bucket: int = 64,
) -> DataFrame:
    """:func:`simhash_candidates` with :func:`simhash64_md5` — makes the
    ENTIRE SimHash pipeline (shingling, per-bit majority vote, 16-bit chunk
    bucketing, capped pair generation, exact Hamming) replayable as an
    ANSI-SQL oracle: DuckDB reproduces the signature bit-for-bit from
    ``md5`` + arithmetic shifts, so the driver's hash gate covers the whole
    path end-to-end (the xxhash64 variant stays rows-only)."""
    return _simhash_pairs(df, text_col, id_col, simhash64_md5, shingle_k, max_bucket)


def hamming_candidates(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    n_chunks: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Banding over any 64-bit bigint signature column (SimHash, perceptual
    image dHash, …): split into *n_chunks* equal-width chunks; rows sharing
    any chunk value become candidate pairs — by pigeonhole this catches
    EVERY pair with Hamming distance < n_chunks (wider radii are caught
    probabilistically).  Returns ``(id_a, id_b, hamming, truncated)`` with
    exact ``bit_count(xor)`` Hamming distance; buckets are capped at
    *max_bucket* members BEFORE ``collect_list`` (deterministic first-ids),
    so one degenerate signature value can never OOM an executor.
    NULL signatures never produce candidates (they would otherwise collide
    into shared NULL buckets and emit ``hamming = NULL`` pairs)."""
    if 64 % n_chunks != 0:
        raise ValueError("n_chunks must divide 64")
    width = 64 // n_chunks
    mask = (1 << width) - 1
    ids = F.col("`%s`" % id_col)
    sg = F.col("`%s`" % sig_col).cast("bigint")
    base = sigs.filter(sg.isNotNull()).select(ids.alias("__id"), sg.alias("__sig"))
    chunks = base.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("__sig"), width * c)
                        .bitwiseAND(F.lit(mask))
                        .alias("v"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(F.col("c.chunk").alias("chunk"), F.col("c.v").alias("v"), "__id", "__sig")
    capped = cap_per_group(chunks, ["chunk", "v"], "__id", max_bucket)
    buckets = capped.groupBy("chunk", "v").agg(
        F.sort_array(F.collect_list(F.struct("__id", "__sig"))).alias("xs"),
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
                            F.bit_count(a["__sig"].bitwiseXOR(b["__sig"])).alias("hamming"),
                        ),
                    ),
                )
            )
        ).alias("p"),
        F.col("__trunc"),
    ).select("p.id_a", "p.id_b", "p.hamming", "__trunc")
    return pairs.groupBy("id_a", "id_b").agg(
        F.min("hamming").alias("hamming"),
        F.max("__trunc").alias("truncated"),
    )


# ---------------------------------------------------- cluster resolution
def lsh_recall_report(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    sample_fraction: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "lshqa-v1",
) -> DataFrame:
    """Measured quality of the MinHash-LSH candidate pipeline — the QA
    probe that answers "is (num_hashes, bands) good enough for THIS
    corpus?" before a full dedup run.  One row::

        (n_true_pairs, n_candidate_pairs, n_hit, recall_bp, precision_bp)

    Ground truth is :func:`ssjoin_pairs` (EXACT shingle-Jaccard >=
    *threshold*, zero false negatives), candidates are the *hash_fn*
    family's LSH pairs (:func:`minhash_candidates` /
    :func:`minhash_candidates_md5`, same bucket cap) with the SAME shingle
    definition; both are evaluated on a deterministic hash sample
    (:func:`~evalidate_spark.functions.sampling.sample_deterministic`) so
    the probe costs a *sample_fraction* slice of the corpus and is
    reproducible across runs and engines.  ``recall_bp`` = hits / true
    pairs, ``precision_bp`` = hits / candidates (candidates below the
    exact threshold are false positives the verify stage will pay for),
    both in integer basis points; NULL when the denominator is 0.
    Bucket-cap truncation (boilerplate buckets) shows up honestly as
    missed recall.  Plan: the two sub-pipelines' own scale shapes + one
    full-outer pair join + a single-row aggregate."""
    from .sampling import sample_deterministic

    s = (
        sample_deterministic(df, sample_fraction, id_col=id_col, salt=salt)
        if sample_fraction < 1.0
        else df
    )
    # the candidate functions' own bucket cap (64)
    banded = _minhash_buckets(s, text_col, id_col, num_hashes, bands, shingle_k, hash_fn)
    cand = _bucket_pairs(banded, 64).select("id_a", "id_b", F.lit(1).alias("__c"))
    truth = ssjoin_pairs(
        s, threshold=threshold, shingle_k=shingle_k, id_col=id_col,
        text_col=text_col,
    ).select("id_a", "id_b", F.lit(1).alias("__t"))
    j = truth.join(cand, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.sum("__t").cast("long").alias("n_true_pairs"),
        F.sum("__c").cast("long").alias("n_candidate_pairs"),
        F.sum(F.col("__t") * F.col("__c")).cast("long").alias("n_hit"),
    )
    return agg.select(
        F.coalesce("n_true_pairs", F.lit(0)).alias("n_true_pairs"),
        F.coalesce("n_candidate_pairs", F.lit(0)).alias("n_candidate_pairs"),
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        F.when(
            F.coalesce("n_true_pairs", F.lit(0)) > 0,
            F.expr("coalesce(n_hit, 0L) * 10000L div n_true_pairs"),
        ).cast("long").alias("recall_bp"),
        F.when(
            F.coalesce("n_candidate_pairs", F.lit(0)) > 0,
            F.expr("coalesce(n_hit, 0L) * 10000L div n_candidate_pairs"),
        ).cast("long").alias("precision_bp"),
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    on_nonconverged: str = "raise",
    checkpoint_every: int = 2,
    stats: dict = None,
) -> DataFrame:
    """Connected components over duplicate pairs → ``(id, cluster_id)``
    with ``cluster_id`` = the component's minimum id (deterministic
    canonical representative).

    The last stage of the dedup pipeline: LSH gives candidate *pairs*;
    keeping one doc per transitive duplicate *group* needs the components.
    Algorithm: alternating **large-star / small-star** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    rewires every node's strictly-larger neighbours (large-star) then its
    smaller neighbours (small-star) to the neighbourhood minimum.  Rounds
    needed are logarithmic in component size (O(log² n) proven, ~log₂ n
    observed), NOT linear in diameter like naive min-label propagation —
    a 10k-node chain converges in ~10 alternating rounds instead of 10k.
    Each round is two groupBys + two joins on ids; nothing is collected to
    the driver.  The edge set is ``localCheckpoint``-ed every
    *checkpoint_every* rounds — enough to stop the iterative plan growing
    unboundedly, without writing block storage every single round.

    If the edge set has not reached a fixpoint after *max_iter* rounds the
    result could silently SPLIT real components —
    ``on_nonconverged='raise'`` (default) raises instead; pass
    ``'ignore'`` to accept the partial merge."""
    a, b = F.col("`%s`" % id_a), F.col("`%s`" % id_b)
    # pin the incoming pairs FIRST: nodes and the edge set both derive
    # from them, and without this the whole upstream candidate pipeline
    # (LSH banding, bucket joins, …) executes once per derivation —
    # measured ~2× the signature cost on the end-to-end dedup report
    src = pairs.select(a.alias("__pa"), b.alias("__pb")).localCheckpoint(
        eager=True
    )
    pa, pb = F.col("__pa"), F.col("__pb")
    nodes = (
        src.select(pa.alias("id")).union(src.select(pb.alias("id"))).distinct()
    ).localCheckpoint(eager=True)
    e = (
        src.select(F.least(pa, pb).alias("lo"), F.greatest(pa, pb).alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    ).localCheckpoint(eager=True)
    converged = False
    n_edges = e.count()
    for i in range(max_iter):
        # large-star: every neighbour v > u re-points to min(N(u) ∪ {u})
        sym = e.select(F.col("lo").alias("a"), F.col("hi").alias("b")).union(
            e.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
        )
        m = sym.groupBy("a").agg(F.min("b").alias("mb"))
        m = m.select("a", F.least("mb", F.col("a")).alias("m"))
        big = (
            sym.filter(F.col("b") > F.col("a"))
            .join(m, "a")
            .select(F.col("m").alias("lo"), F.col("b").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # small-star on the (hi → lo) orientation: every smaller neighbour
        # and the centre re-point to the smallest neighbour
        m2 = big.groupBy("hi").agg(F.min("lo").alias("m"))
        s1 = (
            big.join(m2, "hi")
            .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
        )
        s2 = m2.select(F.col("m").alias("lo"), F.col("hi").alias("hi"))
        new_e = (
            s1.union(s2).filter(F.col("lo") != F.col("hi")).distinct()
        )
        if (i + 1) % checkpoint_every == 0:
            new_e = new_e.localCheckpoint(eager=True)
        else:
            # every round's edges feed up to THREE actions (the count, a
            # possible subset check, the next round's joins): without a
            # persist the whole round lineage re-executes for each —
            # measured ~2× wall time on job-overhead-bound small edge
            # sets.  At most one cached + one checkpointed edge set is
            # live at a time (the previous round unpersists below).
            new_e = new_e.persist()
        # fixpoint test: same cardinality and new ⊆ old ⇒ equal sets
        new_count = new_e.count()
        if new_count == n_edges and new_e.exceptAll(e).limit(1).count() == 0:
            converged = True
            e.unpersist()
            e = new_e
            if stats is not None:
                stats["rounds"] = i + 1
            break
        prev = e
        e, n_edges = new_e, new_count
        prev.unpersist()  # safe: new_e is materialized (count above)
    if not converged and on_nonconverged != "ignore":
        raise RuntimeError(
            "duplicate_clusters did not converge within max_iter=%d rounds; "
            "raise max_iter or pass on_nonconverged='ignore' to accept "
            "split components" % max_iter
        )
    # at the fixpoint every edge is (component-min → member)
    leaf = e.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("cluster_id"))
    return nodes.join(leaf, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )


def apply_dedup_clusters(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one canonical doc per duplicate cluster: rows whose id is a
    cluster's min id survive, other cluster members drop, docs in no
    cluster pass through.  One LEFT ANTI join against the non-canonical
    member list (small: only docs inside duplicate groups)."""
    non_canonical = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("__drop")
    )
    ids = F.col("`%s`" % id_col)
    return df.join(non_canonical, on=ids == non_canonical["__drop"], how="left_anti")


def contamination(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: Optional[str] = None,
    shingle_k: int = 3,
    min_shared: int = 2,
    exclude_same_id: bool = True,
) -> DataFrame:
    """Train-vs-benchmark contamination check: pairs ``(doc_id, bench_id,
    n_shared)`` where a corpus doc shares ≥ *min_shared* DISTINCT k-token
    shingles with a benchmark/eval doc — the screen run before training so
    eval sets aren't memorised.

    ``exclude_same_id`` (default True) drops pairs whose ids coincide —
    correct when the benchmark is a SLICE of the corpus (a doc trivially
    "contaminates" itself).  Set it False when the two sides come from
    DIFFERENT id namespaces: there a numeric coincidence (corpus doc 5 vs
    bench doc 5) is a genuine pair, and the default would silently drop
    the diagonal of real hits.

    Scale shape: the benchmark side is small by definition (an eval set),
    so its exploded distinct shingles BROADCAST; the corpus side streams
    through a map-side hash join — no corpus shuffle at all until the
    (tiny) per-pair count aggregation.  Shingle lists are de-duplicated
    per doc before exploding, so the pair count IS the distinct-shingle
    overlap (≡ ``len(list_intersect(...))`` in the SQL oracle)."""
    bench_id_col = bench_id_col or id_col
    t = F.col("`%s`" % text_col)
    # NULL-text rows never contaminate (mirrors the SQL oracle, where a
    # NULL shingle list intersects to NULL and drops out)
    d_sh = docs.filter(t.isNotNull()).select(
        F.col("`%s`" % id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(t, shingle_k))).alias("__sh"),
    )
    b_sh = bench.filter(t.isNotNull()).select(
        F.col("`%s`" % bench_id_col).alias("bench_id"),
        F.explode(F.array_distinct(shingles(t, shingle_k))).alias("__sh"),
    )
    paired = d_sh.join(F.broadcast(b_sh), "__sh")
    if exclude_same_id:
        paired = paired.filter(F.col("doc_id") != F.col("bench_id"))
    return (
        paired
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ------------------------------------------------------------- embeddings
def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    planes: int = 16,
    seed: int = 42,
    max_bucket: int = 256,
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates: LSH (random-hyperplane sign
    buckets) → exact cosine within buckets → pairs ≥ *threshold*.
    Delegates to :func:`similarity.lsh_bucket_pairs` (see its NULL/ragged
    contract; pass *dim* for an order-independent length filter)."""
    from .similarity import lsh_bucket_pairs

    pairs = lsh_bucket_pairs(
        df, vec_col, id_col, planes=planes, seed=seed, max_bucket=max_bucket, dim=dim
    )
    return pairs.filter(F.col("cosine") >= threshold)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_centroids: int = 16,
    dim: Optional[int] = None,
    max_cell: int = 8192,
    sample_n: int = 10_000,
    iters: int = 5,
    seed: int = 42,
    centroids: Optional[list] = None,
    truncated_col: Optional[str] = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    embeddings into k-means cells, compute exact cosine only WITHIN each
    cell, and drop every row that has a smaller-id same-cell neighbour
    with ``round(cosine, 6) >= threshold``.  Returns the KEPT rows (all
    original columns).

    Deterministic drop rule: "exists a smaller-id near-neighbour" — no
    dependence on iteration order, and identical vectors always share a
    cell (same argmax scores, same tie-break), so exact duplicates are
    always caught regardless of the fitted centroids.

    Scale notes: cell assignment is one fused projection (centroids are
    plan literals, no shuffle — :func:`similarity.ivf_assign`); the
    pairwise stage is ONE shuffle on the cell id feeding an Arrow
    ``applyInPandas`` that runs each cell as a blocked numpy matmul —
    per-cell work is O((n/k)^2) vectorized flops, so size
    ``n_centroids ~ sqrt(corpus)`` to keep cells bounded, and
    ``max_cell`` hard-caps membership BEFORE the shuffle (first
    *max_cell* ids per cell, deterministic) so one fat cell cannot
    quadratic-blow a task.  Parallelism equals the number of cells —
    another reason k grows with the corpus.  Rows with NULL id/vector,
    a non-*dim* vector, or a NULL/NaN/±Inf element cannot be compared
    and are always kept (`similarity._finite_vec`: a NaN cosine would
    rank engine-divergently and must never decide a drop).
    ``truncated_col`` (optional) appends a boolean marking kept rows whose
    cell exceeded *max_cell* — those were only partially inspected (the
    honest-signal contract shared with the minhash/simhash paths).
    """
    from .similarity import _finite_vec, _kmeans_centroids, ivf_assign

    qid, qv = F.col("`%s`" % id_col), F.col("`%s`" % vec_col)
    def _passthrough(d0: DataFrame) -> DataFrame:
        # degenerate batches keep the PROMISED schema: the output must
        # not gain/lose truncated_col depending on the data, or a fixed
        # downstream table schema fails only on the empty increment
        if truncated_col is None:
            return d0
        return d0.withColumn(truncated_col, F.lit(False))

    if dim is None:
        first = df.filter(qv.isNotNull()).select(F.size(qv).alias("d")).first()
        if first is None:
            return _passthrough(df)  # nothing comparable -> nothing to drop
        dim = first["d"]
    valid = df.filter(qid.isNotNull() & (F.size(qv) == dim) & _finite_vec(qv))
    if centroids is None:
        try:
            centroids = _kmeans_centroids(
                valid, vec_col, n_centroids, sample_n=sample_n, iters=iters, seed=seed
            )
        except ValueError:
            # no comparable (id, dim-length) rows -> nothing to drop
            return _passthrough(df)
    cells = (
        ivf_assign(valid, centroids, vec_col)
        .select(qid.alias("__sid"), qv.cast("array<double>").alias("__sv"), "cell")
    )
    cells = cap_per_group(cells, ["cell"], "__sid", max_cell).select(
        "cell", "__sid", "__sv", "__gsz"
    )

    import numpy as np

    th = float(threshold)

    def _drop(pdf: pd.DataFrame) -> pd.DataFrame:
        # per-cell numpy pairwise (the SemDeDup inner loop): one blocked
        # matmul instead of interpreted per-pair expressions.  Peak memory
        # is n_cell x 2048 doubles per task (<=128 MB at max_cell=8192).
        pdf = pdf.sort_values("__sid")
        ids = pdf["__sid"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"__drop_id": ids[:0]})
        v = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf["__sv"]], dtype=np.float64
        )
        nrm = np.linalg.norm(v, axis=1, keepdims=True)
        vn = np.divide(v, np.where(nrm == 0, 1.0, nrm))  # zero vector -> cos 0
        dropped = np.zeros(n, dtype=bool)
        block = 2048
        for j0 in range(1, n, block):
            j1 = min(j0 + block, n)
            s = np.round(vn[:j1] @ vn[j0:j1].T, 6)
            # strict id comparison (not row index): duplicate ids must not
            # drop each other — "smaller id" is the deterministic contract
            hit = (s >= th) & (ids[:j1, None] < ids[None, j0:j1])
            dropped[j0:j1] |= hit.any(axis=0)
        return pd.DataFrame({"__drop_id": ids[dropped]})

    # output schema follows the caller's id type (string/int/long/...)
    # instead of hardcoding long — every other dedup op takes any id type
    id_type = df.schema[id_col].dataType.simpleString()
    dropped = cells.groupBy("cell").applyInPandas(_drop, "__drop_id %s" % id_type)
    kept = df.join(dropped, on=qid == F.col("__drop_id"), how="left_anti")
    if truncated_col is None:
        return kept
    # honest-signal mode (same contract as the minhash/simhash `truncated`
    # flag): rows whose cell blew the cap were only partially (or never)
    # compared — mark them so callers can distinguish clean from uninspected
    tcells = cells.filter(F.col("__gsz") > max_cell).select("cell").distinct()
    flagged = (
        ivf_assign(
            kept.filter(
                qid.isNotNull() & (F.size(qv) == dim) & _finite_vec(qv)
            ),
            centroids,
            vec_col,
        )
        .select(qid.alias("__tid"), "cell")
        .join(tcells, "cell", "left_semi")
        .select("__tid")
        .distinct()
    )
    return kept.join(flagged, on=qid == F.col("__tid"), how="left").withColumn(
        truncated_col, F.col("__tid").isNotNull()
    ).drop("__tid")


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occurrences: int = 2,
    delim: str = "\n",
) -> DataFrame:
    """Corpus-level LINE dedup with text rewrite — the C4 cleanup rule
    (Raffel et al. 2020: "we removed any line that occurred more than
    once in the corpus"): drop every occurrence of any non-empty line
    appearing >= *min_occurrences* times corpus-wide, and reassemble each
    document's remaining lines in order.

    One row per ``doc_id``: ``(doc_id, n_lines, n_kept, n_dropped,
    text_clean)``.  Contracts: NULL-text rows are excluded (presence
    problem); empty lines (``''``) are STRUCTURE, never counted or
    dropped; duplicate/NULL doc_ids collapse into one group exactly like
    SQL GROUP BY, lines interleaved in total ``(pos, line)`` order so
    the result is engine-independent; a doc whose every line is
    boilerplate rewrites to ``''``.

    Plan: posexplode lines → map-side-combined count per line (hot
    boilerplate lines bounded by partial aggregation) → LEFT ANTI join
    of the exploded lines against the >=k line set → per-doc
    ``collect_list`` reassembly (bounded by document size).  Three
    shuffles — the honest price of a corpus-global rewrite; pre-bucketing
    by line hash removes the join exchange at PB scale."""
    import re as _re

    if min_occurrences < 2:
        raise ValueError("min_occurrences must be >= 2")
    did, txt = F.col("`%s`" % id_col), F.col("`%s`" % text_col)
    lines = (
        df.filter(txt.isNotNull())
        .select(did.alias("__id"), F.posexplode(F.split(txt, _re.escape(delim))))
        .withColumnRenamed("pos", "__pos")
        .withColumnRenamed("col", "__line")
    )
    dup = (
        lines.filter(F.col("__line") != "")
        .groupBy("__line")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_occurrences)
        .select("__line")
    )
    # flag-join instead of anti-join so ONE reassembly aggregate carries
    # totals and kept lines together (collect_list skips the NULLs the
    # when() leaves for dropped lines); the explode lineage still runs
    # twice — the count pass and the rewrite pass — the unavoidable
    # two-pass shape of any corpus-global rewrite
    flagged = lines.join(
        dup.withColumn("__isdup", F.lit(True)), "__line", "left"
    )
    keep = F.col("__isdup").isNull()
    return flagged.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias("n_dropped"),
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct("__pos", "__line"))
                    )
                ),
                lambda s: s["__line"],
            ),
        ).alias("text_clean"),
    ).withColumnRenamed("__id", id_col)


# Latin-diacritic fold used by fuzzy_matches' ASCII-normal-form contract;
# positionally parallel, identical literals in ORACLE["fuzzy_matches"].
_DIAC_FROM = "àáâãäåèéêëìíîïòóôõöøùúûüçñýÿ"
_DIAC_TO = "aaaaaaeeeeiiiioooooouuuucnyy"

# Whitespace fold class: an EXPLICIT codepoint list (not \s) because Java
# regex and RE2 disagree on \s (\x0B is whitespace to Java only) — the
# oracle passes this identical literal to DuckDB.  Includes NBSP so
# whitespace-VARIANT names (tab vs space vs U+00A0) normalize to the same
# block instead of having the variant deleted by the non-ASCII strip.
_WS_CLASS = "[ \\t\\n\\r\\f\\x0B\u00a0]+"


def fuzzy_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 2,
    block_len: int = 4,
    cap: int = 50,
) -> DataFrame:
    """Fuzzy entity resolution: near-identical name pairs within edit
    distance *max_dist*, found via prefix blocking + Levenshtein verify.

    The classic record-linkage shape (Fellegi–Sunter blocking, Christen
    2012) re-expressed Spark-first:

    1. **normalize** — lowercase, collapse whitespace, trim (one fused
       projection, no shuffle);
    2. **block** — candidate pairs only share a ``block_len``-char prefix
       of the normalized name.  The self-join is a plain equi-join on the
       block key: ONE hash shuffle, no cartesian anywhere;
    3. **cap** — hot blocks (boilerplate names at corpus scale) are
       bounded BEFORE the join via :func:`cap_per_group` on a
       deterministic md5 order, so the worst block contributes at most
       ``cap*(cap-1)/2`` comparisons and the plan survives a 100× scale-up;
    4. **verify** — ``|len(a)-len(b)| <= max_dist`` (a correct lower bound
       on edit distance) prunes JVM-side before the O(n·m)
       ``levenshtein``, which runs only on surviving candidates.

    Blocking recall is the standard trade-off: a typo inside the first
    ``block_len`` chars lands in a different block (documented, and the
    oracle replays the same rule, so the contract is exact).  Returns
    ``(id_a, id_b, block, dist)`` with ``id_a < id_b``.

    Normalization is an explicit **ASCII-normal-form** contract: common
    Latin diacritics fold to their base letter, every other non-ASCII
    codepoint is dropped BEFORE the distance.  Besides being standard
    record-linkage practice, this pins the semantics across engines —
    DuckDB's ``levenshtein`` counts UTF-8 bytes while Spark's counts
    codepoints, so 'ö'→'o' would otherwise be distance 2 on one side and
    1 on the other; on pure ASCII the two definitions coincide.
    """
    # Order matters: fold whitespace variants (tab/newline/NBSP) to a
    # single space FIRST, then strip remaining non-printables — the
    # reverse would DELETE a tab between words, putting 'ab\tcd' in a
    # different block than 'ab cd' despite differing only in whitespace.
    # (the final ' +' collapse handles the double space left when a
    # stripped codepoint sat between two spaces, e.g. 'a 中 b')
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.translate(F.lower(F.col(name_col)), _DIAC_FROM, _DIAC_TO),
                    _WS_CLASS,
                    " ",
                ),
                r"[^\x20-\x7e]",
                "",
            ),
            " +",
            " ",
        )
    )
    base = (
        df.filter(F.col(id_col).isNotNull() & F.col(name_col).isNotNull())
        .select(F.col(id_col).alias("id"), norm.alias("norm"))
        .filter(F.length("norm") > 0)
        .withColumn("block", F.substring(F.col("norm"), 1, block_len))
        .withColumn(
            "__ord",
            F.md5(F.concat_ws("|", F.col("norm"), F.col("id").cast("string"))),
        )
    )
    capped = cap_per_group(base, ["block"], "__ord", cap, min_size=2).select(
        "id", "norm", "block"
    )
    a = capped.select(
        F.col("id").alias("id_a"), F.col("norm").alias("norm_a"), "block"
    )
    b = capped.select(
        F.col("id").alias("id_b"), F.col("norm").alias("norm_b"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("norm_a") - F.length("norm_b")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("norm_a", "norm_b"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "block", "dist")
    )


def mutual_best_matches(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    score_col: str = "dist",
) -> DataFrame:
    """Resolve an undirected candidate-pair table (e.g.
    :func:`fuzzy_matches` output) into 1:1 LINKS by mutual nearest
    neighbor — record linkage's standard conflict resolution: a pair
    survives iff each side is the other's single best candidate
    (lowest *score_col*, neighbor id ascending as the deterministic
    tie-break).  Mutual-best is greedy matching's first round and, in
    practice, most of its matching; unlike full greedy it needs no
    iteration — one rank per direction, one equi-join.

    Output: ``(a_col, b_col, score_col)`` with ``a < b`` (inherited from
    the input contract), each id appearing in AT MOST one row.  NULL ids
    or scores are dropped (no identity / no order).

    Plan: symmetrize (projection-only union), ONE hash shuffle for the
    per-source rank window, then a self-equi-join of the two best maps
    — both sides are one-row-per-id, so the join input is bounded by
    the id count, not the pair count.
    """
    a = F.col("`%s`" % a_col)
    b = F.col("`%s`" % b_col)
    sc = F.col("`%s`" % score_col)
    live = pairs.filter(a.isNotNull() & b.isNotNull() & sc.isNotNull())
    directed = live.select(
        a.alias("__src"), b.alias("__dst"), sc.alias("__sc")
    ).unionByName(
        live.select(b.alias("__src"), a.alias("__dst"), sc.alias("__sc"))
    )
    w = Window.partitionBy("__src").orderBy(
        F.col("__sc").asc(), F.col("__dst").asc()
    )
    best = (
        directed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__src", "__dst", "__sc")
    )
    rev = best.select(
        F.col("__src").alias("__r_src"), F.col("__dst").alias("__r_dst")
    )
    return (
        best.join(
            rev,
            (F.col("__dst") == F.col("__r_src"))
            & (F.col("__src") == F.col("__r_dst")),
        )
        .filter(F.col("__src") < F.col("__dst"))
        .select(
            F.col("__src").alias(a_col),
            F.col("__dst").alias(b_col),
            F.col("__sc").alias(score_col),
        )
    )


def pair_graph_degrees(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    hub_min_degree: int = 100,
) -> DataFrame:
    """Per-node degree profile of a candidate-pair graph — the
    pre-clustering triage every near-dup pipeline needs at scale: a HUB
    (a doc similar to thousands) is a boilerplate template, a tag page,
    or an LSH-band collision storm, and feeding it to
    :func:`duplicate_clusters` makes one component swallow the corpus.
    Run this first, route hubs to a template handler, cluster the rest.

    Output: one row per node — ``(id, degree, hub)`` with ``degree`` =
    count of DISTINCT neighbours (duplicate candidate pairs — the same
    pair surfacing from several LSH bands — count once) and ``hub =
    degree >= hub_min_degree``.  NULL ids and self-pairs are dropped.

    Plan: symmetrize (projection-only union), one distinct on the
    (node, neighbour) edge — the only pair-cardinality shuffle, and the
    count rides the SAME partitioning (groupBy on a prefix of the
    distinct key) — nothing else moves.
    """
    a = F.col("`%s`" % a_col)
    b = F.col("`%s`" % b_col)
    live = pairs.filter(a.isNotNull() & b.isNotNull() & (a != b))
    edges = live.select(a.alias("id"), b.alias("__n")).unionByName(
        live.select(b.alias("id"), a.alias("__n"))
    )
    return (
        edges.groupBy("id")
        .agg(F.countDistinct("__n").cast("long").alias("degree"))
        .select(
            "id",
            "degree",
            (F.col("degree") >= F.lit(int(hub_min_degree))).alias("hub"),
        )
    )


def pair_graph_stats(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_degree: int = None,
) -> DataFrame:
    """Global shape statistics of a candidate-pair graph — ONE row
    ``(n_nodes, n_edges, n_triangles, n_wedges, closure_bp,
    n_capped_nodes)`` telling you what :func:`duplicate_clusters` is
    about to walk into.  High closure (triangles / wedges) means the
    candidates form tight dup cliques — clustering converges fast and
    transitive merging is safe; low closure means chains / hub sprays —
    expect long components and template hubs (route through
    :func:`pair_graph_degrees` first).

    * ``n_triangles`` — exact, each triangle counted once via the
      ordered (a<b<c) two-hop join;
    * ``n_wedges`` — Σ deg·(deg−1)/2 over distinct-neighbour degrees;
    * ``closure_bp`` — global clustering coefficient
      ``3·triangles / wedges`` in integer basis points (NULL when the
      graph has no wedges).

    The two-hop join enumerates wedges, so a 10^5-degree hub alone costs
    ~10^10 join rows; *max_degree* (recommended at scale) drops nodes
    above it from the triangle/wedge count — exact stats on the capped
    graph plus ``n_capped_nodes`` so the report says what was excluded.
    NULL ids and self-loops are dropped; duplicate pairs count once.

    Plan: distinct canonical edge set (one pair-cardinality shuffle),
    degree aggregate riding the symmetrized edges, the two-hop
    self-join on the canonical orientation only (each wedge a<b<c
    enumerated exactly once), then three 1-row aggregates combined by
    broadcast — nothing wider than the wedge enumeration ever exists."""
    a, b = F.col("`%s`" % a_col), F.col("`%s`" % b_col)
    live = pairs.filter(a.isNotNull() & b.isNotNull() & (a != b))
    e = live.select(
        F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi")
    ).distinct()
    deg = (
        e.select(F.col("lo").alias("id"))
        .unionByName(e.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    capped = F.lit(0).cast("long")
    if max_degree is not None:
        hubs = deg.filter(F.col("d") > int(max_degree)).select("id")
        n_capped = hubs.agg(F.count(F.lit(1)).cast("long").alias("n_capped"))
        e = (
            e.join(hubs.withColumnRenamed("id", "lo"), "lo", "left_anti")
            .join(hubs.withColumnRenamed("id", "hi"), "hi", "left_anti")
            .select("lo", "hi")
        )
        deg = (
            e.select(F.col("lo").alias("id"))
            .unionByName(e.select(F.col("hi").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )
    base = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.sum(F.expr("(d * (d - 1)) DIV 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    )
    edges_n = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    # wedges a<b<c as (a,b)+(b,c) on canonical edges; close with (a,c)
    e2 = e.select(F.col("lo").alias("m"), F.col("hi").alias("c"))
    tri = (
        e.withColumnRenamed("hi", "m")
        .join(e2, "m")
        .join(
            e.withColumnRenamed("lo", "lo2").withColumnRenamed("hi", "c2"),
            (F.col("lo") == F.col("lo2")) & (F.col("c") == F.col("c2")),
            "inner",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    row = base.join(F.broadcast(edges_n)).join(F.broadcast(tri))
    if max_degree is not None:
        row = row.join(F.broadcast(n_capped))
    else:
        row = row.select("*", capped.alias("n_capped"))
    return row.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        F.when(
            F.col("n_wedges") > 0,
            F.expr("(30000 * n_triangles) DIV n_wedges"),
        )
        .cast("long")
        .alias("closure_bp"),
        F.col("n_capped").cast("long").alias("n_capped_nodes"),
    )


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """ASYMMETRIC near-dup verification — shingle-set containment in
    both directions for candidate pairs: ``(id_a, id_b, size_a, size_b,
    inter, a_in_b_bp, b_in_a_bp)`` with ``x_in_y_bp = |X∩Y|·10000 div
    |X|`` in exact integer basis points.

    Jaccard (:func:`jaccard_pairs`) misses the SUBSET shape entirely: a
    tweet quoted inside a long article scores near-zero Jaccard but
    10000 bp containment — and for training data the wrapped copy is
    the duplicate you want caught (boilerplate wrappers, quotation
    farms, superset crawls).  Standard dedup practice keeps BOTH
    signals: symmetric Jaccard for same-size dups, directional
    containment for subset dups.

    NULL/short texts follow the corpus-wide shingle convention
    (:func:`evalidate_spark.functions.text.shingles`): fewer than k
    tokens yield ONE whole-text shingle ("" when no tokens), so sets are
    never empty and containment is always defined — a 10000 bp score
    with ``size_a == 1`` flags the degenerate tiny-doc case for the
    caller rather than silently dropping it.

    Scale shape: identical to :func:`jaccard_pairs` — per-doc distinct
    shingle-hash sets built in one projection, two id-keyed joins onto
    the candidate list (never a cross join), all arithmetic
    JVM-side."""
    ids = F.col("`%s`" % id_col)
    sets_df = df.select(
        ids.alias("__id"),
        F.array_distinct(
            F.transform(
                shingles(F.col("`%s`" % text_col), shingle_k),
                lambda s: F.xxhash64(s),
            )
        ).alias("__set"),
    )
    a = sets_df.select(F.col("__id").alias("id_a"), F.col("__set").alias("__sa"))
    b = sets_df.select(F.col("__id").alias("id_b"), F.col("__set").alias("__sb"))
    j = candidates.join(a, "id_a").join(b, "id_b")
    return j.select(
        "id_a",
        "id_b",
        F.size("__sa").cast("long").alias("size_a"),
        F.size("__sb").cast("long").alias("size_b"),
        F.size(F.array_intersect("__sa", "__sb")).cast("long").alias("inter"),
    ).select(
        "*",
        F.when(F.col("size_a") > 0, F.expr("(inter * 10000) DIV size_a"))
        .cast("long")
        .alias("a_in_b_bp"),
        F.when(F.col("size_b") > 0, F.expr("(inter * 10000) DIV size_b"))
        .cast("long")
        .alias("b_in_a_bp"),
    )


def lsh_threshold_hist(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    bins: int = 20,
) -> DataFrame:
    """Jaccard DISTRIBUTION of a candidate-pair set — the
    threshold-calibration report: before committing "dedup at J ≥ 0.8"
    across 10^12 docs, look at where the LSH candidates actually sit.
    A bimodal histogram (near-dups vs band collisions) hands you the
    threshold; a flat one says the banding parameters are wrong, and no
    threshold will be clean.

    Output: ``(bin, lo_bp, n_pairs)`` — *bins* equal-width Jaccard
    buckets, ``bin = (|A∩B| · bins) div |A∪B|`` computed ENTIRELY in
    exact integer arithmetic from the shingle-set sizes (no float
    bucketing, no boundary ambiguity), top-capped into the last bin so
    J = 1.0 lands in ``[1 − 1/bins, 1]``.

    Same scale shape as :func:`containment_pairs` (it reuses it): two
    id-keyed joins onto the candidate list, then a bins-cardinality
    aggregate."""
    if bins < 2 or 10000 % bins != 0:
        raise ValueError("bins must be >= 2 and divide 10000")
    cp = containment_pairs(
        df, candidates, text_col=text_col, id_col=id_col, shingle_k=shingle_k
    )
    union = F.col("size_a") + F.col("size_b") - F.col("inter")
    b = F.when(union == 0, F.lit(bins - 1)).otherwise(
        F.least(
            F.expr("(inter * %d) DIV (size_a + size_b - inter)" % int(bins)),
            F.lit(bins - 1),
        )
    )
    return (
        cp.select(b.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "bin",
            (F.col("bin") * (10000 // bins)).cast("long").alias("lo_bp"),
            "n_pairs",
        )
    )


def dedup_verdicts(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    near_bp: int = 8000,
    contained_bp: int = 9000,
) -> DataFrame:
    """One DECISION per candidate pair, combining the three text-dup
    signals in priority order — the last arbitration step between
    candidate generation and cluster/drop:

    ``(id_a, id_b, exact, jaccard_bp, a_in_b_bp, b_in_a_bp, decision)``

    * ``exact`` — md5 content fingerprints equal
      (:func:`evalidate_spark.functions.text.fingerprint`:
      whitespace-normalised lowercase; NULL fingerprint never equals);
    * ``jaccard_bp`` — exact-int ``(|A∩B|·10000) div |A∪B|`` from the
      shingle sets;
    * directional containment from :func:`containment_pairs`;
    * ``decision`` — first match of: ``exact`` → ``near`` (jaccard ≥
      *near_bp*) → ``contained`` (either direction ≥ *contained_bp*) →
      ``distinct``.  Exact wins over near so case/whitespace-only twins
      are labelled as the stronger claim; containment ranks below near
      because a subset-dup needs an asymmetric treatment (keep the
      superset) rather than a coin-flip drop.

    Scale shape: :func:`containment_pairs`'s id-keyed joins plus one
    more id-keyed fingerprint join per side; everything stays at
    candidate cardinality."""
    from .text import fingerprint

    cp = containment_pairs(
        df, candidates, text_col=text_col, id_col=id_col, shingle_k=shingle_k
    )
    ids = F.col("`%s`" % id_col)
    fps = df.select(
        ids.alias("__fid"), fingerprint(F.col("`%s`" % text_col)).alias("__fp")
    )
    j = (
        cp.join(
            fps.select(
                F.col("__fid").alias("id_a"), F.col("__fp").alias("__fpa")
            ),
            "id_a",
        )
        .join(
            fps.select(
                F.col("__fid").alias("id_b"), F.col("__fp").alias("__fpb")
            ),
            "id_b",
        )
    )
    exact = F.col("__fpa").isNotNull() & (F.col("__fpa") == F.col("__fpb"))
    jac = F.when(
        F.expr("size_a + size_b - inter") == 0, F.lit(10000)
    ).otherwise(F.expr("(inter * 10000) DIV (size_a + size_b - inter)"))
    out = j.select(
        "id_a",
        "id_b",
        exact.alias("exact"),
        jac.cast("long").alias("jaccard_bp"),
        "a_in_b_bp",
        "b_in_a_bp",
    )
    decision = (
        F.when(F.col("exact"), F.lit("exact"))
        .when(F.col("jaccard_bp") >= int(near_bp), F.lit("near"))
        .when(
            (F.col("a_in_b_bp") >= int(contained_bp))
            | (F.col("b_in_a_bp") >= int(contained_bp)),
            F.lit("contained"),
        )
        .otherwise(F.lit("distinct"))
    )
    return out.select("*", decision.alias("decision"))


# ------------------------------------- sorted-neighborhood blocking
def snm_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
    block_chars: int = 2,
    key_chars: int = 16,
    near_bp: int = 8000,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs — the third blocking family
    next to hash-LSH (:func:`minhash_candidates`) and prefix-filter
    ssjoin: sort docs by a normalised key and compare each doc to its
    ``window`` successors in sort order.  Catches the near-dups LSH can
    miss when edits fall in every band (prefix-stable edits, e.g.
    truncated tails, appended boilerplate) at linear candidate volume
    ``n·window``.

    Key = first ``key_chars`` chars of the whitespace-normalised
    lowercased text (the fingerprint normal form — docs shipping through
    the sort carry a bounded key, never the full text); block = first
    ``block_chars`` of the key, so the rank window runs PARTITIONED (one
    window per block, shuffled on block), never a global single-task
    sort.  Each candidate is verified in-plan with the exact
    distinct-token Jaccard, in integer basis points.

    Returns ``(id_a, id_b, block, gap, jaccard_bp, is_near)`` where
    ``gap`` is the rank distance (1..window).  Physical shape: ONE scan,
    ONE block-keyed exchange, ONE window — successors come from
    ``lead(·, g)`` over the same sorted window (no ranked self-join, no
    broadcast of the corpus; the naive rank-join formulation scans and
    sorts twice and would broadcast the whole ranked table at scale).
    Candidate volume is ``n·window`` flat; block skew (many docs sharing
    a 2-char prefix — boilerplate corpora) only widens one window
    partition, and the fix is raising ``block_chars`` so hot blocks
    split; rows with NULL text or NULL id never enter (a candidate
    needs both)."""
    if window < 1:
        raise ValueError("snm_pairs: window must be >= 1")
    if block_chars < 1 or key_chars < block_chars:
        raise ValueError("snm_pairs: need key_chars >= block_chars >= 1")
    tc = F.col("`%s`" % text_col)
    ids = F.col("`%s`" % id_col)
    norm = F.concat_ws(" ", F.transform(tokens(tc), F.lower))
    toks = F.array_distinct(F.transform(tokens(tc), F.lower))
    d = (
        df.filter(tc.isNotNull() & ids.isNotNull())
        .select(
            ids.alias("__id"),
            F.substring(norm, 1, key_chars).alias("__key"),
            toks.alias("__tk"),
        )
        .withColumn("__block", F.substring(F.col("__key"), 1, block_chars))
    )
    w = Window.partitionBy("__block").orderBy("__key", "__id")
    succ = F.array(
        *[
            F.struct(
                F.lead("__id", g).over(w).alias("id_b"),
                F.lead("__tk", g).over(w).alias("tb"),
                F.lit(g).cast("int").alias("gap"),
            )
            for g in range(1, int(window) + 1)
        ]
    )
    # window exprs can't sit inside a generator — materialise the
    # successor array first, explode in a second projection
    with_succ = d.select(
        F.col("__id").alias("id_a"),
        F.col("__tk").alias("__ta"),
        F.col("__block").alias("block"),
        succ.alias("__succ"),
    )
    exploded = (
        with_succ.select(
            "id_a", "__ta", "block", F.explode("__succ").alias("s")
        )
        # lead() past the block's end is NULL — not a candidate
        .filter(F.col("s.id_b").isNotNull())
    )
    j2 = exploded.select(
        "id_a",
        F.col("s.id_b").alias("id_b"),
        "block",
        F.col("s.gap").alias("gap"),
        F.size(F.array_intersect(F.col("__ta"), F.col("s.tb")))
        .cast("long")
        .alias("__i"),
        F.size(F.col("__ta")).cast("long").alias("__la"),
        F.size(F.col("s.tb")).cast("long").alias("__lb"),
    )
    jac = F.when(
        F.expr("__la + __lb - __i") == 0, F.lit(10000).cast("long")
    ).otherwise(F.expr("(__i * 10000L) DIV (__la + __lb - __i)"))
    return j2.select(
        "id_a",
        "id_b",
        "block",
        "gap",
        jac.alias("jaccard_bp"),
        (jac >= int(near_bp)).alias("is_near"),
    )


def dup_inflation(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Duplication-inflation curve: how much of the corpus (by a weight,
    default chars) sits in exact-duplicate groups of each multiplicity —
    the one-table answer to "what does exact dedup buy at this scale".

    Groups docs by content fingerprint, buckets group multiplicity into
    ``1 / 2 / 3-10 / >10``, and reports per bucket: ``n_groups``,
    ``n_docs``, total ``weight``, its exact integer-bp share of corpus
    weight, and ``excess_weight`` — the weight dedup would remove,
    keeping each group's min-id doc as survivor (the
    :func:`resolve_duplicates` convention).

    One fingerprint shuffle (the exact-dedup shuffle itself: 16-byte md5
    key, uniform, map-side combined), then a four-row rollup and a
    broadcast of the one-row total — nothing here grows with corpus
    size.  NULL-text docs have no fingerprint and NULL-id docs no
    survivor identity; both are excluded (mirrored by the SQL oracle)."""
    tc = F.col("`%s`" % text_col)
    ids = F.col("`%s`" % id_col)
    wc = F.coalesce(F.col("`%s`" % weight_col).cast("long"), F.lit(0))
    fp = fingerprint(tc)
    groups = (
        df.filter(tc.isNotNull() & ids.isNotNull())
        .select(fp.alias("__fp"), ids.alias("__id"), wc.alias("__w"))
        .groupBy("__fp")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("__w").alias("gw"),
            F.min_by("__w", "__id").alias("sw"),
        )
    )
    bucket = (
        F.when(F.col("m") == 1, F.lit("1"))
        .when(F.col("m") == 2, F.lit("2"))
        .when(F.col("m") <= 10, F.lit("3-10"))
        .otherwise(F.lit(">10"))
    )
    per = groups.groupBy(bucket.alias("multiplicity")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("m").cast("long").alias("n_docs"),
        F.sum("gw").cast("long").alias("weight"),
        F.sum(F.col("gw") - F.col("sw")).cast("long").alias("excess_weight"),
    )
    # pin the ≤4-row bucket table: the share total derives from it, and
    # without the checkpoint both branches re-run the fingerprint shuffle
    # (exchange reuse across a crossJoin is not guaranteed)
    per = per.localCheckpoint(eager=False)
    total = per.agg(F.sum("weight").alias("__total"))
    share = F.expr("weight * 10000L DIV greatest(__total, 1)").cast("long")
    return per.crossJoin(F.broadcast(total)).select(
        "multiplicity",
        "n_groups",
        "n_docs",
        "weight",
        share.alias("weight_share_bp"),
        "excess_weight",
    )


def novelty_trend(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 5,
) -> DataFrame:
    """Content-novelty decay across ingest order: docs are sliced into
    ``n_buckets`` equal id-ranges (the ingest timeline proxy — doc ids
    are assigned in arrival order), and a doc counts as a *repeat* when
    any earlier doc (smaller id) carries the same content fingerprint.
    Returns ``(bucket, n_docs, n_repeats, repeat_bp)``.

    A rising ``repeat_bp`` curve is the business case for incremental
    dedup (:func:`incremental_dedup`): it measures how much of each new
    ingest wave is already in the corpus.  Plan: one fingerprint shuffle
    (min-id per fingerprint via window — same key as exact dedup), then
    a ``n_buckets``-row rollup; the buckets are ``table_checks._waves``,
    whose id-range max is a one-row aggregate over the pre-window docs,
    joined by broadcast.  NULL-text docs count in ``n_docs`` but can
    never be repeats (no fingerprint — unknown content is not evidence
    of duplication); NULL-id docs are excluded (no position in ingest
    order).  The min-id window runs on the fp-NOT-NULL subset only and
    NULL-fp rows union back with ``repeat = false`` — partitioning the
    window by a key that is NULL for every fingerprint-less doc would
    funnel all of them into ONE window partition (a pure-waste straggler
    at corpus scale, since ``__first`` is never consumed for NULL fps)."""
    from ..operators.table_checks import _waves

    if n_buckets < 1:
        raise ValueError("novelty_trend: n_buckets must be >= 1")
    tc = F.col("`%s`" % text_col)
    ids = F.col("`%s`" % id_col)
    d = df.filter(ids.isNotNull()).select(
        ids.alias("__id"), fingerprint(tc).alias("__fp")
    )
    w = Window.partitionBy("__fp")
    marked = (
        d.filter(F.col("__fp").isNotNull())
        .withColumn("__first", F.min("__id").over(w))
        .select("__id", (F.col("__id") > F.col("__first")).alias("__rep"))
        .unionByName(
            d.filter(F.col("__fp").isNull()).select(
                "__id", F.lit(False).alias("__rep")
            )
        )
    )
    flagged = _waves(marked, n_buckets, bound_of=d).select(
        F.col("__w").alias("bucket"), "__rep"
    )
    return flagged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__rep").cast("long")).cast("long").alias("n_repeats"),
        F.expr(
            "CAST(sum(CAST(__rep AS LONG)) * 10000L DIV count(1) AS LONG)"
        ).alias("repeat_bp"),
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-source duplicate-contamination matrix: for every ordered
    source pair ``(source_a < source_b)``, how many distinct content
    fingerprints appear in BOTH feeds, and how many docs on each side
    carry them — ``(source_a, source_b, shared_fps, docs_a, docs_b)``.

    This is the feed-provenance audit exact dedup implies: a crawler feed
    silently mirroring another shows up as a high ``shared_fps`` cell
    long before per-doc inspection would.  Plan: docs collapse to
    distinct ``(source, fp)`` pairs (+ per-pair doc count) in one
    fingerprint-keyed shuffle; the self-join then runs on that collapsed
    table, whose per-fp width is bounded by the number of SOURCES (not
    docs), so the join fan-out is #fp · #sources², never quadratic in
    docs.  NULL sources report as ``'__null__'``; NULL-text docs have no
    fingerprint and are excluded."""
    tc = F.col("`%s`" % text_col)
    sc = F.coalesce(F.col("`%s`" % source_col).cast("string"), F.lit("__null__"))
    per = (
        df.filter(tc.isNotNull())
        .select(fingerprint(tc).alias("__fp"), sc.alias("__src"))
        .groupBy("__fp", "__src")
        .agg(F.count(F.lit(1)).alias("__n"))
        # pin the collapsed table: BOTH join sides read it, and without
        # the checkpoint each side re-scans and re-fingerprints the corpus
        .localCheckpoint(eager=False)
    )
    a = per.select(
        F.col("__fp"), F.col("__src").alias("source_a"), F.col("__n").alias("__na")
    )
    b = per.select(
        F.col("__fp"), F.col("__src").alias("source_b"), F.col("__n").alias("__nb")
    )
    j = a.join(b, "__fp").filter(F.col("source_a") < F.col("source_b"))
    return j.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("shared_fps"),
        F.sum("__na").cast("long").alias("docs_a"),
        F.sum("__nb").cast("long").alias("docs_b"),
    )


def dup_lang_mismatch(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-duplicate groups whose members disagree on the language tag
    — ``(fingerprint, n_docs, n_langs, langs)``.  Identical content under
    two different lang labels means at least one label is wrong (or the
    lang-ID stage is nondeterministic), and every such group poisons any
    per-language mixture weighting downstream.  One fingerprint shuffle;
    ``langs`` is the sorted distinct label set (NULL tags surface as
    ``'__null__'`` — a dup group split between tagged and untagged is
    exactly the bug this catches), reported only for groups where
    ``n_langs >= 2``, so output is bounded by the conflict count."""
    tc = F.col("`%s`" % text_col)
    lc = F.coalesce(F.col("`%s`" % lang_col).cast("string"), F.lit("__null__"))
    # two-level aggregate: collapse to (fp, lang) counts FIRST so the
    # collect_list below holds distinct labels (bounded by the lang-set
    # size), never one row per doc of a boilerplate mega-group
    per = (
        df.filter(tc.isNotNull())
        .select(fingerprint(tc).alias("fingerprint"), lc.alias("__lang"))
        .groupBy("fingerprint", "__lang")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    g = per.groupBy("fingerprint").agg(
        F.sum("__n").cast("long").alias("n_docs"),
        F.sort_array(F.collect_list("__lang")).alias("langs"),
    )
    return g.filter(F.size("langs") >= 2).select(
        "fingerprint",
        "n_docs",
        F.size("langs").cast("int").alias("n_langs"),
        F.array_join("langs", ",").alias("langs"),
    )
