"""Table-level checks: stats profile, uniqueness, referential integrity,
distribution drift.

The reference has **no** aggregations or joins (all checks are element-local,
``/root/reference/src/evalidate.erl``); these operators are the north-rule
additions (``BASELINE.json: north_rule``), designed for 10^12-row scale:

* ``profile`` — ONE ``agg()`` pass computing count/nulls/min/max/distinct/
  quantiles for every requested column.  Partial+final hash aggregation:
  one shuffle of a handful of rows per partition.  ``approx_distinct=True``
  uses HyperLogLog++ (``approx_count_distinct``) — mergeable sketches, O(1)
  memory; exact mode is for small-scale oracle cross-checks only.
* ``uniqueness_violations`` — duplicate keys via groupBy+count.  Counts are
  map-side combined so a hot key costs one partial row per partition, not a
  shuffled row per duplicate; AQE skew handling covers the final merge.  For
  pathological single-key skew a two-level salted aggregate is provided
  (``salt_buckets``).
* ``referential_violations`` — LEFT ANTI join of fact refs against a
  dimension; broadcast when the dim is small (explicit ``broadcast()``
  hint), sort-merge + AQE skew split otherwise.
* ``drift`` — PSI + KS distance between two datasets' numeric columns from
  equi-width histograms computed distributed (one agg per dataset); the
  PSI/KS fold over the ~num_bins bins runs in Spark too.
"""

from __future__ import annotations

from functools import reduce
from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T


_NUMERIC = ("byte", "short", "integer", "long", "float", "double", "decimal")


def _unpivot(
    agg_df: DataFrame, structs: Sequence[Column], keep: Sequence[str] = ()
) -> DataFrame:
    """Wide aggregate rows → long rows: explode one struct per output row,
    carrying the *keep* columns (a group key such as a streaming
    ``window``) alongside."""
    ex = F.explode(F.array(*structs)).alias("s")
    return agg_df.select(*keep, ex).select(*keep, "s.*")


def _waves(
    df: DataFrame, n_waves: int, bound_of: Optional[DataFrame] = None
) -> DataFrame:
    """*df* plus an int ``__w``: the ingest wave of its ``__id`` column,
    one of *n_waves* equal id-ranges of ``[0, max(__id)]`` — the
    ingest-order proxy of every wave monitor (doc/vector ids are assigned
    in arrival order).  Negative ids clamp to wave 0 and the max id lands
    in wave ``n_waves − 1``; pure int64 DIV (operands >= 0).

    The bound ``__m = greatest(max(greatest(__id, 0)) + 1, 1)`` is a
    one-row aggregate over *bound_of* (default *df*), joined by
    broadcast.  ``dedup.novelty_trend`` passes the pre-window frame so
    the bound is never computed over its fingerprint window."""
    bound = (df if bound_of is None else bound_of).agg(
        F.greatest(F.max(F.greatest(F.col("__id"), F.lit(0))) + 1, F.lit(1)).alias(
            "__m"
        )
    )
    wave = F.expr(
        f"least({int(n_waves) - 1}L, greatest(__id, 0) * {int(n_waves)}L DIV __m)"
    )
    return (
        df.crossJoin(F.broadcast(bound))
        .withColumn("__w", wave.cast("int"))
        .drop("__m")
    )


def _wave_transitions(
    keyed: DataFrame, n_waves: int, new_keys: str, new_share: str
) -> DataFrame:
    """Wave-over-wave roll-up of a keyed frame with ``__w`` and ``__t``
    columns (one row per key occurrence; other columns are ignored) → ``(from_wave, to_wave, tvd_bp, <new_keys>,
    <new_share>)`` for each consecutive wave pair.

    ``tvd_bp`` is the total-variation distance between the two waves'
    key distributions (Σ|share_a − share_b| over keys, halved) with each
    share floored to int bp before differencing, so the arithmetic is
    exact and replayable; *new_keys* / *new_share* count keys (and their
    occurrence share of the TO wave) absent from the FROM wave.

    Plan: ONE key-keyed shuffle — per-key conditional counts for all
    waves in a single groupBy (no per-wave join), a broadcast one-row
    total, then ONE aggregate computing every transition's terms
    (3·(n_waves−1) columns on a single row — no per-transition rescan)
    and a tiny unpivot.  Shared by ``text.vocab_drift`` and
    ``spans.template_drift``."""
    cnt_cols = [
        F.sum(F.when(F.col("__w") == w, 1).otherwise(0))
        .cast("long")
        .alias("c%d" % w)
        for w in range(n_waves)
    ]
    # pin the key-cardinality table (the group_drift precedent): wave
    # totals AND the transition roll-up both read it, and without the
    # checkpoint each branch re-runs the key shuffle
    per_key = keyed.groupBy("__t").agg(*cnt_cols).localCheckpoint(eager=False)
    tot = per_key.agg(
        *[F.sum("c%d" % w).alias("t%d" % w) for w in range(n_waves)]
    )
    wide = per_key.crossJoin(F.broadcast(tot))
    aggs = []
    for w in range(n_waves - 1):
        a, b = "c%d" % w, "c%d" % (w + 1)
        ta, tb = "t%d" % w, "t%d" % (w + 1)
        share_a = f"{a} * 10000L DIV greatest({ta}, 1)"
        share_b = f"{b} * 10000L DIV greatest({tb}, 1)"
        aggs += [
            F.expr(f"sum(abs(({share_a}) - ({share_b}))) DIV 2")
            .cast("long")
            .alias("tvd_%d" % w),
            F.sum(F.when((F.col(a) == 0) & (F.col(b) > 0), 1).otherwise(0))
            .cast("long")
            .alias("nt_%d" % w),
            F.expr(
                f"sum(CASE WHEN {a} = 0 THEN {b} ELSE 0 END)"
                f" * 10000L DIV greatest(sum({b}), 1)"
            )
            .cast("long")
            .alias("no_%d" % w),
        ]
    return _unpivot(
        wide.agg(*aggs),
        [
            F.struct(
                F.lit(w).cast("int").alias("from_wave"),
                F.lit(w + 1).cast("int").alias("to_wave"),
                F.col("tvd_%d" % w).alias("tvd_bp"),
                F.col("nt_%d" % w).alias(new_keys),
                F.col("no_%d" % w).alias(new_share),
            )
            for w in range(n_waves - 1)
        ],
    )


def profile_aggs(
    df: DataFrame,
    columns: Sequence[str],
    distinct: str = "approx",
    quantiles: Sequence[float] = (),
    exact_quantiles: bool = False,
) -> List[Column]:
    """The profile family's aggregates: ``__n``, then per column
    ``{c}__nulls``, typed ``{c}__min`` / ``{c}__max`` and one distinct
    term — ``{c}__distinct`` (``"approx"``: HLL++, ``"exact"``: count
    distinct) or the mergeable DataSketches ``{c}__hll`` (``"hll"``) — plus
    ``{c}__q`` for numeric columns when *quantiles* is non-empty.  Read by
    :func:`profile`, :func:`profile_state` and
    ``streaming.profile_stream``; :func:`profile_rows` finishes them."""
    types = {f.name: f.dataType.typeName() for f in df.schema.fields}
    aggs: List[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        qc = F.col("`%s`" % c)
        aggs += [
            F.sum(qc.isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(qc).alias(f"{c}__min"),
            F.max(qc).alias(f"{c}__max"),
        ]
        if distinct == "hll":
            # hll_sketch_agg accepts int/bigint/string/binary only; coerce the
            # rest to a value-faithful string key (dates, doubles, decimals)
            if types.get(c) in ("integer", "long", "string", "binary"):
                sk = qc
            elif types.get(c) in ("byte", "short"):
                sk = qc.cast("int")
            else:
                sk = qc.cast("string")
            aggs.append(F.hll_sketch_agg(sk).alias(f"{c}__hll"))
        else:
            dfn = F.approx_count_distinct if distinct == "approx" else F.countDistinct
            aggs.append(dfn(qc).alias(f"{c}__distinct"))
        if quantiles and types.get(c) in _NUMERIC:
            pfn = F.percentile if exact_quantiles else F.percentile_approx
            aggs.append(
                pfn(qc.cast("double"), [float(p) for p in quantiles]).alias(f"{c}__q")
            )
    return aggs


def profile_rows(
    agg_df: DataFrame,
    columns: Sequence[str],
    with_quantiles: bool = False,
    keep: Sequence[str] = (),
) -> DataFrame:
    """The profile family's finishing projection: one row per column,
    ``column, n_rows, n_nulls, n_distinct, min_repr, max_repr`` after the
    *keep* columns, plus ``quantiles`` (NULL where the aggregate has no
    ``{c}__q``) when *with_quantiles*."""
    have = set(agg_df.columns)
    rows = []
    for c in columns:
        fields = [
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"`{c}__nulls`").alias("n_nulls"),
            F.col(f"`{c}__distinct`").alias("n_distinct"),
            F.col(f"`{c}__min`").cast("string").alias("min_repr"),
            F.col(f"`{c}__max`").cast("string").alias("max_repr"),
        ]
        if with_quantiles:
            q = F.col(f"`{c}__q`") if f"{c}__q" in have else F.lit(None)
            fields.append(q.cast("array<double>").alias("quantiles"))
        rows.append(F.struct(*fields))
    return _unpivot(agg_df, rows, keep)


def profile(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    approx_distinct: bool = True,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    exact_quantiles: bool = False,
) -> DataFrame:
    """Per-column stats in ONE aggregation pass.

    Returns one row per column: ``column, n_rows, n_nulls, n_distinct,
    min_repr, max_repr, quantiles(array<double> for numeric)``.

    ``exact_quantiles`` swaps ``percentile_approx`` for Spark's exact
    ``percentile`` (linear interpolation at rank ``p*(n-1)``) — the
    oracle/audit mode, same role as ``approx_distinct=False``.  The scale
    default stays approximate: exact percentile buffers each column's
    values per partition, approx keeps a bounded sketch.  On
    integer-valued columns the interpolated result is IEEE-exact (dyadic
    products), so it cross-checks bit-for-bit against DuckDB's
    ``quantile_cont``."""
    cols = list(columns) if columns else [f.name for f in df.schema.fields]
    distinct = "approx" if approx_distinct else "exact"
    aggs = profile_aggs(df, cols, distinct, quantiles, exact_quantiles)
    return profile_rows(df.agg(*aggs), cols, with_quantiles=True)


def profile_state(df: DataFrame, columns: Sequence[str], increment: str) -> DataFrame:
    """Mergeable per-column stats STATE for one ingestion increment.

    At 10^12 rows re-profiling the whole table per ingest is the cost
    killer; the fix is the standard mergeable-aggregate decomposition
    (Deequ calls these *states*): each increment is scanned exactly once
    into a ONE-ROW state — ``count`` / ``null-count`` / typed ``min`` /
    ``max`` plus an Apache DataSketches HLL sketch
    (``hll_sketch_agg``) for distinct counts — appended to a tiny state
    table (one row per increment, a handful of bytes per column).
    :func:`merge_profile_states` folds ANY subset of state rows into the
    same shape :func:`profile` produces, without touching the data again:
    counts add, min/max fold, sketches union (``hll_union_agg``).  This
    is also the checkpoint/resume path for metrics — states survive in
    the manifest layout and a re-run merges instead of rescans.  The
    aggregates are :func:`profile_aggs` (``"hll"``).
    """
    row = df.agg(*profile_aggs(df, columns, "hll"))
    return row.select(F.lit(increment).alias("increment"), "*")


def merge_profile_states(states: DataFrame) -> DataFrame:
    """Fold profile state rows (one per increment) into per-column stats.

    Input is the union/append of :func:`profile_state` outputs over the
    SAME column set; output matches :func:`profile`'s shape —
    ``column, n_rows, n_nulls, n_distinct, min_repr, max_repr`` — with
    ``n_distinct`` estimated from the unioned HLL sketches.  Merging is
    exact for every other field, and associative: any grouping of
    increments folds to the same result (asserted in
    ``tests/test_table_ops.py``).  Cost is O(#increments × #columns)
    state rows — independent of data size.  The finish is
    :func:`profile_rows`.
    """
    cols = sorted(
        {f.name[: -len("__hll")] for f in states.schema.fields if f.name.endswith("__hll")}
    )
    aggs: List = [F.sum("__n").alias("__n")]
    for c in cols:
        aggs.append(F.sum(f"`{c}__nulls`").alias(f"{c}__nulls"))
        aggs.append(F.min(f"`{c}__min`").alias(f"{c}__min"))
        aggs.append(F.max(f"`{c}__max`").alias(f"{c}__max"))
        aggs.append(
            F.hll_sketch_estimate(F.hll_union_agg(f"`{c}__hll`")).alias(f"{c}__distinct")
        )
    return profile_rows(states.agg(*aggs), cols)


def uniqueness_violations(
    df: DataFrame, key, salt_buckets: Optional[int] = None
) -> DataFrame:
    """Keys appearing more than once → ``(key..., dup_count)``.  ``key``
    is one column name or a sequence (composite/natural keys — e.g.
    ``(user_id, ts)``).

    A NULL in any key component excludes the row (missing ≠ duplicate;
    they're presence violations).  With ``salt_buckets`` the count is a
    two-level aggregate
    (key+salt partial → key final) for pathological key skew; plain
    groupBy+count already map-side combines, so salting is only needed when
    a single key dominates entire partitions downstream.
    """
    keys = [key] if isinstance(key, str) else list(key)
    kcs = [F.col("`%s`" % k) for k in keys]
    # a NULL in ANY key component is a presence problem, not a duplicate
    nn = df
    for kc in kcs:
        nn = nn.filter(kc.isNotNull())
    if salt_buckets:
        counts = (
            _salted_partial(nn, keys, kcs, salt_buckets)
            .groupBy(*keys)
            .agg(F.sum("__c").alias("dup_count"))
        )
    else:
        counts = nn.groupBy(*[kc.alias(k) for k, kc in zip(keys, kcs)]).agg(
            F.count(F.lit(1)).alias("dup_count")
        )
    return counts.filter(F.col("dup_count") > 1)


def _salted_partial(nn: DataFrame, keys, kcs, salt_buckets: int) -> DataFrame:
    """Partial stage of the salted uniqueness aggregate: one group per
    (key, salt).  The salt MUST be independent of the key — derived from
    ``spark_partition_id()`` — so a hot key's rows land in up to
    *salt_buckets* distinct partial groups that hash to different reducers;
    a key-derived salt (e.g. crc32(key) % B) is constant per key and
    degenerates the two-level aggregate back to a plain groupBy."""
    if isinstance(keys, str):  # pre-composite-key call shape
        keys, kcs = [keys], [kcs]
    return (
        nn.withColumn("__salt", F.pmod(F.spark_partition_id(), F.lit(salt_buckets)))
        .groupBy(*[kc.alias(k) for k, kc in zip(keys, kcs)], "__salt")
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def referential_violations(
    fact: DataFrame,
    ref_col: str,
    dim: DataFrame,
    dim_key: str,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Rows of *fact* whose ``ref_col`` does not exist in *dim* (dangling
    references) — LEFT ANTI join.  NULL refs are not dangling (presence
    checks own those).  ``broadcast_dim`` forces a broadcast hash join for
    small dimensions (media catalogs); otherwise Catalyst/AQE picks
    sort-merge with skew splitting."""
    d = dim.select(F.col("`%s`" % dim_key).alias("__ref")).distinct()
    if broadcast_dim:
        d = F.broadcast(d)
    return fact.filter(F.col("`%s`" % ref_col).isNotNull()).join(
        d, on=fact["`%s`" % ref_col] == d["__ref"], how="left_anti"
    )


def _bloom_positions(key, m_bits: int, k_hashes: int):
    """k bit positions for *key*: seeded xxhash64 mod m (pure JVM integer
    hashing — the filter never needs cross-engine replay, the RESULT is
    oracle-checked, so the cheap hash wins).  Returns a k-element array
    Column."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k_hashes - 1)),
        lambda i: F.pmod(F.xxhash64(i, key), F.lit(m_bits)),
    )


def bloom_build(dim: DataFrame, key_col: str, m_bits: int, k_hashes: int) -> DataFrame:
    """ONE-row DataFrame ``(__bloom: array<bigint>)`` — a Bloom filter of
    *dim*'s keys as ``m_bits/64`` words, built entirely with Column
    expressions (explode positions → per-word ``bit_or`` → assemble), no
    driver-side filter object and no UDF."""
    n_words = (m_bits + 63) // 64
    kc = F.col("`%s`" % key_col)
    pos = dim.filter(kc.isNotNull()).select(
        F.explode(_bloom_positions(kc, m_bits, k_hashes)).alias("__p")
    )
    words = pos.select(
        (F.col("__p") / 64).cast("int").alias("__w"),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(F.col("__p"), F.lit(64)).cast("int")
        ).alias("__m"),
    ).groupBy("__w").agg(F.bit_or("__m").alias("__bits"))
    return words.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__w"), F.col("__bits")))
        ).alias("__wm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda wi: F.coalesce(
                F.element_at(F.col("__wm"), wi.cast("int")), F.lit(0).cast("long")
            ),
        ).alias("__bloom")
    )


def _bloom_contains(bloom, key, m_bits: int, k_hashes: int):
    """True iff every position bit is set (no false negatives)."""
    return F.forall(
        _bloom_positions(key, m_bits, k_hashes),
        lambda p: (
            F.call_function(
                "shiftright",
                F.element_at(bloom, (p / 64).cast("int") + 1),
                F.pmod(p, F.lit(64)).cast("int"),
            ).bitwiseAND(F.lit(1))
        )
        == 1,
    )


def referential_violations_bloom(
    fact: DataFrame,
    ref_col: str,
    dim: DataFrame,
    dim_key: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """EXACT referential check for dimensions too big to broadcast in
    full: a Bloom filter of the dim keys (``m_bits/8`` bytes, built
    distributed) broadcasts instead, and rows whose ref is DEFINITELY
    absent (any bit unset — Bloom has no false negatives) are emitted
    without touching the join; only the might-contain remainder (true
    members + the fp rate of absentees) pays the sort-merge anti-join
    shuffle.

    Cost model — be honest about when this wins: a Bloom can prove
    ABSENCE, never membership, so member rows always reach the exact
    join.  The saving is proportional to the dangling fraction: auditing
    a fact against a restrictive/older catalog (many refs absent) skips
    the shuffle for nearly all violations, while a mostly-clean fact
    gains nothing over plain sort-merge — use
    :func:`referential_violations` (or a broadcastable dim) there.

    Size ``m_bits ≈ 10 × |dim|`` for ~1% fp (k=5 near-optimal there).
    Output ≡ :func:`referential_violations` exactly — the fp rate costs
    only join traffic, never correctness (property-tested + shared SQL
    oracle)."""
    rc = F.col("`%s`" % ref_col)
    bf = bloom_build(dim.select(F.col("`%s`" % dim_key)), dim_key, m_bits, k_hashes)
    nn = fact.filter(rc.isNotNull()).crossJoin(F.broadcast(bf))
    mc = _bloom_contains(F.col("__bloom"), rc, m_bits, k_hashes)
    definitely_absent = nn.filter(~mc).drop("__bloom")
    maybe = nn.filter(mc).drop("__bloom")
    residual = referential_violations(
        maybe, ref_col, dim, dim_key, broadcast_dim=False
    )
    return definitely_absent.unionByName(residual)


def _binned(c: Column) -> Column:
    """The values a numeric drift input bins: not NULL and not NaN.  A NaN
    has no place on a number line, so every drift twin drops it where it
    drops NULL — from the edges, the cuts and both histograms."""
    return c.isNotNull() & ~F.isnan(c)


def _equi_width(baseline: DataFrame, c: Column, bins: int):
    """The equi-width binning of *c* over the baseline's bounds:
    ``(edges, bucket)`` — a one-row ``(__lo, __hi)`` aggregate of the
    baseline's :func:`_binned` values, and the bucket Column over those
    columns (``floor((c − lo) / width)`` clamped to ``[0, bins − 1]``).
    A constant baseline (``hi == lo``) puts everything in bucket 0
    explicitly instead of via NULL division.  Shared by
    :func:`histogram_df`, :func:`drift_df`, :func:`drift` and
    ``streaming.drift_stream``."""
    edges = baseline.filter(_binned(c)).agg(
        F.min(c).alias("__lo"), F.max(c).alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / bins
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(bins - 1),
            F.greatest(F.lit(0), F.floor((c - F.col("__lo")) / width).cast("int")),
        )
    )
    return edges, bucket


def _psi_term(cur: Column, base: Column) -> Column:
    """One bin's PSI term ``(a − b)·ln(a / b)`` over the two shares, each
    clamped to 1e-6 so an empty bin stays finite.  The single PSI
    definition: :func:`_drift_fold`, :func:`_psi_tvd_bp` and
    ``streaming.drift_stream`` all sum it."""
    eps = F.lit(1e-6)
    a, b = F.greatest(cur, eps), F.greatest(base, eps)
    return (a - b) * F.log(a / b)


def _drift_fold(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    edges: DataFrame,
    bucket: Column,
    n_bins: int,
) -> DataFrame:
    """The batch numeric drift fold: one ``(column, psi, ks)`` row,
    unfloored, for *col* binned by *bucket* (a Column over the one-row
    *edges* frame, which is broadcast onto each side).

    Plan: one histogram groupBy per dataset (≤ *n_bins* groups,
    map-side combined), both left-joined onto the ``range(n_bins)`` bin
    grid, the :func:`_psi_term` sum and the largest cumulative-share gap
    (KS) over the grid in bin order, and a 1-row final agg.  NULL and NaN
    values are dropped (:func:`_binned`).  An empty or all-NULL/NaN
    baseline has no histogram: ``psi`` and ``ks`` are NULL (no
    baseline → NULL, the contract of :func:`profile_anomalies`).  Shared
    by :func:`drift_df`, :func:`drift` and :func:`drift_quantile`."""
    c = F.col("`%s`" % col).cast("double")

    def hist(df: DataFrame, name: str) -> DataFrame:
        counts = (
            df.filter(_binned(c))
            .crossJoin(F.broadcast(edges))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        total = F.sum("__c").over(Window.partitionBy())
        return counts.select("bucket", (F.col("__c") / total).alias(name))

    grid = baseline.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bucket")
    )
    j = (
        grid.join(hist(baseline, "pb"), "bucket", "left")
        .join(hist(current, "pc"), "bucket", "left")
        .select(
            "bucket",
            F.col("pb").isNotNull().alias("__seen"),
            F.coalesce("pb", F.lit(0.0)).alias("pb"),
            F.coalesce("pc", F.lit(0.0)).alias("pc"),
        )
    )
    w = Window.partitionBy().orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    scored = j.select(
        "__seen",
        _psi_term(F.col("pc"), F.col("pb")).alias("psi_term"),
        F.abs(F.sum("pb").over(w) - F.sum("pc").over(w)).alias("ks_gap"),
    )
    seen = F.max("__seen")
    return scored.agg(
        F.lit(col).alias("column"),
        F.when(seen, F.sum("psi_term")).alias("psi"),
        F.when(seen, F.max("ks_gap")).alias("ks"),
    )


def _equi_width_drift(
    current: DataFrame, baseline: DataFrame, columns: Sequence[str], bins: int
) -> DataFrame:
    """:func:`_drift_fold` over :func:`_equi_width` bins for every
    column, unioned — unfloored ``(column, psi, ks)``."""
    outs = []
    for col in columns:
        c = F.col("`%s`" % col).cast("double")
        edges, bucket = _equi_width(baseline, c, bins)
        outs.append(_drift_fold(current, baseline, col, edges, bucket, bins))
    return reduce(DataFrame.unionAll, outs)


def _floor_bp(folded: DataFrame) -> DataFrame:
    """``(column, psi, ks)`` → ``(column, psi_bp, ks_bp)`` in integer
    basis points (``floor(stat * 10_000)``)."""
    return folded.select(
        "column",
        F.floor(F.col("psi") * 10_000).cast("long").alias("psi_bp"),
        F.floor(F.col("ks") * 10_000).cast("long").alias("ks_bp"),
    )


def histogram_df(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Equi-width histogram as a DataFrame ``(bucket, n)`` — fully
    distributed: one tiny agg for bounds (broadcast back as a 1-row cross
    join), one groupBy of ≤ *bins* keys (map-side combined).  The bins
    are :func:`_equi_width`, the drift monitors' own; counts are
    integers so it also serves as the DuckDB-checkable face of the drift
    operator."""
    c = F.col("`%s`" % col).cast("double")
    edges, bucket = _equi_width(df, c, bins)
    return (
        df.filter(_binned(c))
        .crossJoin(F.broadcast(edges))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def drift_df(
    current: DataFrame,
    baseline: DataFrame,
    columns: Sequence[str],
    bins: int = 10,
) -> DataFrame:
    """PSI + KS drift per numeric column, fully distributed — returns
    ``(column, psi_bp, ks_bp)`` in integer basis points
    (``floor(stat * 10_000)``) so results are exactly comparable across
    engines despite float formatting.  NULL and NaN values fall in no bin;
    NULL ``psi_bp``/``ks_bp`` when the baseline has no other value.

    Plan per column: the :func:`_equi_width` bounds agg on the baseline
    (broadcast) and bucket, then :func:`_drift_fold` — one histogram
    groupBy per dataset (≤ *bins* groups, map-side combined), a
    *bins*-row join, and a 1-row final agg.  All driver-free; per-column
    plans are unioned into one job."""
    if not columns:
        raise ValueError("drift_df needs at least one column")
    return _floor_bp(_equi_width_drift(current, baseline, columns, bins))


def iqr_outliers(
    df: DataFrame,
    col: str,
    k: float = 1.5,
    exact: bool = False,
) -> DataFrame:
    """Rows whose *col* falls outside the Tukey fence
    ``[q1 − k·IQR, q3 + k·IQR]`` — the robust distributional outlier flag
    (median-based, so a heavy tail doesn't widen its own fence the way a
    stddev rule's would).  NULL values are never outliers (presence
    checks own them).

    Plan: ONE tiny quartile agg (``percentile_approx`` GK sketch by
    default, exact ``percentile`` for audit/oracle runs) broadcast to a
    stateless filter — no shuffle of the data itself, so at 10^12 rows
    this costs a scan plus a 1-row broadcast."""
    c = F.col("`%s`" % col).cast("double")
    pfn = F.percentile if exact else F.percentile_approx
    q = df.filter(c.isNotNull()).agg(
        pfn(c, [0.25, 0.75]).alias("__q")
    ).select(
        F.col("__q")[0].alias("__q1"), F.col("__q")[1].alias("__q3")
    )
    lo = F.col("__q1") - (F.col("__q3") - F.col("__q1")) * k
    hi = F.col("__q3") + (F.col("__q3") - F.col("__q1")) * k
    return (
        df.filter(c.isNotNull())
        .crossJoin(F.broadcast(q))
        .filter((c < lo) | (c > hi))
        .drop("__q1", "__q3")
    )


def mad_outliers(
    df: DataFrame,
    col: str,
    t: float = 3.5,
    exact: bool = False,
) -> DataFrame:
    """Rows whose *col* fails the Hampel / modified-z-score test
    ``0.6745·|x − median| > t·MAD`` (Iglewicz & Hoaglin's 3.5 default) —
    the robust companion to :func:`iqr_outliers` for asymmetric or
    heavy-tailed columns, since MAD has a 50% breakdown point where the
    IQR fence's is 25%.  NULL values are never outliers (presence checks
    own them).

    The comparison is cross-multiplied (never ``/mad``) so the degenerate
    ``MAD == 0`` column (a majority of identical values) needs no
    division guard: it is pinned to flag every value different from the
    median, which is exactly what the limit of the z-score test says.

    Plan: TWO tiny 1-row aggregates — the median, then the median of
    absolute deviations with the first result broadcast — then one
    stateless broadcast filter over the data.  Two scans of a single
    pruned column and no data shuffle, the same 10^12-row shape as
    :func:`iqr_outliers`/:func:`winsorize` (one extra scan is the price
    of the nested median; a one-pass sketch of BOTH levels does not
    exist)."""
    c = F.col("`%s`" % col).cast("double")
    pfn = F.percentile if exact else F.percentile_approx
    base = df.filter(c.isNotNull())
    med = base.agg(pfn(c, F.lit(0.5)).alias("__med"))
    stats = (
        base.crossJoin(F.broadcast(med))
        .agg(
            F.first("__med").alias("__med"),
            pfn(F.abs(c - F.col("__med")), F.lit(0.5)).alias("__mad"),
        )
    )
    flag = F.when(
        F.col("__mad") == 0.0, c != F.col("__med")
    ).otherwise(
        F.abs(c - F.col("__med")) * 0.6745 > F.col("__mad") * t
    )
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(flag)
        .drop("__med", "__mad")
    )


def check_suite(checks) -> DataFrame:
    """Unified report over a whole validation config: *checks* is a
    sequence of ``(check_id, violations_df)`` pairs — any mix of engine
    violations, uniqueness/referential/span outputs — and the result is
    one row per check: ``(check_id, n_violations, status)`` with status
    ``'pass'`` when the violation set is empty.

    Each check collapses to a 1-row count aggregate before the union, so
    the suite costs exactly the sum of its member scans and moves one row
    per check — the shape a nightly data-quality job wants at any corpus
    size.  Checks stay independent Spark jobs under one action (the union
    is evaluated together; AQE schedules the branches)."""
    checks = list(checks)
    if not checks:
        raise ValueError("check_suite needs at least one (check_id, df) pair")
    outs = [
        df.agg(
            F.lit(str(name)).alias("check_id"),
            F.count(F.lit(1)).cast("long").alias("n_violations"),
        )
        for name, df in checks
    ]
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.withColumn(
        "status",
        F.when(F.col("n_violations") == 0, F.lit("pass")).otherwise(F.lit("fail")),
    )


def winsorize(
    df: DataFrame,
    col: str,
    lower_p: float = 0.01,
    upper_p: float = 0.99,
    out_col: str = None,
    exact: bool = False,
) -> DataFrame:
    """Winsorization: *col* clipped to its ``[lower_p, upper_p]`` quantile
    range — the standard heavy-tail guard before numeric features feed a
    model or a drift monitor (a single corrupt 1e308 row otherwise owns
    the histogram/PSI bounds).  NULL values pass through NULL.

    Returns *df* with ``out_col`` (default ``<col>_winsorized``) added.
    Same plan shape as :func:`iqr_outliers`: one tiny quantile agg
    (GK sketch by default, exact ``percentile`` for audit/oracle parity)
    broadcast onto a stateless projection — a scan plus a 1-row
    broadcast, no data shuffle at any scale."""
    if not (0.0 <= lower_p <= upper_p <= 1.0):
        raise ValueError("need 0 <= lower_p <= upper_p <= 1")
    out_col = out_col or "%s_winsorized" % col
    c = F.col("`%s`" % col).cast("double")
    pfn = F.percentile if exact else F.percentile_approx
    q = (
        df.filter(c.isNotNull())
        .agg(pfn(c, [float(lower_p), float(upper_p)]).alias("__q"))
        .select(F.col("__q")[0].alias("__wlo"), F.col("__q")[1].alias("__whi"))
    )
    clipped = F.when(
        c.isNotNull(),
        F.least(F.greatest(c, F.col("__wlo")), F.col("__whi")),
    )
    return (
        df.crossJoin(F.broadcast(q))
        .withColumn(out_col, clipped)
        .drop("__wlo", "__whi")
    )


def drift_quantile(
    current: DataFrame,
    baseline: DataFrame,
    columns: Sequence[str],
    q: int = 10,
    exact: bool = False,
) -> DataFrame:
    """PSI + KS drift on EQUI-DEPTH bins: bucket edges are the baseline's
    own ``(q-1)`` quantile cut points, so every bin holds ~1/q of the
    baseline mass — robust to outliers and long tails, which squash most
    of an equi-width histogram (:func:`drift_df`) into one bucket.  This
    is the quantile-sketch drift check of the north star: at scale the
    cuts come from ``percentile_approx`` (a bounded-memory GK sketch, one
    pass, mergeable across partitions — the same role a TDigest plays);
    ``exact=True`` swaps in exact ``percentile`` for oracle/audit parity.

    Returns ``(column, psi_bp, ks_bp)`` in integer basis points like
    :func:`drift_df`, NULL when the baseline has no non-NULL, non-NaN value.
    Plan per column: one tiny cuts agg on the baseline (broadcast, q-1
    doubles) and the bucket (count of cuts below the value, an array-HOF
    — no join per bin), then :func:`_drift_fold`: one groupBy per
    dataset over ≤ q buckets, a q-row join, 1-row final agg."""
    if not columns:
        raise ValueError("drift_quantile needs at least one column")
    if q < 2:
        raise ValueError("q must be >= 2")
    probs = [k / q for k in range(1, q)]
    pfn = F.percentile if exact else F.percentile_approx
    outs: List[DataFrame] = []
    for col in columns:
        c = F.col("`%s`" % col).cast("double")
        cuts = baseline.filter(_binned(c)).agg(pfn(c, probs).alias("__cuts"))
        # bucket = #cuts strictly below the value (ties stay low) — same
        # op as DuckDB len(list_filter(cuts, x -> v > x))
        bucket = F.size(F.filter(F.col("__cuts"), lambda x: c > x))
        outs.append(_drift_fold(current, baseline, col, cuts, bucket, q))
    return _floor_bp(reduce(DataFrame.unionAll, outs))


def drift_categorical(
    current: DataFrame,
    baseline: DataFrame,
    columns: Sequence[str],
    top_k: int = 100,
    bp_round: int = 9,
) -> DataFrame:
    """PSI + total-variation drift over CATEGORY frequencies — the
    categorical sibling of :func:`drift_df`.  Returns
    ``(column, psi_bp, tvd_bp)`` in integer basis points.

    Categories are the BASELINE's *top_k* by count (count-desc, value-asc
    tiebreak — deterministic); everything else, including categories the
    baseline never saw, rolls into ``__other__`` so the comparison space is
    fixed and bounded regardless of cardinality.  Plan per column: one
    groupBy per dataset (≤ #distinct categories rows, map-side combined),
    top-k via orderBy+limit (TakeOrdered, tree-reduced — never a
    single-task window), a broadcast join of the tiny category list, and a
    1-row final agg — no driver-side data, safe at any cardinality."""
    if not columns:
        raise ValueError("drift_categorical needs at least one column")
    outs: List[DataFrame] = []
    for col in columns:
        c = F.col("`%s`" % col).cast("string")

        def freq(df: DataFrame) -> DataFrame:
            return (
                df.filter(c.isNotNull())
                .groupBy(c.alias("cat"))
                .agg(F.count(F.lit(1)).alias("__c"))
            )

        bf = freq(baseline)
        top = _top_categories(bf, "__c", top_k)

        def bucketed(fr0: DataFrame, name: str) -> DataFrame:
            fr = fr0.join(F.broadcast(top), "cat", "left")
            rolled = (
                fr.select(
                    F.when(F.col("__keep"), F.col("cat"))
                    .otherwise(F.lit("__other__"))
                    .alias("cat"),
                    "__c",
                )
                .groupBy("cat")
                .agg(F.sum("__c").alias("__c"))
            )
            total = F.sum("__c").over(Window.partitionBy())
            return rolled.select(
                "cat", F.round(F.col("__c") / total, bp_round).alias(name)
            )

        j = (
            # reuse bf for the baseline side — freq(baseline) is otherwise
            # scanned+aggregated twice per column (once for top-k, once here)
            bucketed(bf, "pb")
            .join(bucketed(freq(current), "pc"), "cat", "full_outer")
            .select(
                F.coalesce("pb", F.lit(0.0)).alias("pb"),
                F.coalesce("pc", F.lit(0.0)).alias("pc"),
            )
        )
        outs.append(
            j.agg(
                F.lit(col).alias("column"),
                *_psi_tvd_bp(F.col("pc"), F.col("pb")),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionAll(o)
    return result


def _top_categories(freq: DataFrame, count_col: str, top_k: int) -> DataFrame:
    """Deterministic top-k category list ``(cat, __keep)`` from a
    ``(cat, <count_col>)`` frequency table — count-desc, cat-asc
    tiebreak, via orderBy+limit → TakeOrdered (tree-reduced across
    partitions); an unpartitioned row_number window would funnel every
    distinct category through ONE task at high cardinality.  Shared by
    :func:`drift_categorical` and :func:`group_drift` so their oracles
    pin one definition."""
    return (
        freq.orderBy(F.col(count_col).desc(), F.col("cat").asc())
        .limit(int(top_k))
        .select("cat", F.lit(True).alias("__keep"))
    )


def _psi_tvd_bp(cur, base):
    """The SINGLE definition of the categorical drift fold — PSI and
    total-variation aggregate columns in integer basis points over two
    share columns (``cur`` vs ``base``, both 9-dp rounded upstream): the
    :func:`_psi_term` sum and half the absolute-share sum, each
    floor(·×10000).  Shared by
    :func:`drift_categorical` (pc vs pb) and :func:`group_drift`
    (group vs corpus) and mirrored by both oracles."""
    return (
        F.floor(F.sum(_psi_term(cur, base)) * 10_000)
        .cast("long")
        .alias("psi_bp"),
        F.floor(0.5 * F.sum(F.abs(cur - base)) * 10_000)
        .cast("long")
        .alias("tvd_bp"),
    )


def drift(
    current: DataFrame,
    baseline: DataFrame,
    columns: Sequence[str],
    bins: int = 10,
) -> List[Dict[str, float]]:
    """PSI and KS statistics per numeric column between two datasets:
    ``[{"column", "psi", "ks"}]``, the :func:`drift_df` fold collected
    unfloored (:func:`_equi_width` bins, :func:`_drift_fold`).  ``psi``
    and ``ks`` are ``None`` when the baseline has no non-NULL, non-NaN value.
    Standard thresholds: PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 drifted.
    """
    if not columns:
        return []
    return [r.asDict() for r in _equi_width_drift(current, baseline, columns, bins).collect()]


def skew_report(
    df: DataFrame,
    columns: Sequence[str],
    top_k: int = 10,
    hot_bp: int = 1000,
) -> DataFrame:
    """Heavy-hitter report per key column — the shuffle-skew diagnostic.

    Every shuffle in this engine keys on some column (uniqueness on
    doc_id, referential on suppkey, sessions on user_id); one key owning
    a material share of the rows is what makes a 1000-executor stage
    wait on one straggler task.  This check makes that measurable before
    it burns a run: for each column, the ``top_k`` most frequent
    non-NULL values with exact counts and integer-basis-point corpus
    share, flagged ``is_hot`` at ``share_bp >= hot_bp`` (default 10%) —
    the direct input for choosing a salting factor or enabling AQE
    skew-join splitting on that key.

    Returns ``(column, value, cnt, share_bp, is_hot)``; ``value`` is
    stringified so mixed-type columns union into one report.  Ordering
    ties break value-ascending, so top-k is deterministic cross-engine.

    Scale shape: per column one ``groupBy`` (map-side combined, output
    ≤ #distinct values), top-k via orderBy+limit (TakeOrdered,
    tree-reduced — never a single-task window), a 1-row total joined by
    broadcast.  The frequency subplan appears twice (top-k + total);
    Spark's exchange reuse folds them into one physical aggregation.
    ``share_bp = (cnt * 10000) div total`` in pure int64 arithmetic —
    exact while ``cnt`` stays below ~9·10^14 rows, documented ceiling."""
    if not columns:
        raise ValueError("skew_report needs at least one column")
    names = {f.name for f in df.schema.fields}
    outs: List[DataFrame] = []
    for col in columns:
        if col not in names:
            raise ValueError(f"skew_report: unknown column {col!r}")
        c = F.col("`%s`" % col).cast("string")
        freq = (
            df.filter(c.isNotNull())
            .groupBy(c.alias("value"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        top = freq.orderBy(F.col("cnt").desc(), F.col("value").asc()).limit(top_k)
        total = freq.agg(F.sum("cnt").alias("__total"))
        # integer `div`, not floor(double division): counts are
        # non-negative so div == floor, and int64 arithmetic is exact
        share = F.expr("cnt * 10000L div __total").cast("long")
        outs.append(
            top.crossJoin(F.broadcast(total)).select(
                F.lit(col).alias("column"),
                "value",
                F.col("cnt").cast("long").alias("cnt"),
                share.alias("share_bp"),
                (share >= F.lit(int(hot_bp))).alias("is_hot"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def column_entropy(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Shannon entropy of each column's value distribution —
    ``(column, n, n_distinct, entropy_bits)``, one row per column.

    Entropy is the single-number answer to "is this column informative,
    constant, or an id?": ~0 bits flags a constant (a broken extractor
    writing one value), ~log2(n) flags a unique key masquerading as a
    category, and a DROP in entropy between snapshots is distribution
    collapse that PSI misses when the collapsing mass stays inside the
    top-k buckets.  NULL counts as its own category (a column going
    all-NULL must read as entropy 0, not be silently excluded);
    ``n_distinct`` therefore also counts the NULL group.

    Computed via the shuffle-free identity
    ``H = (ln(n) − Σ c·ln(c) / n) / ln 2`` over exact group counts — one
    map-side-combined groupBy per column, then a one-row aggregate; no
    per-group probability column, no window.  ``entropy_bits`` rounds to
    6 dp.  Natural log + an inlined ln(2) literal, NOT ``log2``: the two
    engines' ``log2`` builtins may disagree in the last ulp, while ``ln``
    is already pinned hash-consistent by the tfidf/bm25 oracles."""
    if not columns:
        raise ValueError("column_entropy needs at least one column")
    names = {f.name for f in df.schema.fields}
    outs: List[DataFrame] = []
    for col in columns:
        if col not in names:
            raise ValueError(f"column_entropy: unknown column {col!r}")
        freq = df.groupBy(F.col("`%s`" % col).alias("__v")).agg(
            F.count(F.lit(1)).alias("__c")
        )
        cd = F.col("__c").cast("double")
        agg = freq.agg(
            F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(cd * F.log(cd)).alias("__sclc"),
        )
        nd = F.col("n").cast("double")
        ln2 = F.lit(0.6931471805599453)  # repr(math.log(2)), both engines
        outs.append(
            agg.select(
                F.lit(col).alias("column"),
                "n",
                "n_distinct",
                F.when(
                    F.col("n") > 0,
                    F.round((F.log(nd) - F.col("__sclc") / nd) / ln2, 6),
                )
                .otherwise(F.lit(0.0))
                .alias("entropy_bits"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def quantile_aggs(columns: Sequence[str], k: int = 200) -> List[Column]:
    """The quantile family's aggregates: ``__n``, then per column the
    exact value count ``{c}__cnt`` and a KLL sketch ``{c}__kll`` (NULLs
    ignored).  Read by :func:`quantile_state` and
    ``streaming.quantile_stream``; :func:`quantile_rows` finishes them."""
    aggs: List[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        qc = F.col("`%s`" % c).cast("double")
        aggs.append(F.count(qc).alias(f"{c}__cnt"))
        aggs.append(F.kll_sketch_agg_double(qc, F.lit(int(k))).alias(f"{c}__kll"))
    return aggs


def quantile_rows(
    agg_df: DataFrame,
    columns: Sequence[str],
    quantiles: Sequence[float],
    keep: Sequence[str] = (),
) -> DataFrame:
    """The quantile family's finishing projection over ``{c}__cnt`` /
    ``{c}__kll``: one row per column, ``column, n_values, min_val,
    max_val, q_<pct>...`` after the *keep* columns; sketch reads are NULL
    for a column with no values."""
    qnames = [("q_%g" % (q * 100)).replace(".", "_") for q in quantiles]
    rows = []
    for c in columns:
        cnt, m = F.col(f"`{c}__cnt`"), F.col(f"`{c}__kll`")

        def at(rank: float) -> Column:
            return F.when(cnt > 0, F.kll_sketch_get_quantile_double(m, F.lit(rank)))

        fields = [
            F.lit(c).alias("column"),
            F.coalesce(cnt, F.lit(0)).cast("long").alias("n_values"),
            at(0.0).alias("min_val"),
            at(1.0).alias("max_val"),
        ]
        fields += [at(float(q)).alias(qn) for q, qn in zip(quantiles, qnames)]
        rows.append(F.struct(*fields))
    return _unpivot(agg_df, rows, keep)


def quantile_state(
    df: DataFrame, columns: Sequence[str], increment: str, k: int = 200
) -> DataFrame:
    """Mergeable per-column QUANTILE state for one ingestion increment —
    the distribution half of :func:`profile_state` (which covers
    count/nulls/min/max/distinct).  One row per increment holding an
    Apache DataSketches KLL sketch (``kll_sketch_agg_double``, parameter
    *k*: 200 ≈ 1.65% one-sided rank error) plus an exact value count per
    column; NULLs are ignored by the sketch — the state also carries the
    increment's total row count ``__n`` so per-column null rates are
    derivable as ``__n - {c}__cnt`` (the consumers that only need
    quantiles read the ``__cnt``/``__kll`` fields).  At 10^12 rows this is what makes quantile/drift checks
    affordable: each increment is scanned once, forever, and any
    subset of increments folds in O(states) via
    :func:`merge_quantile_states` — the same never-rescan contract as
    the HLL profile states, now for KS/PSI-style distribution checks.
    The aggregates are :func:`quantile_aggs`."""
    row = df.agg(*quantile_aggs(columns, k))
    return row.select(F.lit(increment).alias("increment"), "*")


def merge_quantile_states(
    states: DataFrame, quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.9, 0.99)
) -> DataFrame:
    """Fold quantile state rows into per-column quantile estimates.

    Output: ``(column, n_values, min_val, max_val, q_<pct>...)`` —
    ``n_values``/``min_val``/``max_val`` are EXACT (KLL tracks stream
    min/max and count losslessly, asserted against SQL in the driver
    gate); the ``q_`` columns are estimates within the sketch's rank
    error (tolerance-asserted in pytest).  Merging is associative;
    cost is O(#increments × #columns) rows, independent of data size.
    The finish is :func:`quantile_rows`."""
    cols = sorted(
        {f.name[: -len("__kll")] for f in states.schema.fields if f.name.endswith("__kll")}
    )
    aggs: List = []
    for c in cols:
        aggs.append(F.sum(f"`{c}__cnt`").alias(f"{c}__cnt"))
        aggs.append(F.kll_merge_agg_double(f"`{c}__kll`").alias(f"{c}__kll"))
    return quantile_rows(states.agg(*aggs), cols, quantiles)


def quantile_drift_states(
    baseline_states: DataFrame,
    current_states: DataFrame,
    probes: int = 64,
) -> DataFrame:
    """KS drift per column between two SETS of quantile states — e.g.
    all historical increments vs today's — without rescanning either
    side.  Each side's sketches are merged, then the KS statistic is the
    max CDF gap over the union of BOTH sides' own quantile values at
    *probes*+1 evenly spaced ranks: ``ks_bp = floor(max_x |rank_b(x) -
    rank_c(x)| * 10000)`` (integer basis points; estimate quality
    bounded by the two sketches' rank errors — probing at the sketches'
    own quantiles, not an even value grid, means a moved point mass
    always has a probe sitting on it).  Returns ``(column, n_baseline,
    n_current, ks_bp)``.

    Two driver steps, both O(states): each side's quantile values are
    collected from the merged sketches first — Spark's
    ``kll_sketch_get_rank`` requires *foldable* probe values, and the
    state tables are one row per increment by construction, so this
    collect is bounded — then the rank probing itself is a single 1-row
    projection over the two merged state rows (broadcast cross join).
    Zero data movement beyond the tiny state tables."""
    cols = sorted(
        {
            f.name[: -len("__kll")]
            for f in baseline_states.schema.fields
            if f.name.endswith("__kll")
        }
    )
    bag = baseline_states.agg(
        *[F.kll_merge_agg_double(f"`{c}__kll`").alias(f"{c}__b") for c in cols],
        *[F.sum(f"`{c}__cnt`").alias(f"{c}__bn") for c in cols],
    )
    cag = current_states.agg(
        *[F.kll_merge_agg_double(f"`{c}__kll`").alias(f"{c}__c") for c in cols],
        *[F.sum(f"`{c}__cnt`").alias(f"{c}__cn") for c in cols],
    )
    both = bag.crossJoin(F.broadcast(cag))
    # bounded collect: one row, 2*(probes+1) doubles per column, from the
    # tiny state fold — needed because rank probes must be literals.
    # Probe points are EACH SIDE'S OWN QUANTILE VALUES (not an even value
    # grid): a point mass that moves between two grid lines would be
    # invisible to evenly spaced probes (KS gap confined between them),
    # while the sketches' own quantiles by construction sit on the mass,
    # keeping the estimate within the sketches' rank errors.
    grid = [i / probes for i in range(probes + 1)]
    env_sel = []
    for c in cols:
        b, cc = F.col(f"`{c}__b`"), F.col(f"`{c}__c`")
        has = (F.coalesce(F.col(f"`{c}__bn`"), F.lit(0)) > 0) & (
            F.coalesce(F.col(f"`{c}__cn`"), F.lit(0)) > 0
        )
        for side, sk in (("b", b), ("c", cc)):
            env_sel.append(
                F.when(
                    has,
                    F.array(
                        *[
                            F.kll_sketch_get_quantile_double(sk, F.lit(float(p0)))
                            for p0 in grid
                        ]
                    ),
                ).alias(f"{c}__q{side}")
            )
    env = both.select(*env_sel).first()

    sels = []
    for c in cols:
        b, cc = F.col(f"`{c}__b`"), F.col(f"`{c}__c`")
        qb, qc = env[f"{c}__qb"], env[f"{c}__qc"]
        if qb is None or qc is None:
            ks_col = F.lit(None).cast("long")
        else:
            pts = sorted({float(x) for x in (list(qb) + list(qc)) if x is not None})
            gap = None
            for x in pts:
                g = F.abs(
                    F.kll_sketch_get_rank_double(b, F.lit(x))
                    - F.kll_sketch_get_rank_double(cc, F.lit(x))
                )
                gap = g if gap is None else F.greatest(gap, g)
            ks_col = F.floor(gap * 10_000).cast("long")
        sels.append(
            F.struct(
                F.lit(c).alias("column"),
                F.coalesce(F.col(f"`{c}__bn`"), F.lit(0)).cast("long").alias("n_baseline"),
                F.coalesce(F.col(f"`{c}__cn`"), F.lit(0)).cast("long").alias("n_current"),
                ks_col.alias("ks_bp"),
            )
        )
    return _unpivot(both, sels)


def overlap_estimate(
    a: DataFrame, b: DataFrame, key_col: str, lg_k: int = 12
) -> DataFrame:
    """Set-overlap between two corpora on a key column via Apache
    DataSketches Theta sketches — ``|A|, |B|, |A∩B|, |A∪B|`` and a
    Jaccard estimate, WITHOUT the join.

    The exact question ("how many of today's doc_ids / fingerprints /
    urls did yesterday already have?") costs a full shuffle join of both
    corpora at 10^12 rows; two independent single-pass sketches plus a
    1-row combine answer it within sketch error (default ``lg_k=12`` →
    4096 retained hashes, ~1.6% RSE once sampling kicks in; EXACT below
    4096 distinct keys, which is what lets the driver gate hash-check
    this operator at its scale factor).  NULL keys are ignored on both
    sides — a NULL has no identity to overlap on.

    Returns one row: ``(n_a, n_b, n_intersection, n_union,
    jaccard_bp)`` — all longs, ``jaccard_bp = n_intersection * 10000
    div n_union`` (NULL when the union is empty).  For exact audits at
    small scale use a plain inner-join count; this operator is the
    scale path, same split as HLL vs ``countDistinct`` in
    :func:`profile`."""
    def sk(df: DataFrame) -> DataFrame:
        # key typing shared with uniqueness_state via _theta_key
        return df.agg(
            F.theta_sketch_agg(_theta_key(df, key_col), F.lit(int(lg_k))).alias("sk")
        )

    both = sk(a).select(F.col("sk").alias("ska")).crossJoin(
        F.broadcast(sk(b).select(F.col("sk").alias("skb")))
    )
    est = both.select(
        F.theta_sketch_estimate(F.col("ska")).cast("long").alias("n_a"),
        F.theta_sketch_estimate(F.col("skb")).cast("long").alias("n_b"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("ska"), F.col("skb"))
        ).cast("long").alias("n_intersection"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("ska"), F.col("skb"))
        ).cast("long").alias("n_union"),
    )
    return est.select(
        "*",
        F.when(
            F.col("n_union") > 0,
            F.expr("n_intersection * 10000L div n_union"),
        ).cast("long").alias("jaccard_bp"),
    )


def profile_anomalies(
    states: DataFrame,
    null_jump_bp: int = 500,
    volume_drop_bp: int = 5000,
) -> DataFrame:
    """Flag anomalous ingestion increments from their profile states —
    the alerting layer on top of :func:`profile_state`: an upstream
    schema regression shows up as a null-rate jump, a broken feed as a
    volume collapse, and both are visible in the state table WITHOUT
    touching the data again.

    One output row per (increment, column): ``null_bp`` (this
    increment's null rate, integer basis points) vs ``base_null_bp``
    (ALL OTHER increments pooled), ``null_anomaly`` when the jump
    reaches *null_jump_bp*; ``volume_bp`` (this increment's row count vs
    the MEAN of the other increments, 10000 = equal) with
    ``volume_anomaly`` when it falls below ``10000 - volume_drop_bp``.
    Returns ``(increment, column, n_rows, null_bp, base_null_bp,
    volume_bp, null_anomaly, volume_anomaly)``.

    All integer ``div`` arithmetic on exact state fields — replayable by
    any SQL engine.  The whole computation is a crossJoin of the state
    table (O(increments x columns) rows) with its own 1-row totals; no
    data-scale work at all.  A single-increment history has no "others"
    to compare against — its rows carry NULL baselines and are never
    flagged."""
    null_cols = sorted(
        f.name[: -len("__nulls")]
        for f in states.schema.fields
        if f.name.endswith("__nulls")
    )
    if not null_cols:
        raise ValueError("profile_anomalies: input has no profile_state columns")
    tot = states.agg(
        F.sum("__n").alias("__tn"),
        F.count(F.lit(1)).alias("__k"),
        *[F.sum(f"`{c}__nulls`").alias(f"__tnull_{c}") for c in null_cols],
    )
    j = states.crossJoin(F.broadcast(tot))
    others_n = (F.col("__tn") - F.col("__n")).cast("long")
    k_others = (F.col("__k") - 1).cast("long")
    # volume vs the mean of the others: n * k_others * 10000 div others_n
    volume_bp = F.when(
        (k_others > 0) & (others_n > 0),
        F.expr("__n * (__k - 1) * 10000L div greatest(__tn - __n, 1L)"),
    ).cast("long")
    parts = []
    for c in null_cols:
        # an EMPTY increment's state has sum(NULLs) = NULL — rate it as
        # zero nulls so the empty-feed case surfaces as a volume anomaly,
        # not a NULL-poisoned row
        null_bp = F.expr(
            f"coalesce(`{c}__nulls`, 0L) * 10000L div greatest(__n, 1L)"
        ).cast("long")
        base_bp = F.when(
            others_n > 0,
            F.expr(
                f"(`__tnull_{c}` - coalesce(`{c}__nulls`, 0L)) * 10000L "
                f"div greatest(__tn - __n, 1L)"
            ),
        ).cast("long")
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("long").alias("n_rows"),
                null_bp.alias("null_bp"),
                base_bp.alias("base_null_bp"),
                volume_bp.alias("volume_bp"),
                F.coalesce(
                    null_bp - base_bp >= F.lit(int(null_jump_bp)), F.lit(False)
                ).alias("null_anomaly"),
                F.coalesce(
                    volume_bp < F.lit(10_000 - int(volume_drop_bp)), F.lit(False)
                ).alias("volume_anomaly"),
            )
        )
    return _unpivot(j, parts, keep=("increment",))


def pass_rate_cols(n_rows: str = "n_rows", n_failed: str = "n_failed"):
    """``(pass_bp, status)`` columns from int64 ``n_rows``/``n_failed``
    SQL expressions — the SINGLE Spark-side definition of the check
    pass-rate contract (vacuous 10000 on zero rows, exact int64 ``div``
    basis points).  Shared by :func:`check_rows` (so by
    :func:`check_expressions` and ``streaming.checks_stream``) and
    ``CheckpointedRun.check_results``; the generated DuckDB oracles
    mirror it."""
    pass_bp = (
        F.when(F.expr(n_rows) == 0, F.lit(10000).cast("long"))
        .otherwise(F.expr(f"({n_rows} - {n_failed}) * 10000L div {n_rows}"))
        .alias("pass_bp")
    )
    status = (
        F.when(F.expr(n_failed) == 0, F.lit("pass"))
        .otherwise(F.lit("fail"))
        .alias("status")
    )
    return pass_bp, status


def _check_list(checks, who: str) -> list:
    """``check_id -> SQL predicate`` mapping or pair list → a non-empty
    list of ``(check_id, predicate)`` pairs."""
    checks = list(checks.items()) if isinstance(checks, dict) else list(checks)
    if not checks:
        raise ValueError("%s needs at least one check" % who)
    return checks


def check_fails(pred: str) -> Column:
    """A check's row fail predicate: NULL/unknown counts as a failure
    (see :func:`check_expressions`)."""
    return ~F.coalesce(F.expr(pred).cast("boolean"), F.lit(False))


def check_aggs(checks) -> List[Column]:
    """The checks family's aggregates over a :func:`_check_list`: ``__n``
    and one failure count ``__f<i>`` per check.  Read by
    :func:`check_expressions` and ``streaming.checks_stream``;
    :func:`check_rows` finishes them."""
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, (_, pred) in enumerate(checks):
        aggs.append(
            F.coalesce(  # sum over an empty table is NULL, not 0
                F.sum(F.when(check_fails(pred), F.lit(1)).otherwise(F.lit(0))),
                F.lit(0),
            )
            .cast("long")
            .alias("__f%d" % i)
        )
    return aggs


def check_rows(agg_df: DataFrame, checks, keep: Sequence[str] = ()) -> DataFrame:
    """The checks family's finishing projection: one row per check,
    ``check_id, n_rows, n_failed, pass_bp, status`` after the *keep*
    columns."""
    rows = [
        F.struct(
            F.lit(str(cid)).alias("check_id"),
            F.col("__n").alias("n_rows"),
            F.col("__f%d" % i).alias("n_failed"),
            *pass_rate_cols("__n", "__f%d" % i),
        )
        for i, (cid, _) in enumerate(checks)
    ]
    return _unpivot(agg_df, rows, keep)


def check_expressions(df: DataFrame, checks) -> DataFrame:
    """Declarative row-level table constraints — *checks* maps
    ``check_id -> SQL boolean expression`` (any cross-column predicate the
    table's columns support: ``"l_shipdate <= l_receiptdate"``,
    ``"l_discount BETWEEN 0 AND 0.1"``) — evaluated in ONE scan, returning
    one summary row per check: ``(check_id, n_rows, n_failed, pass_bp,
    status)``.

    This is the Deequ-``satisfies`` face of the engine: where the
    reference validates per-KEY rules (`evalidate.erl`'s rule records),
    these are per-ROW table invariants.  NULL/unknown predicate results
    count as FAILURES (data-validation semantics: a constraint that cannot
    be proven true on a row fails that row — deliberately NOT SQL CHECK
    semantics, where NULL passes; a NULL operand usually means the value a
    presence rule should have caught).

    ``pass_bp`` is integer basis points via exact int64 ``div`` (vacuous
    10000 on an empty table).  Plan: every check compiles to one
    conditional-sum column inside a single partial+final aggregate — k
    checks cost ONE table scan and one 1-row-per-partition exchange,
    regardless of k; the per-check fan-out happens on the 1-row result
    (:func:`check_aggs`, then :func:`check_rows`)."""
    checks = _check_list(checks, "check_expressions")
    return check_rows(df.agg(*check_aggs(checks)), checks)


def expression_violations(
    df: DataFrame, checks, id_cols: Sequence[str] = ("doc_id",)
) -> DataFrame:
    """Row-level violation output for :func:`check_expressions` — one row
    per (failing row × failed check): ``(check_id, *id_cols)``.  Same
    NULL-fails contract as the summary (:func:`check_fails`).

    One scan, zero shuffle, no row explosion on passing rows: each row
    computes the array of check ids it fails (usually empty), non-empty
    arrays explode in place.  Output volume is exactly the number of
    violations — the right shape to sink next to the engine's typed
    violation rows at any table size."""
    checks = _check_list(checks, "expression_violations")
    failed = F.array_compact(
        F.array(
            *[F.when(check_fails(pred), F.lit(str(cid))) for cid, pred in checks]
        )
    )
    ids = [F.col("`%s`" % c) for c in id_cols]
    return (
        df.select(failed.alias("__failed"), *ids)
        .filter(F.size("__failed") > 0)
        .select(
            F.explode("__failed").alias("check_id"),
            # backticked again: a dotted id column name must not parse as
            # struct-field access in this second resolution either
            *[F.col("`%s`" % c) for c in id_cols],
        )
    )


def null_correlation(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Pairwise null co-occurrence — for every unordered column pair
    ``(col_a, col_b)``: total rows, per-column null counts, rows where BOTH
    are null, and ``jaccard_bp = 10000·|both| div |either|`` (NULL when
    neither column has any null).

    Columns going null TOGETHER is the signature of a broken upstream
    extractor (one parser emitted nothing, every field it owns is null),
    which per-column null rates can't see.  High jaccard_bp (~10000) =
    shared failure path; ~0 = independent missingness.

    One scan, zero data shuffle: all k per-column counters and k·(k−1)/2
    pair counters are conditional sums inside a single partial+final
    aggregate; the pair fan-out happens on the 1-row result.  All-int64
    arithmetic — exact and hash-stable."""
    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("null_correlation needs at least two columns")
    names = {f.name for f in df.schema.fields}
    for c in cols:
        if c not in names:
            raise ValueError(f"null_correlation: unknown column {c!r}")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(
            # coalesce: sum over an empty table is NULL, not 0
            F.coalesce(F.sum(F.col("`%s`" % c).isNull().cast("long")), F.lit(0))
            .cast("long")
            .alias("__u%d" % i)
        )
    pairs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            pairs.append((i, j))
            aggs.append(
                F.coalesce(
                    F.sum(
                        (
                            F.col("`%s`" % cols[i]).isNull()
                            & F.col("`%s`" % cols[j]).isNull()
                        ).cast("long")
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("__b%d_%d" % (i, j))
            )
    fan = F.array(
        *[
            F.struct(
                F.lit(cols[i]).alias("col_a"),
                F.lit(cols[j]).alias("col_b"),
                F.col("__u%d" % i).alias("a_null"),
                F.col("__u%d" % j).alias("b_null"),
                F.col("__b%d_%d" % (i, j)).alias("both_null"),
            )
            for i, j in pairs
        ]
    )
    return (
        df.agg(*aggs)
        .select(F.col("__n").alias("n"), F.explode(fan).alias("p"))
        .select(
            F.col("p.col_a").alias("col_a"),
            F.col("p.col_b").alias("col_b"),
            "n",
            F.col("p.a_null").alias("a_null"),
            F.col("p.b_null").alias("b_null"),
            F.col("p.both_null").alias("both_null"),
            F.expr(
                "CASE WHEN p.a_null + p.b_null - p.both_null > 0 THEN"
                " p.both_null * 10000L div"
                " (p.a_null + p.b_null - p.both_null) END"
            ).alias("jaccard_bp"),
        )
    )


def mutual_information(df: DataFrame, pairs) -> DataFrame:
    """Mutual information between column pairs — one row per ``(x, y)``
    pair: ``(col_x, col_y, n, h_x_bits, h_y_bits, h_xy_bits, mi_bits)``.

    MI quantifies what :func:`~evalidate_spark.operators.suggest.functional_dependencies`
    can only answer yes/no: ``mi ≈ h_y`` means x nearly determines y
    (a denormalized copy worth one FD rule), ``mi ≈ 0`` means independent.
    NULL is its own category on both axes — consistent with
    :func:`column_entropy`, so ``mutual_information(df, [(c, c)])`` degenerates
    to that column's entropy exactly.

    Via the identity ``MI = H(x) + H(y) − H(x,y)`` with every entropy from
    the ``(ln n − Σ c·ln c / n) / ln 2`` form over exact counts.  The
    marginal sums use the joint-row form ``Σ_x cx·ln cx = Σ_joint c·ln cx``
    with ``cx``/``cy`` attached by two window operators ON the tiny joint
    table, so the whole computation is ONE lineage chain per pair: one
    map-side-combined data shuffle (``groupBy(x, y)``), two windows and
    one 1-row aggregate over ≤ |X|·|Y| rows — the input data is PROVABLY
    scanned once (no branch ever re-derives the joint, unlike a
    marginals-by-re-aggregation shape that leans on fragile exchange
    reuse).  ``mi_bits`` clamps the tiny negative float residue of the
    identity to 0; all four entropies round to 6 dp."""
    pairs = list(pairs)
    if not pairs:
        raise ValueError("mutual_information needs at least one (x, y) pair")
    names = {f.name for f in df.schema.fields}
    ln2 = F.lit(0.6931471805599453)  # repr(math.log(2)), both engines

    outs: List[DataFrame] = []
    for x, y in pairs:
        for c in (x, y):
            if c not in names:
                raise ValueError(f"mutual_information: unknown column {c!r}")
        joint = df.groupBy(
            F.col("`%s`" % x).alias("__x"), F.col("`%s`" % y).alias("__y")
        ).agg(F.count(F.lit(1)).alias("__c"))
        cd = F.col("__c").cast("double")
        cx = F.sum("__c").over(Window.partitionBy("__x")).cast("double")
        cy = F.sum("__c").over(Window.partitionBy("__y")).cast("double")
        sums = joint.select(
            "__c",
            (cd * F.log(cd)).alias("__exy"),
            (cd * F.log(cx)).alias("__ex"),
            (cd * F.log(cy)).alias("__ey"),
        ).agg(
            F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("__n"),
            F.sum("__exy").alias("__sxy"),
            F.sum("__ex").alias("__sx"),
            F.sum("__ey").alias("__sy"),
        )
        nd = F.col("__n").cast("double")

        def h(s: str):
            return F.when(
                F.col("__n") > 0, (F.log(nd) - F.col(s) / nd) / ln2
            ).otherwise(F.lit(0.0))

        outs.append(
            sums.select(
                "__n", h("__sx").alias("__hx"), h("__sy").alias("__hy"),
                h("__sxy").alias("__hxy"),
            ).select(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col("__n").alias("n"),
                F.round("__hx", 6).alias("h_x_bits"),
                F.round("__hy", 6).alias("h_y_bits"),
                F.round("__hxy", 6).alias("h_xy_bits"),
                F.round(
                    F.greatest(
                        F.col("__hx") + F.col("__hy") - F.col("__hxy"),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("mi_bits"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


#: floor(log10(1 + 1/d) * 10000) for d = 1..9, precomputed driver-side so
#: both engines compare against IDENTICAL integer literals (no libm call
#: in either engine's expected side).
BENFORD_EXPECTED_BP = (3010, 1760, 1249, 969, 791, 669, 579, 511, 457)


def benford(
    df: DataFrame, columns: Sequence[str], scale: int = 2
) -> DataFrame:
    """First-significant-digit (Benford) audit of numeric columns — 9 rows
    per column, one per digit: ``(column, digit, n, share_bp,
    expected_bp)``.

    Naturally-generated multiplicative quantities (prices, populations,
    file sizes) follow ``P(d) = log10(1 + 1/d)``; fabricated, truncated, or
    uniformly-synthesized values don't — a cheap screen for "did a default
    value or a synthetic filler flood this column".  Compare ``share_bp``
    against ``expected_bp`` (both integer basis points).

    Digit extraction is EXACT and engine-neutral: values scale by
    ``10^scale`` (cover *scale* decimal places), round half-up to int64,
    and the digit is the first character of the INTEGER's decimal string —
    never ``log10``/float formatting, whose last-ulp behavior differs
    across engines.  Zero/NULL values are excluded (they have no leading
    digit); negatives contribute their magnitude.  All 9 digits always
    appear (zero-filled), so the output shape is fixed.  Plan per column:
    one map-side-combined 9-group aggregate, then literal-frame joins on
    ≤9 rows."""
    cols = list(columns)
    if not cols:
        raise ValueError("benford needs at least one column")
    names = {f.name for f in df.schema.fields}
    spark = df.sparkSession
    template = spark.range(1, 10).select(
        F.col("id").cast("int").alias("digit"),
        F.element_at(
            F.array(*[F.lit(v) for v in BENFORD_EXPECTED_BP]),
            F.col("id").cast("int"),
        )
        .cast("long")
        .alias("expected_bp"),
    )
    outs: List[DataFrame] = []
    for col in cols:
        if col not in names:
            raise ValueError(f"benford: unknown column {col!r}")
        v = F.round(
            F.abs(F.col("`%s`" % col).cast("double")) * F.lit(float(10 ** scale))
        ).cast("long")
        freq = (
            df.select(v.alias("__v"))
            .filter(F.col("__v").isNotNull() & (F.col("__v") > 0))
            .select(
                F.substring(F.col("__v").cast("string"), 1, 1)
                .cast("int")
                .alias("digit")
            )
            .groupBy("digit")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
        joined = template.join(freq, "digit", "left").select(
            F.lit(col).alias("column"),
            "digit",
            F.coalesce("__c", F.lit(0)).cast("long").alias("n"),
            "expected_bp",
        )
        total = F.sum("n").over(Window.partitionBy())  # ≤9 rows
        outs.append(
            joined.select(
                "column", "digit", "n", total.alias("__t"), "expected_bp"
            ).select(
                "column",
                "digit",
                "n",
                F.when(F.col("__t") == 0, F.lit(0).cast("long"))
                .otherwise(F.expr("n * 10000L div __t"))
                .alias("share_bp"),
                "expected_bp",
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def group_drift(
    df: DataFrame, group_col: str, value_col: str, top_k: int = 50
) -> DataFrame:
    """One-vs-corpus categorical drift per GROUP — for every value of
    *group_col* (a source, a shard, an ingest batch), PSI and total
    variation between that group's *value_col* distribution and the whole
    corpus: ``(<group_col>, n, psi_bp, tvd_bp)`` in integer basis points.

    This answers "WHICH source went bad" where :func:`drift_categorical`
    answers "did the table move": a single upstream feed flooding one
    category barely moves corpus-level PSI but lights up its own group
    row.  No baseline table is needed — the corpus itself is the
    reference, so it drops straight onto any partitioned ingest.

    Categories are the corpus-wide ``top_k`` by count (count-desc,
    value-asc tiebreak); the rest roll into ``__other__`` so the
    comparison space stays bounded at any cardinality.  NULL categories
    and NULL groups are excluded (each is a presence violation for the
    engine's rules — and a NULL group key would silently never join its
    own shares back, which both engines would "agree" on while computing
    the wrong number).

    Plan: ONE data shuffle — the map-side-combined ``groupBy(group,
    value)``; category totals, top-k (TakeOrdered), corpus shares, the
    group×category universe, and the per-group roll-up all derive from
    that tiny counts table (≤ groups × categories rows).  Same 9-dp share
    rounding / 1e-6 eps clamp / floor-bp arithmetic as
    :func:`drift_categorical`, mirrored by the oracle."""
    if top_k < 1:
        raise ValueError("group_drift: top_k must be >= 1")
    g = F.col("`%s`" % group_col)
    c = F.col("`%s`" % value_col).cast("string")
    gc = (
        df.filter(g.isNotNull() & c.isNotNull())
        .groupBy(g.alias("__g"), c.alias("cat"))
        .agg(F.count(F.lit(1)).alias("__c"))
        # the counts table is consumed TWICE with different downstream
        # partitionings (top-k pick, roll-up); lazy localCheckpoint pins
        # the tiny (groups × categories) result on executors so the DATA
        # is guaranteed scanned once — exchange reuse alone is fragile
        # across the branch shapes here (measured ~2× scan without it)
        .localCheckpoint(eager=False)
    )
    top = _top_categories(
        gc.groupBy("cat").agg(F.sum("__c").alias("__tc")), "__tc", top_k
    )
    rolled = (
        gc.join(F.broadcast(top), "cat", "left")
        .select(
            "__g",
            F.when(F.col("__keep"), F.col("cat"))
            .otherwise(F.lit("__other__"))
            .alias("cat"),
            "__c",
        )
        .groupBy("__g", "cat")
        .agg(F.sum("__c").alias("__c"))
    )
    wg = Window.partitionBy("__g")
    pg = rolled.select(
        "__g",
        "cat",
        F.round(F.col("__c") / F.sum("__c").over(wg), 9).alias("__pg"),
        F.sum("__c").over(wg).alias("__n"),
    )
    corpus = rolled.groupBy("cat").agg(F.sum("__c").alias("__c"))
    pc = corpus.select(
        "cat",
        F.round(
            F.col("__c") / F.sum("__c").over(Window.partitionBy()), 9
        ).alias("__pc"),
    )
    uni = (
        pg.select("__g", "__n").distinct().crossJoin(F.broadcast(pc))
    )
    j = uni.join(
        pg.select("__g", "cat", "__pg"), ["__g", "cat"], "left"
    ).select(
        "__g",
        "__n",
        F.coalesce("__pg", F.lit(0.0)).alias("__pg"),
        "__pc",
    )
    return (
        j.groupBy("__g")
        .agg(
            F.max("__n").cast("long").alias("n"),
            *_psi_tvd_bp(F.col("__pg"), F.col("__pc")),
        )
        .withColumnRenamed("__g", group_col)
    )


def hotkey_state(
    df: DataFrame,
    columns: Sequence[str],
    increment: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
    candidates: int = 16,
) -> DataFrame:
    """Mergeable heavy-hitter state per ingest increment — the
    frequent-items member of the state family (profile→HLL,
    quantiles→KLL, overlap→Theta, hot keys→Count-Min): per column, one
    row ``(increment, column, n_values, sketch, candidates)`` where
    ``sketch`` is Spark's Count-Min sketch binary (mergeable by
    construction when (eps, confidence, seed) match — pinned here so
    every increment's sketch is fold-compatible forever) and
    ``candidates`` are the increment's EXACT top-``candidates`` keys.

    Candidate guarantee (pigeonhole, be honest about its edge): a key
    with global share ``s`` has share ≥ s in at least one increment, so
    it reaches that increment's candidate list whenever its local rank
    there is ≤ *candidates* — guaranteed for ``s > 1/(candidates+1)``,
    heuristic below that.  Size *candidates* ≥ the deepest global rank
    you intend to trust from :func:`merge_hotkey_states`.

    Keys sketch as strings (cast) so any type folds uniformly; NULLs are
    excluded (presence rules own them).  :func:`merge_hotkey_states`
    folds any subset of increments into global top-k WITHOUT rescanning
    data — the "did a hot key emerge across the last N ingests" question
    at 10^12 rows for O(increments × columns) state rows.

    Plan: TWO data scans total regardless of column count — one global
    aggregate computes every column's sketch + count, and one
    posexplode projection feeds all columns' exact key counts
    (map-side-combined) with a per-column window top-k (parallelism =
    #columns on the tiny distinct-key table)."""
    cols = list(columns)
    if not cols:
        raise ValueError("hotkey_state needs at least one column")
    names = {f.name for f in df.schema.fields}
    for col in cols:
        if col not in names:
            raise ValueError(f"hotkey_state: unknown column {col!r}")
    keyed = [F.col("`%s`" % c).cast("string").alias("__k%d" % i)
             for i, c in enumerate(cols)]
    base = df.select(*keyed)
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.count("__k%d" % i).cast("long").alias("__n%d" % i))
        aggs.append(
            F.count_min_sketch(
                "__k%d" % i, F.lit(float(eps)), F.lit(float(confidence)),
                F.lit(int(seed)),
            ).alias("__s%d" % i)
        )
    sk = base.agg(*aggs).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col("__n%d" % i).alias("n_values"),
                        F.col("__s%d" % i).alias("sketch"),
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("r")
    ).select("r.*")
    long = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("column"),
                             F.col("__k%d" % i).alias("__k"))
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("r")
    ).select("r.*").filter(F.col("__k").isNotNull())
    wc = Window.partitionBy("column").orderBy(
        F.col("__c").desc(), F.col("__k").asc()
    )
    cand = (
        long.groupBy("column", "__k")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select("column", "__k", F.row_number().over(wc).alias("__r"))
        .filter(F.col("__r") <= int(candidates))
        .groupBy("column")
        .agg(F.sort_array(F.collect_list(F.struct("__r", "__k"))).alias("__cs"))
        .select(
            "column",
            F.transform("__cs", lambda s: s["__k"]).alias("candidates"),
        )
    )
    return sk.join(cand, "column", "left").select(
        F.lit(increment).alias("increment"),
        "column",
        "n_values",
        "sketch",
        F.coalesce("candidates", F.array().cast("array<string>")).alias(
            "candidates"
        ),
    )


def merge_hotkey_states(
    spark, states: DataFrame, top_k: int = 10
) -> DataFrame:
    """Global top-k hot keys folded from :func:`hotkey_state` rows —
    ``(column, key, est_count, n_values, share_bp)`` — no data rescan.

    The O(increments × columns) state rows are collected (bounded by
    construction, like the KLL rank-probe envelope) and folded through
    Spark's own JVM ``CountMinSketch.mergeInPlace`` — never a Python
    re-implementation of the sketch's hashing, so estimates are
    bit-identical to a single whole-data sketch.  Every increment's
    candidate keys are point-queried against the merged sketch; the
    winner set is deterministic (estimate-desc, key-asc).  Count-Min
    never underestimates: ``est_count >= true count``, within
    ``eps · total`` with the configured confidence."""
    rows = states.collect()
    if not rows:
        raise ValueError("merge_hotkey_states: no state rows")
    by_col: Dict[str, list] = {}
    for r in rows:
        by_col.setdefault(r["column"], []).append(r)
    jcms_cls = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    out = []
    for col in sorted(by_col):
        merged = None
        total = 0
        cands: set = set()
        for r in by_col[col]:
            sk = jcms_cls.readFrom(bytes(r["sketch"]))
            merged = sk if merged is None else merged.mergeInPlace(sk)
            total += int(r["n_values"])
            cands.update(r["candidates"] or [])
        scored = sorted(
            ((int(merged.estimateCount(c)), c) for c in cands),
            key=lambda t: (-t[0], t[1]),
        )[: int(top_k)]
        for est, key in scored:
            out.append(
                (
                    col,
                    key,
                    est,
                    total,
                    (est * 10000) // total if total > 0 else 0,
                )
            )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("column", T.StringType()),
            T.StructField("key", T.StringType()),
            T.StructField("est_count", T.LongType()),
            T.StructField("n_values", T.LongType()),
            T.StructField("share_bp", T.LongType()),
        ]
    )
    return spark.createDataFrame(out, schema)


def cardinality_check(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Relationship-cardinality audit between a child (fact) and parent
    (dimension) table — ONE summary row: ``(parents, children,
    matched_parents, childless_parents, orphan_children, min_children,
    max_children)``.

    :func:`referential_violations` lists the dangling rows; this answers
    the SHAPE questions a relationship rule needs: how many parents have
    no children at all (dropped partition upstream?), how many child rows
    point nowhere, and how skewed the fan-out is (``max_children``
    exploding is the hot-key precursor the skew report then names).

    Parent side is deduped by key (key multiplicity is
    ``uniqueness_violations``' job); NULL keys never join in either
    engine, so a NULL-key child group counts as orphans and a NULL parent
    key as childless — the same contract SQL's own equality gives, made
    explicit.  ``min_children``/``max_children`` are over matched parents
    only (0 when none match).

    Plan: one map-side-combined groupBy per side (counts, not rows, meet
    at the join), a full-outer join of the two KEY tables (≤ distinct
    keys each — AQE picks broadcast when one side is small), one 1-row
    aggregate.  Child data and parent data are each scanned once."""
    ck = F.col("`%s`" % child_key)
    pk = F.col("`%s`" % parent_key)
    cg = child.groupBy(ck.alias("__k")).agg(
        F.count(F.lit(1)).alias("__cc")
    )
    pg = parent.groupBy(pk.alias("__k")).agg(F.count(F.lit(1)).alias("__pc"))
    j = pg.join(cg, "__k", "full_outer").select(
        F.col("__pc").isNotNull().alias("__is_p"),
        F.col("__cc").isNotNull().alias("__is_c"),
        F.coalesce("__cc", F.lit(0)).alias("__cc"),
    )
    matched = F.col("__is_p") & F.col("__is_c")
    return j.agg(
        F.coalesce(F.sum(F.col("__is_p").cast("long")), F.lit(0))
        .cast("long")
        .alias("parents"),
        F.coalesce(F.sum("__cc"), F.lit(0)).cast("long").alias("children"),
        F.coalesce(F.sum(matched.cast("long")), F.lit(0))
        .cast("long")
        .alias("matched_parents"),
        F.coalesce(
            F.sum((F.col("__is_p") & ~F.col("__is_c")).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("childless_parents"),
        F.coalesce(
            F.sum(F.when(~F.col("__is_p"), F.col("__cc"))), F.lit(0)
        )
        .cast("long")
        .alias("orphan_children"),
        F.coalesce(F.min(F.when(matched, F.col("__cc"))), F.lit(0))
        .cast("long")
        .alias("min_children"),
        F.coalesce(F.max(F.when(matched, F.col("__cc"))), F.lit(0))
        .cast("long")
        .alias("max_children"),
    )


def _theta_key(df: DataFrame, key_col: str):
    """Column expression theta_sketch_agg accepts for *key_col* —
    int/long/string/binary pass through, small ints widen, everything
    else folds as its string form (same contract as overlap_estimate)."""
    qc = F.col("`%s`" % key_col)
    t = dict((f.name, f.dataType.typeName()) for f in df.schema.fields).get(
        key_col
    )
    if t in ("integer", "long", "string", "binary"):
        return qc
    if t in ("byte", "short"):
        return qc.cast("int")
    return qc.cast("string")


def uniqueness_state(
    df: DataFrame, columns: Sequence[str], increment: str, lg_k: int = 12
) -> DataFrame:
    """Mergeable cross-increment uniqueness state — per column, one row
    ``(increment, column, n_values, sketch)`` where ``sketch`` is a
    DataSketches Theta sketch of the column's non-NULL key set.

    :func:`merge_uniqueness_states` answers "did this ingest
    reintroduce keys earlier increments already had?" WITHOUT rescanning
    or joining any completed increment: ``Σ per-unit distinct − |union|``
    counts every key's extra unit appearances.  Theta estimates are
    EXACT below the sketch's retention (2^lg_k keys) and within ~1.6%
    RSE beyond — the same exact-at-gate-scale / estimate-at-10^12 split
    as :func:`overlap_estimate`.  One single-pass aggregate per call
    computes every column's sketch (one data scan total)."""
    cols = list(columns)
    if not cols:
        raise ValueError("uniqueness_state needs at least one column")
    names = {f.name for f in df.schema.fields}
    aggs = []
    for i, c in enumerate(cols):
        if c not in names:
            raise ValueError(f"uniqueness_state: unknown column {c!r}")
        k = _theta_key(df, c)
        aggs.append(F.count(k).cast("long").alias("__n%d" % i))
        aggs.append(
            F.theta_sketch_agg(k, F.lit(int(lg_k))).alias("__s%d" % i)
        )
    return (
        df.agg(*aggs)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col("__n%d" % i).alias("n_values"),
                            F.col("__s%d" % i).alias("sketch"),
                        )
                        for i, c in enumerate(cols)
                    ]
                )
            ).alias("r")
        )
        .select(F.lit(increment).alias("increment"), "r.*")
    )


def merge_uniqueness_states(states: DataFrame, lg_k: int = 12) -> DataFrame:
    """Cross-increment uniqueness summary folded from
    :func:`uniqueness_state` rows — per column: ``(column, n_values,
    sum_unit_distinct, union_distinct, cross_unit_keys)`` where
    ``cross_unit_keys = Σ per-unit distinct − |union of all units|`` —
    0 means every increment brought only unseen keys; each repeat
    appearance of a key in a further unit adds 1.

    Pure DataFrame fold: one ``theta_union_agg`` + sums over the
    O(increments × columns) state table — no driver-side sketch
    handling, no data rescan."""
    return (
        states.groupBy("column")
        .agg(
            F.sum("n_values").cast("long").alias("n_values"),
            F.sum(F.theta_sketch_estimate(F.col("sketch")))
            .cast("long")
            .alias("sum_unit_distinct"),
            F.theta_sketch_estimate(
                F.theta_union_agg(F.col("sketch"), F.lit(int(lg_k)))
            )
            .cast("long")
            .alias("union_distinct"),
        )
        .select(
            "column",
            "n_values",
            "sum_unit_distinct",
            "union_distinct",
            (F.col("sum_unit_distinct") - F.col("union_distinct"))
            .cast("long")
            .alias("cross_unit_keys"),
        )
    )


def freshness(
    df: DataFrame,
    ts_col: str,
    as_of: str,
    max_lag_hours: float = 24.0,
) -> DataFrame:
    """Table freshness check (the Deequ/Soda "is data arriving?" probe):
    one row ``(max_ts_s, lag_s, fresh)`` where ``max_ts_s`` is the newest
    event's epoch seconds, ``lag_s`` its distance behind *as_of* (an
    explicit ``'YYYY-MM-DD HH:MM:SS'`` wall-clock instant — passed in, so
    runs are reproducible and replayable; never the engine's clock), and
    ``fresh`` whether the lag is within *max_lag_hours*.  NULL timestamps
    are ignored; an all-NULL or empty table reports NULL ``max_ts_s`` and
    ``fresh = false`` (no data is stale data).

    Single ``max()`` aggregate — partial-combined, one sketch-sized row
    per partition, no full shuffle at any scale.  TIMESTAMP_NTZ and
    TIMESTAMP both read as wall-clock-UTC (the sessionization convention,
    :mod:`~evalidate_spark.operators.sessions`)."""
    import re

    from .sessions import _micros

    if max_lag_hours <= 0:
        raise ValueError("max_lag_hours must be positive")
    if not re.fullmatch(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}", as_of):
        raise ValueError("as_of must be 'YYYY-MM-DD HH:MM:SS'")
    # NTZ literal arithmetic: wall-clock-UTC seconds, independent of the
    # session timezone on BOTH the literal and the column side
    as_of_s = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
        "TIMESTAMP_NTZ'%s')" % as_of
    )
    mx = F.floor(_micros(df, ts_col) / F.lit(1000000)).cast("long")
    lag = as_of_s - F.col("max_ts_s")
    return (
        df.agg(F.max(mx).alias("max_ts_s"))
        .select(
            "max_ts_s",
            lag.cast("long").alias("lag_s"),
            F.coalesce(
                lag <= F.lit(int(max_lag_hours * 3600)), F.lit(False)
            ).alias("fresh"),
        )
    )


def violation_examples(
    violations: DataFrame,
    per_rule: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic triage sample: for every ``rule_id`` in a violations
    table, keep *per_rule* example rows chosen by md5-hash rank of the
    violating id — the "show me a few failing rows per rule" view every
    DQ dashboard needs.  Hash rank (not first-N) makes the examples a
    spread over the id space, identical across runs, partitionings, and
    ties are broken by the remaining columns so the pick is
    total and deterministic even for NULL ids.

    One window partitioned by ``rule_id``: a rule with millions of
    violations streams through rank and keeps *per_rule* rows — the
    output is O(#rules × per_rule) however bad the data is."""
    if per_rule < 1:
        raise ValueError("per_rule must be positive")
    key = F.md5(
        F.concat(F.lit("ex:"), F.coalesce(F.col("`%s`" % id_col).cast("string"), F.lit("")))
    )
    rest = [
        F.col("`%s`" % c).asc_nulls_last()
        for c in violations.columns
        if c not in (id_col, "rule_id")
    ]
    rn = F.row_number().over(
        Window.partitionBy("rule_id").orderBy(
            key, F.col("`%s`" % id_col).asc_nulls_last(), *rest
        )
    )
    return (
        violations.withColumn("__rn", rn)
        .filter(F.col("__rn") <= per_rule)
        .drop("__rn")
    )


_HEALTH_TREND = (
    "n_rows", "n_null_vec", "n_wrong_dim", "n_null_elem", "n_nonfinite",
    "n_zero_norm", "n_valid",
)


def vector_health_aggs(v: Column, expected_dim: int) -> List[Column]:
    """The vector-health family's integer counters over vector column *v*:
    ``n_rows, n_null_vec, n_empty_vec, n_wrong_dim, min_dim, max_dim,
    n_null_elem, n_nonfinite, n_zero_norm, n_valid`` (``n_valid``: the
    ``similarity._vec_ok`` scoring contract).  Read by
    :func:`embedding_health`, :func:`embedding_health_trend` and
    ``streaming.vector_health_stream``; a counter no consumer selects is
    pruned from the aggregate by the optimizer."""
    from ..functions.similarity import _vec_ok

    dim = F.size(v)

    def cnt(cond: Column, name: str) -> Column:
        return F.coalesce(
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
        ).cast("long").alias(name)

    zero = F.lit(0.0)
    inf = F.lit(float("inf"))
    return [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        cnt(v.isNull(), "n_null_vec"),
        cnt(dim == 0, "n_empty_vec"),
        cnt(v.isNotNull() & (dim != F.lit(expected_dim)), "n_wrong_dim"),
        F.min(dim).cast("long").alias("min_dim"),
        F.max(dim).cast("long").alias("max_dim"),
        cnt(
            F.coalesce(F.exists(v, lambda x: x.isNull()), F.lit(False)),
            "n_null_elem",
        ),
        cnt(
            F.coalesce(
                F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == inf)),
                F.lit(False),
            ),
            "n_nonfinite",
        ),
        cnt(
            (dim > 0) & F.coalesce(F.forall(v, lambda x: x == zero), F.lit(False)),
            "n_zero_norm",
        ),
        cnt(_vec_ok(v, expected_dim), "n_valid"),
    ]


def vector_health_rows(agg_df: DataFrame, keep: Sequence[str] = ()) -> DataFrame:
    """The per-wave / per-window health report: the *keep* columns, then
    ``n_rows, n_null_vec, n_wrong_dim, n_null_elem, n_nonfinite,
    n_zero_norm, n_valid``."""
    return agg_df.select(*keep, *_HEALTH_TREND)


def embedding_health(
    df: DataFrame,
    vec_col: str = "embedding",
    expected_dim: int = 0,
) -> DataFrame:
    """Embedding-column health report — ONE row of integer counters:

    ``n_rows, n_null_vec, n_empty_vec, n_wrong_dim, min_dim, max_dim,
    n_null_elem, n_nonfinite, n_zero_norm``

    The validation probe a vector corpus needs before any similarity /
    dedup / ANN stage runs (a single NaN poisons every dot product it
    touches; a wrong-width vector crashes a blocked matmul; zero vectors
    make cosine undefined):

    * ``n_null_vec`` / ``n_empty_vec`` — NULL column vs zero-length array.
    * ``n_wrong_dim`` — non-NULL vectors whose length ≠ *expected_dim*
      (the model's known output width — passed in, never inferred, so the
      check is reproducible and a corrupted majority can't vote itself
      healthy).
    * ``min_dim`` / ``max_dim`` — observed width envelope (NULL vectors
      excluded; NULL on an all-NULL table).
    * ``n_null_elem`` — vectors containing a NULL element.
    * ``n_nonfinite`` — vectors containing NaN or ±Inf.
    * ``n_zero_norm`` — non-empty all-zero vectors (cosine undefined; the
      similarity operators score them 0.0 by contract).  A vector of
      zeros-and-NULLs is NOT zero-norm — it is counted in
      ``n_null_elem``.

    All counters are conditional sums in ONE aggregate: partial-combined
    map-side, so only one counter row per partition moves — the vectors
    themselves never shuffle at any scale.  Every output is an integer
    (bit-stable cross-engine; no float summaries)."""
    if expected_dim <= 0:
        raise ValueError("expected_dim must be a positive int")
    aggs = vector_health_aggs(F.col("`%s`" % vec_col), expected_dim)
    return df.agg(*aggs).drop("n_valid")


def embedding_health_trend(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    expected_dim: int = 0,
    n_waves: int = 5,
) -> DataFrame:
    """Per-ingest-wave :func:`embedding_health` — the WHEN to the global
    report's WHAT: rows slice into *n_waves* equal id-ranges (the ingest
    proxy :func:`_waves`, shared with ``similarity.embedding_drift`` and
    ``dedup.novelty_trend``) and each wave reports the same integer
    counters plus ``n_valid`` (vectors passing the full scoring
    contract: non-NULL, exactly *expected_dim* wide, every element
    finite).  A NaN burst confined to one wave is an encoder deploy; a
    rising ``n_wrong_dim`` tail is a model-version mix — the global
    one-row report cannot distinguish either from background noise.

    Rows with NULL id cannot be placed on the ingest axis and are
    excluded (the global report owns them).  One fused projection into
    ONE groupBy on the wave key — counters partial-combine map-side, so
    n_waves rows of int64 move and the vectors themselves never
    shuffle.  All outputs are integers (bit-stable cross-engine)."""
    if expected_dim <= 0:
        raise ValueError("expected_dim must be a positive int")
    if n_waves < 1:
        raise ValueError("n_waves must be >= 1")
    ic, v = F.col("`%s`" % id_col), F.col("`%s`" % vec_col)
    base = df.filter(ic.isNotNull()).select(ic.alias("__id"), v.alias("__v"))
    waved = _waves(base, n_waves).select(F.col("__w").alias("wave"), "__v")
    aggs = vector_health_aggs(F.col("__v"), expected_dim)
    return vector_health_rows(waved.groupBy("wave").agg(*aggs), keep=("wave",)).orderBy(
        "wave"
    )


def rate_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    spike_bp: int = 10000,
    drop_bp: int = 5000,
) -> DataFrame:
    """Event-rate anomaly per fixed time bucket — the "did a feed stall
    or flood?" probe: one row per *bucket_s*-second window with
    ``(bucket_s, n_events, rate_bp, spike, drop)`` where ``rate_bp`` is
    this window's volume vs the MEAN of all OTHER windows in integer
    basis points (10000 = equal), ``spike`` fires at
    ``>= 10000 + spike_bp`` and ``drop`` at ``<= 10000 - drop_bp``.

    Bucketing is pure integer epoch math (``epoch_s − epoch_s mod
    bucket_s``) — no calendar truncation, no session-timezone
    dependence (the sessionization convention).  NULL timestamps are
    excluded.  A single-bucket table has no "others": NULL ``rate_bp``,
    flags false.

    Plan: one map-side-combined count per bucket (the only shuffle, on
    O(time-range / bucket_s) keys), then a broadcast crossJoin with its
    own 1-row totals — the :func:`profile_anomalies` shape; integer
    ``div`` arithmetic throughout so any SQL engine replays it
    bit-for-bit."""
    from .sessions import _micros

    if bucket_s <= 0:
        raise ValueError("bucket_s must be positive")
    if spike_bp <= 0 or not (0 < drop_bp <= 10000):
        raise ValueError("spike_bp must be > 0 and drop_bp in (0, 10000]")
    epoch_s = F.floor(_micros(df, ts_col) / F.lit(1000000)).cast("long")
    bucket = (epoch_s - F.pmod(epoch_s, F.lit(bucket_s))).cast("long")
    counts = (
        df.filter(F.col("`%s`" % ts_col).isNotNull())
        .groupBy(bucket.alias("bucket_s"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    return rate_from_counts(counts, spike_bp=spike_bp, drop_bp=drop_bp)


def rate_from_counts(
    counts: DataFrame, spike_bp: int = 10000, drop_bp: int = 5000
) -> DataFrame:
    """The anomaly math of :func:`rate_anomalies` over an already-counted
    ``(bucket_s, n_events)`` table — shared with the streaming twin
    (:func:`evalidate_spark.streaming.rate_stream` emits exactly this
    shape), because "vs all OTHER windows" is a whole-history aggregate,
    not per-window stream state."""
    tot = counts.agg(
        F.sum("n_events").alias("__tn"), F.count(F.lit(1)).alias("__k")
    )
    rate_bp = F.when(
        (F.col("__k") > 1) & (F.col("__tn") - F.col("n_events") > 0),
        F.expr(
            "n_events * (__k - 1) * 10000L div greatest(__tn - n_events, 1L)"
        ),
    ).cast("long")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bucket_s",
            "n_events",
            rate_bp.alias("rate_bp"),
            F.coalesce(
                rate_bp >= F.lit(10000 + spike_bp), F.lit(False)
            ).alias("spike"),
            F.coalesce(
                rate_bp <= F.lit(10000 - drop_bp), F.lit(False)
            ).alias("drop"),
        )
    )


def group_completeness(
    df: DataFrame,
    group_col: str,
    columns: Sequence[str],
    jump_bp: int = 500,
) -> DataFrame:
    """Per-group column completeness — WHICH feed is missing fields: one
    row per (group, column) with ``(group, column, n_rows, n_nulls,
    null_bp, base_null_bp, null_anomaly)`` where ``null_bp`` is the
    group's null rate in integer basis points, ``base_null_bp`` the
    pooled rate of all OTHER groups, and ``null_anomaly`` fires when the
    jump reaches *jump_bp*.

    The group-resolved sibling of :func:`profile_anomalies`' null check
    (which compares ingest increments): a single source emitting NULLs
    barely moves the corpus null rate but lights up its own row here.
    NULL group keys are excluded, like :func:`group_drift` (a NULL key
    would never join its own baseline back).  A single-group table has
    no others: NULL ``base_null_bp``, never flagged.

    Plan: ONE data shuffle — the map-side-combined ``groupBy(group)``
    carrying all k null counters as conditional sums; the long-format
    explode and the broadcast totals crossJoin run on the tiny
    O(groups) table.  Integer ``div`` bp math throughout."""
    if not columns:
        raise ValueError("group_completeness needs at least one column")
    if jump_bp <= 0:
        raise ValueError("jump_bp must be positive")
    g = F.col("`%s`" % group_col)
    per = (
        df.filter(g.isNotNull())
        .groupBy(g.alias("__g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            *[
                F.sum(
                    F.when(F.col("`%s`" % c).isNull(), 1).otherwise(0)
                ).cast("long").alias("__nulls_%s" % c)
                for c in columns
            ],
        )
        # the tiny O(groups) counts table feeds BOTH the totals row and
        # the per-group side of the crossJoin: pin it (lazy) so the data
        # is guaranteed scanned once — the group_drift lesson
        .localCheckpoint(eager=False)
    )
    tot = per.agg(
        F.sum("__n").alias("__tn"),
        *[
            F.sum("`__nulls_%s`" % c).alias("__tnulls_%s" % c)
            for c in columns
        ],
    )
    parts = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("`__nulls_%s`" % c).alias("__nulls"),
                F.col("`__tnulls_%s`" % c).alias("__tnulls"),
            )
            for c in columns
        ]
    )
    e = (
        per.crossJoin(F.broadcast(tot))
        .select(F.col("__g"), F.col("__n"), F.col("__tn"), F.explode(parts).alias("s"))
        .select("__g", "__n", "__tn", "s.*")
    )
    null_bp = F.expr("__nulls * 10000L div greatest(__n, 1L)").cast("long")
    base_bp = F.when(
        F.col("__tn") - F.col("__n") > 0,
        F.expr("(__tnulls - __nulls) * 10000L div greatest(__tn - __n, 1L)"),
    ).cast("long")
    return e.select(
        F.col("__g").alias(group_col),
        "column",
        F.col("__n").alias("n_rows"),
        F.col("__nulls").alias("n_nulls"),
        null_bp.alias("null_bp"),
        base_bp.alias("base_null_bp"),
        F.coalesce(null_bp - base_bp >= F.lit(jump_bp), F.lit(False)).alias(
            "null_anomaly"
        ),
    )


# value-shape mapping, applied in this exact order (each step is a
# single-char class so the composition is engine-portable: no
# backreferences, no lookarounds — the RE2 rule):
#   digits→9, a-z→a, A-Z→A, anything outside printable ASCII→u,
#   then each class run collapses to '<c>+'; punctuation and space
#   survive verbatim.  '[^ -~]' = NOT space..tilde.
_SHAPE_STEPS: Sequence = (
    ("[0-9]", "9"), ("[a-z]", "a"), ("[A-Z]", "A"), ("[^ -~]", "u"),
    ("9{2,}", "9+"), ("a{2,}", "a+"), ("A{2,}", "A+"), ("u{2,}", "u+"),
)
_SHAPE_MAXLEN = 32


def value_shapes(
    df: DataFrame, columns: Sequence[str], top_k: int = 10
) -> DataFrame:
    """Value-pattern profile — the "what does this column actually look
    like" discovery check (the profiler view that surfaces mixed id
    formats, stray timestamps in a code column, mojibake): per column the
    *top_k* shape classes with ``(column, shape, n, share_bp)``.

    A value's *shape* maps digits→``9``, lowercase→``a``, uppercase→``A``,
    non-printable-ASCII→``u``, collapses each run to ``<c>+``, keeps
    punctuation/space verbatim, and caps at 32 chars — so
    ``'src7'``→``'a+9'``, ``'2024-01-01'``→``'9+-9+-9+'``,
    ``'Ã©'``→``'u+'``.  NULL→``'<null>'``, ``''``→``'<empty>'`` (both are
    real shape classes: completeness shows up in the same view).
    ``share_bp`` is the class share of ALL rows, integer basis points.
    String columns only — cast formatting of numerics is engine-specific.

    Plan: one scan fanning each row into k (column, shape) pairs via a
    single ``explode`` (partial aggregation combines map-side in the same
    stage), one groupBy on the tiny (column × shapes) space, then top-k
    + shares via windows over that result — O(columns × distinct shapes)
    rows ever shuffle.  Ordering tie-break: count desc, shape asc."""
    if not columns:
        raise ValueError("value_shapes needs at least one column")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")

    def shape(c: str) -> Column:
        s = F.col("`%s`" % c).cast("string")
        for pat, rep in _SHAPE_STEPS:
            s = F.regexp_replace(s, pat, rep)
        s = F.substring(s, 1, _SHAPE_MAXLEN)
        return (
            F.when(F.col("`%s`" % c).isNull(), F.lit("<null>"))
            .when(s == "", F.lit("<empty>"))
            .otherwise(s)
        )

    pairs = F.explode(
        F.array(
            *[
                F.struct(F.lit(c).alias("column"), shape(c).alias("shape"))
                for c in columns
            ]
        )
    )
    counts = (
        df.select(pairs.alias("s"))
        .select("s.*")
        .groupBy("column", "shape")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("column")
    rn = F.row_number().over(
        w.orderBy(F.col("n").desc(), F.col("shape").asc())
    )
    total = F.sum("n").over(w)
    return (
        counts.select(
            "column",
            "shape",
            "n",
            F.expr("n * 10000L").cast("long").alias("__nbp"),
            total.alias("__t"),
            rn.alias("__rn"),
        )
        .filter(F.col("__rn") <= top_k)
        .select(
            "column",
            "shape",
            "n",
            F.expr("__nbp div greatest(__t, 1L)").cast("long").alias("share_bp"),
        )
    )


def k_anonymity(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination — the
    privacy gate a training corpus passes before release: one row
    ``(n_rows, n_groups, min_group_size, n_small_groups,
    n_rows_at_risk, k_anonymous)`` where a *group* is one distinct
    combination of *quasi_cols* values and "small" means fewer than *k*
    members (re-identifiable).  Rows with a NULL in ANY quasi column
    form their own NULL-combination groups (SQL GROUP BY semantics —
    NULL is a visible value to an attacker, not an exemption).

    Plan: one map-side-combined ``groupBy(quasi_cols)`` count (the only
    data shuffle), then a single aggregate over the O(groups) counts
    table.  All-integer output."""
    if not quasi_cols:
        raise ValueError("k_anonymity needs at least one quasi column")
    if k < 2:
        raise ValueError("k must be >= 2")
    groups = df.groupBy(
        *[F.col("`%s`" % c) for c in quasi_cols]
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    small = F.col("__n") < k
    return groups.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("__n").cast("long").alias("min_group_size"),
        F.coalesce(F.sum(F.when(small, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_small_groups"),
        F.coalesce(F.sum(F.when(small, F.col("__n")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_rows_at_risk"),
    ).select(
        "*",
        (F.col("n_small_groups") == 0).alias("k_anonymous"),
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """l-diversity audit — the follow-up question k-anonymity can't
    answer: a group of 50 identical quasi-identifiers is still a leak if
    all 50 share ONE sensitive value (an attacker who places a person in
    the group learns the attribute without re-identifying the row).
    Each quasi-identifier group must contain at least *l* DISTINCT
    sensitive values.

    Output: one row — ``(n_groups, min_distinct_sensitive,
    n_undiverse_groups, n_rows_at_risk, l_diverse)`` where an
    "undiverse" group has fewer than *l* distinct non-NULL sensitive
    values and ``n_rows_at_risk`` counts its member rows.  NULLs in
    quasi columns form visible groups (same contract as
    :func:`k_anonymity`); a NULL sensitive value is NOT a disclosed
    value and does not count toward diversity.

    Plan: one exact ``count_distinct(sensitive)`` groupBy on the quasi
    combination — the same single data shuffle as :func:`k_anonymity`
    (distinct-inside-group adds a partial-dedup pass, still map-side
    combined) — then one aggregate over the O(groups) table."""
    if not quasi_cols:
        raise ValueError("l_diversity needs at least one quasi column")
    if l < 2:
        raise ValueError("l must be >= 2")
    groups = df.groupBy(*[F.col("`%s`" % c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.countDistinct(F.col("`%s`" % sensitive_col))
        .cast("long")
        .alias("__d"),
    )
    bad = F.col("__d") < l
    return groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("__d").cast("long").alias("min_distinct_sensitive"),
        F.coalesce(F.sum(F.when(bad, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_undiverse_groups"),
        F.coalesce(F.sum(F.when(bad, F.col("__n")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_rows_at_risk"),
    ).select(
        "*",
        (F.col("n_undiverse_groups") == 0).alias("l_diverse"),
    )


def column_fingerprints(
    df: DataFrame, columns: Optional[Sequence[str]] = None
) -> DataFrame:
    """Order-independent per-column content fingerprint — one row per
    column: ``(column, n_rows, n_nulls, fp_hi, fp_lo)`` where the pair
    ``(fp_hi, fp_lo)`` is the divmod-by-2^62 split of the exact decimal
    SUM over non-null rows of the 60-bit integer folded from
    ``md5(cast(value AS string))``.  Any cell changing, appearing, or
    disappearing moves the sum (a multiset commitment — unlike XOR, a
    pair of identical edits cannot cancel), so two table versions
    compare by k tiny rows instead of a full diff join, and the check
    is layout/partitioning-independent by construction.

    The sum is computed in decimal(38,0) internally (10^12 rows × 2^60
    with 7 digits to spare) but EMITTED as two int64s — the full sum
    exceeds int64 at even modest scale (~5.9e20 at sf0.01), and numbers
    past int64 render differently across engines' canonicalizers
    (HUGEINT vs Decimal vs float64 "%.6g"), so no >int64 numeric ever
    crosses an API or comparison boundary.  Both halves are
    non-negative and < 2^62, exactly representable everywhere.

    The states are MERGEABLE: recombine ``fp_hi*2^62 + fp_lo`` in
    decimal, add, re-split — :func:`merge_column_fingerprints` does
    exactly that, so per-increment fingerprints fold and never rescan
    history — the same stance as the HLL/KLL/Theta state families.
    md5 keeps the fingerprint replayable in any SQL engine (xxhash64
    has no DuckDB twin).

    Cross-engine replay holds for the DEFAULT column set — integer,
    decimal, string, boolean, date, timestamp — whose cast-to-string
    renderings engines agree on.  float/double and binary are EXCLUDED
    by default: Spark prints ``1.0E7`` where DuckDB prints
    ``10000000.0``, and binary→string is a charset gamble, so their
    fingerprints would differ across engines on identical data.  Pass
    them via *columns* explicitly to fingerprint them within ONE engine
    (the sums stay self-consistent and mergeable there).

    Plan: ONE partial+final aggregate over a single projection — no
    shuffle of the data, k fingerprints in one scan."""
    _excluded = (
        T.ArrayType,
        T.MapType,
        T.StructType,
        T.FloatType,
        T.DoubleType,
        T.BinaryType,
    )
    cols = list(columns) if columns is not None else [
        f.name for f in df.schema.fields
        if not isinstance(f.dataType, _excluded)
    ]
    if not cols:
        raise ValueError("column_fingerprints needs at least one column")
    names = {f.name for f in df.schema.fields}
    for c in cols:
        if c not in names:
            raise ValueError(f"column_fingerprints: unknown column {c!r}")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, c in enumerate(cols):
        v = F.col("`%s`" % c).cast("string")
        hv = F.conv(F.substring(F.md5(v), 1, 15), 16, 10).cast("decimal(38,0)")
        aggs.append(
            F.coalesce(F.sum(hv), F.lit(0).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("__fp%d" % i)
        )
        aggs.append(
            F.coalesce(F.sum(v.isNull().cast("long")), F.lit(0))
            .cast("long")
            .alias("__u%d" % i)
        )
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col("__u%d" % i).alias("n_nulls"),
            F.expr(
                "CAST(__fp%d div %d AS BIGINT)" % (i, _FP_BASE)
            ).alias("fp_hi"),
            F.expr(
                "CAST(__fp%d %% %d AS BIGINT)" % (i, _FP_BASE)
            ).alias("fp_lo"),
        )
        for i, c in enumerate(cols)
    ])
    return one.select(F.explode(rows).alias("r")).select("r.*")


#: Split base for the fingerprint sum: both divmod halves of a
#: decimal(38,0) sum of 60-bit folds over ≤10^12 rows stay < 2^62.
_FP_BASE = 1 << 62


def merge_column_fingerprints(states: DataFrame) -> DataFrame:
    """Fold per-increment :func:`column_fingerprints` states into the
    whole-corpus state: counters add, and the split fingerprints
    recombine as ``fp_hi*2^62 + fp_lo`` in exact decimal(38,0), add,
    and re-split — order-insensitive, no precision loss (each
    recombined value ≤ 10^12 × 2^60 ≈ 1.2e30, well inside 38 digits).
    O(increments × columns) rows in, O(columns) out — history data is
    never rescanned."""
    combined = (
        F.col("fp_hi").cast("decimal(38,0)")
        * F.lit(_FP_BASE).cast("decimal(38,0)")
        + F.col("fp_lo").cast("decimal(38,0)")
    )
    return (
        states.groupBy("column")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_nulls").cast("long").alias("n_nulls"),
            F.sum(combined).cast("decimal(38,0)").alias("__fp"),
        )
        .select(
            "column",
            "n_rows",
            "n_nulls",
            F.expr("CAST(__fp div %d AS BIGINT)" % _FP_BASE).alias("fp_hi"),
            F.expr("CAST(__fp %% %d AS BIGINT)" % _FP_BASE).alias("fp_lo"),
        )
    )


def inclusion_deps(pairs) -> DataFrame:
    """Inclusion-dependency discovery — the referential check turned into
    a MEASUREMENT: *pairs* is a sequence of ``(pair_label, child_df,
    child_col, parent_df, parent_col)`` candidates, and each output row
    reports how much of the child column's distinct value set is
    contained in the parent's::

        (pair, n_child_distinct, n_missing, containment_bp, fk_candidate)

    ``containment_bp = (nd - missing) * 10000 div nd`` in exact int64
    arithmetic (NULL when the child column has no non-NULL values);
    ``fk_candidate`` is true only at full containment — the pairs a
    schema-constraint miner would promote to a foreign-key rule and hand
    to :func:`referential_violations` for enforcement.  NULLs on either
    side are excluded (SQL FK semantics: a NULL reference is a presence
    question, not a referential one).

    Plan per pair: distinct on each side (map-side combined partial
    aggregates), one equi-join of the two DISTINCT sets — cardinality
    bounded by value cardinality, not row count, so a 10^12-row fact
    table joins at the size of its key space — then a 1-row count
    aggregate.  Pairs are independent branches unioned after their 1-row
    collapse; AQE schedules them in parallel under one action."""
    pairs = list(pairs)
    if not pairs:
        raise ValueError("inclusion_deps needs at least one candidate pair")
    outs = []
    for label, child, c_col, parent, p_col in pairs:
        c = F.col("`%s`" % c_col)
        p = F.col("`%s`" % p_col)
        cd = child.filter(c.isNotNull()).select(c.alias("__v")).distinct()
        pd_ = (
            parent.filter(p.isNotNull())
            .select(p.alias("__v"), F.lit(True).alias("__hit"))
            .distinct()
        )
        j = cd.join(pd_, "__v", "left")
        agg = j.agg(
            F.count(F.lit(1)).cast("long").alias("nd"),
            F.coalesce(F.sum(F.col("__hit").isNull().cast("long")), F.lit(0))
            .cast("long")
            .alias("missing"),
        )
        outs.append(
            agg.select(
                F.lit(str(label)).alias("pair"),
                F.col("nd").alias("n_child_distinct"),
                F.col("missing").alias("n_missing"),
                F.when(
                    F.col("nd") > 0,
                    F.expr("(nd - missing) * 10000L div nd").cast("long"),
                ).alias("containment_bp"),
                ((F.col("nd") > 0) & (F.col("missing") == 0)).alias(
                    "fk_candidate"
                ),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionAll(o)
    return result


def correlation_matrix(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlation over the numeric *columns* — the
    profiling companion to :func:`mutual_information` for LINEAR
    dependence: near-±1 pairs are redundant-column / derived-column
    signals a constraint miner should flag, near-0 pairs justify
    independence assumptions downstream.

    One row per unordered pair ``(col_x, col_y, n_pairs, corr_bp)`` with
    ``corr_bp = round(corr * 10000)`` as int64 — basis points make the
    result hash-stable across engines (a raw double corr inherits the
    sum's partition-order ulp noise).  Pairs use PAIRWISE deletion
    (rows where both sides are non-NULL), the standard profiler stance;
    ``corr_bp`` is NULL when a pair has <2 rows or a zero-variance side
    (division by zero is a non-answer, not a 0 correlation).

    Plan: ONE aggregate over the data computes all six raw moments
    (n, Σx, Σy, Σx², Σy², Σxy) for every pair — a single scan + 1-row
    map-side-combined agg whatever the row count; the O(C²) pair
    explosion happens on that single row.  The raw-moment formula is
    deliberate: it replays verbatim in any SQL engine, where a
    streaming one-pass ``corr()`` builtin does not."""
    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("correlation_matrix needs at least two columns")
    aggs = []
    pairs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            x = F.col("`%s`" % cols[i]).cast("double")
            y = F.col("`%s`" % cols[j]).cast("double")
            both = x.isNotNull() & y.isNotNull()
            xm = F.when(both, x)
            ym = F.when(both, y)
            p = len(pairs)
            aggs += [
                F.count(xm).alias("__n%d" % p),
                F.sum(xm).alias("__sx%d" % p),
                F.sum(ym).alias("__sy%d" % p),
                F.sum(xm * xm).alias("__sxx%d" % p),
                F.sum(ym * ym).alias("__syy%d" % p),
                F.sum(xm * ym).alias("__sxy%d" % p),
            ]
            pairs.append((cols[i], cols[j]))
    one = df.agg(*aggs)
    rows = []
    for p, (cx, cy) in enumerate(pairs):
        n = F.col("__n%d" % p).cast("double")
        sx, sy = F.col("__sx%d" % p), F.col("__sy%d" % p)
        sxx, syy = F.col("__sxx%d" % p), F.col("__syy%d" % p)
        sxy = F.col("__sxy%d" % p)
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        corr = (n * sxy - sx * sy) / F.sqrt(vx * vy)
        rows.append(
            F.struct(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                F.col("__n%d" % p).cast("long").alias("n_pairs"),
                F.when(
                    (n >= 2) & (vx > 0) & (vy > 0),
                    F.round(corr * 10000).cast("long"),
                ).alias("corr_bp"),
            )
        )
    return _unpivot(one, rows)


def verdict_agreement(
    df: DataFrame, flag_a: str = "flag_a", flag_b: str = "flag_b"
) -> DataFrame:
    """Agreement matrix + Cohen's kappa between two boolean verdict
    columns over the same rows — "how much do two rule versions (or two
    quality filters) agree, beyond chance?".

    ONE aggregate of four conditional counters (partial+final hash agg:
    a handful of longs per partition cross the wire, never data), then a
    1-row projection — no data shuffle at any scale.  NULL flags count
    as ``false`` (a validator that produced no verdict did not pass);
    the coalesce happens inside the aggregate so the contract is pinned
    here, not at the caller.

    Output (one row): ``n, both_pass, only_a, only_b, both_fail, po_bp``
    (observed agreement) and ``kappa_bp`` (chance-corrected, Cohen 1960:
    ``kappa = (n*(a+d) - E) / (n^2 - E)`` with
    ``E = (a+b)(a+c) + (c+d)(b+d)``).  Both rates are integer basis
    points via truncated integer division with the sign factored out
    (``sign * (10000*|num| div den)``), so Spark's ``div`` and any SQL
    engine's ``//`` agree even when kappa is negative (worse than
    chance).  ``kappa_bp`` is NULL when either rater is constant
    (``den == 0`` — kappa undefined).
    """
    fa = F.coalesce(F.col("`%s`" % flag_a), F.lit(False))
    fb = F.coalesce(F.col("`%s`" % flag_b), F.lit(False))
    cell = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    counts = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cell(fa & fb).alias("both_pass"),
        cell(fa & ~fb).alias("only_a"),
        cell(~fa & fb).alias("only_b"),
        cell(~fa & ~fb).alias("both_fail"),
    )
    n = F.col("n")
    a, b = F.col("both_pass"), F.col("only_a")
    c, d = F.col("only_b"), F.col("both_fail")
    e = (a + b) * (a + c) + (c + d) * (b + d)
    staged = counts.select(
        "*",
        (n * (a + d) - e).alias("__num"),
        (n * n - e).alias("__den"),
    )
    return staged.select(
        "n",
        "both_pass",
        "only_a",
        "only_b",
        "both_fail",
        F.when(n > 0, F.expr("(10000 * (both_pass + both_fail)) div n"))
        .cast("long")
        .alias("po_bp"),
        F.when(
            F.col("__den") != 0,
            F.when(F.col("__num") < 0, -1).otherwise(1)
            * F.expr("(10000 * abs(__num)) div __den"),
        )
        .cast("long")
        .alias("kappa_bp"),
    )


def rate_changepoints(
    df: DataFrame,
    ts_col: str = "ts",
    bucket_s: int = 86400,
    lookback: int = 3,
    shift_bp: int = 5000,
) -> DataFrame:
    """Mean-shift changepoint detection on the event rate — the
    "WHEN did the feed change?" complement of :func:`rate_anomalies`
    (which scores each window against the whole history, so a level
    shift lights up every window after it; this lights up only a
    *lookback*-sized neighborhood of the boundary, peaking AT it):
    bucket ``b`` compares the *lookback* buckets ENDING at
    ``b-1`` against the *lookback* buckets STARTING at ``b`` and flags
    when the volume ratio moves more than *shift_bp* away from 10000.

    Zero-event buckets COUNT (a stall is a shift), so the bucket spine
    is densified from a broadcast 1-row bounds aggregate before the
    windows run.  Output: one row per bucket —
    ``(bucket_s, n_events, sum_before, sum_after, ratio_bp, shift)``
    with ``ratio_bp = 10000·sum_after div sum_before`` (NULL when
    ``sum_before = 0``; a spike from literal silence still flags via
    the explicit zero→nonzero test).  Buckets whose before/after window
    would run off either edge report NULL ratio and never flag.  NULL
    timestamps are excluded.  Integer math throughout.

    Plan: one map-side-combined count per bucket (the only
    event-cardinality shuffle); the two running sums are partitionless
    windows over the DENSIFIED BUCKET TABLE only — bounded by
    time-range / bucket_s, thousands of rows at a century of days —
    the :func:`~evalidate_spark.functions.classifier.ranking_auc`
    justification: aggregate first, order the small table after.
    """
    from .sessions import _micros

    if bucket_s <= 0:
        raise ValueError("bucket_s must be positive")
    if lookback < 1:
        raise ValueError("lookback must be >= 1")
    if shift_bp <= 0:
        raise ValueError("shift_bp must be positive")
    epoch_s = F.floor(_micros(df, ts_col) / F.lit(1000000)).cast("long")
    bucket = (epoch_s - F.pmod(epoch_s, F.lit(bucket_s))).cast("long")
    counts = (
        df.filter(F.col("`%s`" % ts_col).isNotNull())
        .groupBy(bucket.alias("__b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    bounds = counts.agg(F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(int(bucket_s)))
        ).alias("bucket_s")
    )
    dense = (
        spine.join(counts, spine.bucket_s == counts.__b, "left")
        .select(
            "bucket_s",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    )
    k = int(lookback)
    w = Window.orderBy("bucket_s")
    before = w.rowsBetween(-k, -1)
    after = w.rowsBetween(0, k - 1)
    scored = dense.select(
        "bucket_s",
        "n_events",
        F.sum("n_events").over(before).cast("long").alias("__sb"),
        F.count(F.lit(1)).over(before).alias("__cb"),
        F.sum("n_events").over(after).cast("long").alias("__sa"),
        F.count(F.lit(1)).over(after).alias("__ca"),
    )
    full = (F.col("__cb") == k) & (F.col("__ca") == k)
    ratio = F.when(
        full & (F.col("__sb") > 0),
        F.expr("(10000 * __sa) div __sb"),
    ).cast("long")
    shift = F.when(~full, F.lit(False)).otherwise(
        F.when(
            F.col("__sb") == 0, F.col("__sa") > 0
        ).otherwise(
            (F.expr("(10000 * __sa) div __sb") >= 10000 + int(shift_bp))
            | (F.expr("(10000 * __sa) div __sb") <= 10000 - int(shift_bp))
        )
    )
    return scored.select(
        "bucket_s",
        "n_events",
        F.when(full, F.col("__sb")).alias("sum_before"),
        F.when(full, F.col("__sa")).alias("sum_after"),
        ratio.alias("ratio_bp"),
        shift.alias("shift"),
    )


def completeness_trend(
    df: DataFrame,
    cols: Sequence[str],
    ts_col: str = "ts",
    bucket_s: int = 86400,
) -> DataFrame:
    """Completeness DRIFT over time — "is a column silently going
    null?": per column, the null-rate trajectory across *bucket_s*
    time buckets summarised as an exact integer least-squares slope.

    Output: one row per column — ``(column, n_buckets, first_bp,
    last_bp, mean_bp, slope_cbp)`` where ``*_bp`` are per-bucket
    null-rates in basis points (first/last by bucket order) and
    ``slope_cbp`` is the least-squares slope in CENTI-basis-points per
    bucket: ``100·(n·Σxy − Σx·Σy) div (n·Σx² − (Σx)²)`` with ``x`` the
    0-based bucket index and ``y`` the bucket's null_bp — all-integer,
    so the fit replays exactly in any SQL engine (positive = the column
    is getting emptier).  ``slope_cbp`` is NULL with a single bucket.
    NULL timestamps are excluded (they have no bucket).

    Plan: ONE map-side-combined groupBy on the bucket computes every
    column's null count in the same pass (no per-column scans); the
    bucket index and the regression moments run over the tiny bucket
    table only (time-range / bucket_s rows — the aggregate-first shape
    of :func:`rate_changepoints`); one explode unpivots to rows.  The
    only event-cardinality shuffle is the bucket groupBy.
    """
    from .sessions import _micros

    if not cols:
        raise ValueError("completeness_trend needs at least one column")
    if bucket_s <= 0:
        raise ValueError("bucket_s must be positive")
    epoch_s = F.floor(_micros(df, ts_col) / F.lit(1000000)).cast("long")
    bucket = (epoch_s - F.pmod(epoch_s, F.lit(bucket_s))).cast("long")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col("`%s`" % c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("__null_%s" % c)
        )
    per_bucket = (
        df.filter(F.col("`%s`" % ts_col).isNotNull())
        .groupBy(bucket.alias("__b"))
        .agg(*aggs)
    )
    idx = per_bucket.select(
        "*",
        (F.row_number().over(Window.orderBy("__b")) - 1)
        .cast("long")
        .alias("__x"),
        (F.row_number().over(Window.orderBy(F.col("__b").desc())) == 1)
        .alias("__is_last"),
    )
    for c in cols:
        idx = idx.withColumn(
            "__y_%s" % c,
            F.expr("(10000 * `__null_%s`) div __n" % c).cast("long"),
        )
    moment_aggs = [
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__sxx"),
    ]
    for c in cols:
        y = F.col("__y_%s" % c)
        moment_aggs += [
            F.sum(y).cast("long").alias("__sy_%s" % c),
            F.sum(F.col("__x") * y).cast("long").alias("__sxy_%s" % c),
            F.min(F.when(F.col("__x") == 0, y)).alias("__first_%s" % c),
            F.max(F.when(F.col("__is_last"), y)).alias("__last_%s" % c),
        ]
    m = idx.agg(*moment_aggs)
    structs = []
    for c in cols:
        den = "(__k * __sxx - __sx * __sx)"
        num = "(__k * `__sxy_%s` - __sx * `__sy_%s`)" % (c, c)
        # sign factored out of the division: Spark's div truncates toward
        # zero, SQL's // floors — on the (possibly negative) numerator
        # they disagree; on |num| they agree (the kappa lesson)
        slope = "(CASE WHEN %s < 0 THEN -1 ELSE 1 END) * ((100 * abs(%s)) div %s)" % (
            num, num, den)
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__k").alias("n_buckets"),
                F.col("__first_%s" % c).alias("first_bp"),
                F.col("__last_%s" % c).alias("last_bp"),
                F.expr("`__sy_%s` div __k" % c).cast("long").alias("mean_bp"),
                F.when(F.col("__k") > 1, F.expr(slope))
                .cast("long")
                .alias("slope_cbp"),
            )
        )
    return _unpivot(m, structs)


def concentration_profile(
    df: DataFrame,
    group_col: str,
    weight_col: str,
) -> DataFrame:
    """Corpus-concentration report — how unequally a weight (tokens,
    bytes, docs) is distributed over a grouping (domain, source, lang):
    the "is 40% of my training mix one website?" question, answered with
    the three standard inequality numbers.

    Output: ONE row ``(n_groups, total_weight, top_share_bp, hhi_bp,
    gini_bp)`` —

    * ``top_share_bp`` — largest group's share, basis points;
    * ``hhi_bp`` — Herfindahl–Hirschman index ``Σ share_i²`` in bp
      (10000 = monopoly, 10000/n = uniform);
    * ``gini_bp`` — Gini coefficient in bp via the exact rank formula
      ``G = (2·Σ i·w_(i) − (n+1)·W) / (n·W)`` over weights sorted
      ascending (ties broken by group value for determinism).

    All three are EXACT integer arithmetic (decimal(38,0) sums,
    cross-multiplied ``div``) — no floating accumulation, so the result
    is bit-stable across engines and partitionings.  Rows with NULL
    group, NULL weight, or weight <= 0 are excluded (zero-weight groups
    don't shift any of the three measures' mass).

    Plan: one map-side-combined groupBy to per-group weights; the rank
    window sorts the REDUCED per-group table in a single partition
    (group cardinality — domains, languages — is orders below row
    cardinality; that is the operator's stated domain), then one 1-row
    aggregate.  Nothing event-cardinality crosses the wire twice.
    """
    g = F.col("`%s`" % group_col)
    wt = F.col("`%s`" % weight_col)
    per_group = (
        df.filter(g.isNotNull() & wt.isNotNull() & (wt > 0))
        .groupBy(g.alias("__g"))
        .agg(F.sum(wt.cast("decimal(38,0)")).alias("__w"))
    )
    ranked = per_group.withColumn(
        "__i",
        F.row_number().over(
            Window.orderBy(F.col("__w").asc(), F.col("__g").asc())
        ),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("__w").cast("decimal(38,0)").alias("__W"),
        F.max("__w").cast("decimal(38,0)").alias("__mx"),
        F.sum(F.col("__w") * F.col("__w")).cast("decimal(38,0)").alias("__sq"),
        F.sum(F.col("__w") * F.col("__i")).cast("decimal(38,0)").alias("__B"),
    ).select(
        "n_groups",
        F.col("__W").cast("long").alias("total_weight"),
        F.expr("CAST((__mx * 10000) div __W AS bigint)").alias(
            "top_share_bp"
        ),
        F.expr("CAST((__sq * 10000) div (__W * __W) AS bigint)").alias(
            "hhi_bp"
        ),
        F.expr(
            "CAST(((2 * __B - (n_groups + 1) * __W) * 10000)"
            " div (n_groups * __W) AS bigint)"
        ).alias("gini_bp"),
    )


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    period: int = 24,
    spike_bp: int = 10000,
    drop_bp: int = 5000,
) -> DataFrame:
    """Seasonality-aware rate anomaly — the fix for
    :func:`rate_anomalies`' one flat baseline: a Sunday-night lull is
    normal FOR SUNDAY NIGHT, so each bucket is scored against the mean
    of the OTHER buckets sharing its phase (``bucket index mod
    period`` — hour-of-day with hourly buckets and period 24,
    day-of-week with daily buckets and period 7), not against the
    whole history.

    Zero-event buckets count (the spine is densified from a broadcast
    bounds aggregate, as in :func:`rate_changepoints`).  Output: one
    row per bucket — ``(bucket_s, phase, n_events, rate_bp, spike,
    drop)`` with ``rate_bp = 10000·n·(n_phase−1) div Σ_others`` in
    decimal-widened integer math (NULL when the phase has no other
    bucket or its others are all-zero — then ``spike`` still fires on
    literal zero→nonzero).  NULL timestamps are excluded.

    Plan: one map-side-combined count per bucket (the only
    event-cardinality shuffle); the spine explode, the per-phase
    totals (≤ *period* rows, broadcast back), and the scoring all run
    on the bucket table.  The aggregate-first rule again: nothing
    ordered or joined at event cardinality.
    """
    from .sessions import _micros

    if bucket_s <= 0:
        raise ValueError("bucket_s must be positive")
    if period < 2:
        raise ValueError("period must be >= 2")
    if spike_bp <= 0 or not (0 < drop_bp <= 10000):
        raise ValueError("spike_bp must be > 0 and drop_bp in (0, 10000]")
    epoch_s = F.floor(_micros(df, ts_col) / F.lit(1000000)).cast("long")
    bucket = (epoch_s - F.pmod(epoch_s, F.lit(bucket_s))).cast("long")
    counts = (
        df.filter(F.col("`%s`" % ts_col).isNotNull())
        .groupBy(bucket.alias("__b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    bounds = counts.agg(F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(int(bucket_s)))
        ).alias("bucket_s")
    )
    dense = spine.join(counts, spine.bucket_s == counts.__b, "left").select(
        "bucket_s",
        F.pmod(
            F.expr("bucket_s div %d" % int(bucket_s)), F.lit(int(period))
        ).cast("long").alias("phase"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    )
    totals = dense.groupBy("phase").agg(
        F.sum("n_events").cast("long").alias("__ps"),
        F.count(F.lit(1)).cast("long").alias("__pn"),
    )
    scored = dense.join(F.broadcast(totals), "phase").select(
        "bucket_s",
        "phase",
        "n_events",
        (F.col("__ps") - F.col("n_events")).alias("__os"),
        (F.col("__pn") - 1).alias("__on"),
    )
    rate = F.when(
        (F.col("__on") > 0) & (F.col("__os") > 0),
        F.expr(
            "CAST((CAST(10000 AS DECIMAL(38,0)) * n_events * __on)"
            " div __os AS BIGINT)"
        ),
    )
    spike = F.when(F.col("__on") <= 0, F.lit(False)).otherwise(
        F.when(F.col("__os") == 0, F.col("n_events") > 0).otherwise(
            rate >= 10000 + int(spike_bp)
        )
    )
    drop = (
        (F.col("__on") > 0)
        & (F.col("__os") > 0)
        & (rate <= 10000 - int(drop_bp))
    )
    return scored.select(
        "bucket_s",
        "phase",
        "n_events",
        rate.alias("rate_bp"),
        spike.alias("spike"),
        F.coalesce(drop, F.lit(False)).alias("drop"),
    )


def join_fanout(
    left: DataFrame,
    right: DataFrame,
    left_on,
    right_on=None,
    top_k: int = 20,
    hot_bp: int = 1000,
) -> DataFrame:
    """Pre-join fan-out audit — the "will this join explode?" check to
    run BEFORE committing a 100 TB shuffle.  Join output cardinality is
    ``Σ_key n_left(key) · n_right(key)``; one key with a million rows on
    each side contributes 10^12 output rows all materialised by the
    task(s) owning that key.  This operator computes the exact per-key
    product from the two key histograms (never by running the join):

    ``(key, n_left, n_right, out_rows, out_share_bp, many_to_many)``

    for the *top_k* keys by projected output, ordered
    ``out_rows DESC, key ASC`` (deterministic).  ``out_share_bp`` is the
    key's integer-basis-point share of the TOTAL projected join output —
    the direct "this one key is 38% of the join" signal that picks the
    salting factor / AQE skew threshold; ``many_to_many`` flags
    ``n_left > 1 AND n_right > 1`` (the shape that multiplies; 1:N keys
    are mere skew).  NULL keys never match in an equi-join and are
    excluded (profile/completeness checks own NULL accounting).
    *left_on*/*right_on* accept a single column or a LIST (composite
    equi-join keys — the common case at scale); composite keys fold to
    one \\x1f-separated string, and a row needs EVERY part non-NULL.

    Scale shape: one map-side-combined ``groupBy`` per input (output ≤
    #distinct keys each), an inner join of the two AGGREGATES (AQE-sized,
    orders of magnitude smaller than the data join being audited),
    a 1-row total joined back by broadcast, TakeOrdered top-k.  Pure
    int64/decimal arithmetic — ``out_rows`` products are widened to
    decimal(38,0) before summing so a 10^12-row projection can't
    overflow."""
    # composite keys: a list of columns folds to one string key with a
    # \x1f unit separator (never appears in real keys); a row is usable
    # only when EVERY key part is non-NULL (SQL equi-join semantics)
    l_cols = [left_on] if isinstance(left_on, str) else list(left_on)
    r_cols = (
        l_cols
        if right_on is None
        else ([right_on] if isinstance(right_on, str) else list(right_on))
    )
    if len(l_cols) != len(r_cols):
        raise ValueError("join_fanout: key column lists differ in length")

    def _hist(df: DataFrame, cols, n_name: str) -> DataFrame:
        live = df
        for c in cols:
            live = live.filter(F.col("`%s`" % c).isNotNull())
        key = (
            F.col("`%s`" % cols[0]).cast("string")
            if len(cols) == 1
            else F.concat_ws(
                "\x1f", *[F.col("`%s`" % c).cast("string") for c in cols]
            )
        )
        return live.groupBy(key.alias("key")).agg(
            F.count(F.lit(1)).alias(n_name)
        )

    lf = _hist(left, l_cols, "n_left")
    rf = _hist(right, r_cols, "n_right")
    per_key = lf.join(rf, "key").select(
        "key",
        "n_left",
        "n_right",
        (F.col("n_left").cast("decimal(38,0)") * F.col("n_right"))
        .alias("__out_d"),
        ((F.col("n_left") > 1) & (F.col("n_right") > 1)).alias("many_to_many"),
    )
    total = per_key.agg(
        F.coalesce(F.sum("__out_d"), F.lit(0).cast("decimal(38,0)")).alias(
            "__total"
        )
    )
    return (
        per_key.join(F.broadcast(total))
        .select(
            "key",
            "n_left",
            "n_right",
            F.col("__out_d").cast("long").alias("out_rows"),
            F.when(
                F.col("__total") > 0,
                F.floor(F.col("__out_d") * 10000 / F.col("__total")).cast(
                    "long"
                ),
            ).alias("out_share_bp"),
            "many_to_many",
        )
        .orderBy(F.col("out_rows").desc(), F.col("key").asc())
        .limit(int(top_k))
    )


def equifreq_profile(
    df: DataFrame, column: str, k: int = 10
) -> DataFrame:
    """Equal-frequency (quantile) binning profile of a numeric column —
    per-bucket exact ``(bucket, n_rows, min_v, max_v)`` for *k*
    target-equal buckets.  The per-bucket spread is the drift/outlier
    primitive equi-WIDTH histograms miss on heavy-tailed columns (one
    hot bucket, nine empty).

    NOT a global ``ntile()`` — that window moves every row to one task
    (Spark warns, and at 10^12 rows it is simply wrong).  Instead the
    classic two-level plan: (1) value histogram via map-side-combined
    ``groupBy`` (output = #distinct values), (2) cumulative counts via a
    window over the DISTINCT VALUES ONLY — cardinality-bounded like the
    drift/histogram operators, documented ceiling; pre-bucket upstream
    if a column has billions of distinct values — then (3) every row of
    a value lands in ``bucket = (rows_before · k) div total + 1``,
    folding the row-level assignment back onto the histogram.  Ties are
    VALUE-COHERENT: equal values share a bucket (percentile_disc
    semantics), so buckets are deterministic cross-engine but uneven
    under heavy ties — ``n_rows`` exposes exactly how uneven.  NULLs are
    excluded (completeness checks own them)."""
    if k < 1:
        raise ValueError("equifreq_profile needs k >= 1")
    v = F.col("`%s`" % column)
    vc = df.filter(v.isNotNull()).groupBy(v.alias("v")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    total = vc.agg(F.sum("n").alias("total"))
    cum = vc.select(
        "v", "n", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("before")
    ).join(F.broadcast(total))
    bucket = F.expr("(before * %d) DIV total" % int(k)) + 1
    return (
        cum.groupBy(bucket.alias("bucket"))
        .agg(
            F.sum("n").alias("n_rows"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("bucket")
    )


def magnitude_profile(df: DataFrame, column: str) -> DataFrame:
    """Order-of-magnitude histogram of a numeric column — the
    unit-mix-up detector: a duration column with a bimodal magnitude
    profile (say digits 3 and 6) is milliseconds mixed into seconds,
    money in cents mixed into dollars, etc.  Equi-width histograms bury
    this (one giant bin); log-scale buckets expose it.

    Buckets are EXACT integers — no float log10: ``digits`` = number of
    digits of the truncated absolute integer part (0 for |v| < 1), with
    ``negative`` split out so sign-flip anomalies are visible too.
    Returns ``(digits, negative, n_rows, share_bp)`` with integer-bp
    share of all non-NULL rows.

    One map-side-combined groupBy over ≤ ~20·2 buckets, total broadcast
    back.  NULLs excluded (completeness checks own them)."""
    v = F.col("`%s`" % column).cast("double")
    # floor-then-decimal: decimal cast of a raw double ROUNDS (9.6 → 10,
    # one digit too many); floor first makes the cast exact
    digits = (
        F.when(F.abs(v) < 1, F.lit(0))
        .otherwise(
            F.length(
                F.floor(F.abs(v)).cast("decimal(38,0)").cast("string")
            )
        )
        .cast("int")
    )
    base = df.filter(v.isNotNull()).select(
        digits.alias("digits"), (v < 0).alias("negative")
    )
    counts = base.groupBy("digits", "negative").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("total"))
    return counts.join(F.broadcast(total)).select(
        "digits",
        "negative",
        "n_rows",
        F.expr("(n_rows * 10000) DIV total").cast("long").alias("share_bp"),
    )


def ts_granularity(df: DataFrame, ts_col: str) -> DataFrame:
    """Timestamp-precision audit — ONE row of exact counts telling you
    what resolution a time column REALLY carries: ``(n_rows,
    n_midnight, n_zero_second, n_zero_micros, midnight_bp,
    zero_second_bp, zero_micros_bp)``.  A "timestamp" column where 100%
    of values sit at midnight is a date in disguise (daily batch
    truncation); 100% zero-seconds means minute-grain upstream
    truncation — both break sessionization, as-of joins, and freshness
    SLAs silently.  High-but-not-total shares flag MIXED feeds (one
    producer truncates, others don't), which no schema check can see.

    Single aggregate over the table, exact integer bp.  NULL timestamps
    are excluded from every count (completeness owns them)."""
    t = F.col("`%s`" % ts_col)
    base = df.filter(t.isNotNull())
    # timestamp_diff against the truncation handles TIMESTAMP and
    # TIMESTAMP_NTZ alike (date_trunc preserves the input type), with no
    # epoch anchor and no session-timezone dependence for NTZ
    micros_of_day = F.timestamp_diff(
        "MICROSECOND", F.date_trunc("day", t), t
    )
    sec_part = F.second(t)
    micro_part = F.timestamp_diff(
        "MICROSECOND", F.date_trunc("second", t), t
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum(F.when(micros_of_day == 0, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_midnight"),
        F.coalesce(
            F.sum(F.when((sec_part == 0) & (micro_part == 0), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_zero_second"),
        F.coalesce(F.sum(F.when(micro_part == 0, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_zero_micros"),
    )
    bp = lambda c: F.when(  # noqa: E731
        F.col("n_rows") > 0, F.expr("(%s * 10000) DIV n_rows" % c)
    ).cast("long")
    return agg.select(
        "n_rows",
        "n_midnight",
        "n_zero_second",
        "n_zero_micros",
        bp("n_midnight").alias("midnight_bp"),
        bp("n_zero_second").alias("zero_second_bp"),
        bp("n_zero_micros").alias("zero_micros_bp"),
    )


def schema_conformance(
    df: DataFrame,
    expected: Dict[str, str],
    strict: bool = True,
) -> DataFrame:
    """Schema-level contract check — the metadata complement to the
    value-level rule engine: compare the DataFrame's ACTUAL schema
    against an *expected* ``{column: simple_type_string}`` contract and
    return one row per column in either side:

    ``(column, expected_type, actual_type, status)`` with status ∈
    ``ok`` / ``type_mismatch`` / ``missing`` (contracted, absent) /
    ``unexpected`` (present, uncontracted; suppressed when
    ``strict=False`` — additive evolution allowed).

    Types compare on Spark's ``simpleString`` form (``bigint``,
    ``array<struct<...>>``), so nested span/struct columns are checked
    structurally, not just by name.  Runs entirely on driver-side
    METADATA — no job, no scan: the returned frame is a literal, so a
    nightly suite can prepend it for free.  This is the check that
    catches silent parquet schema drift (a producer widening int → 
    bigint, dropping a nested field) BEFORE a value-level rule NPEs on
    the missing column."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rows = []
    for col, want in expected.items():
        have = actual.get(col)
        if have is None:
            rows.append((col, want, None, "missing"))
        elif have == want:
            rows.append((col, want, have, "ok"))
        else:
            rows.append((col, want, have, "type_mismatch"))
    if strict:
        for col, have in actual.items():
            if col not in expected:
                rows.append((col, None, have, "unexpected"))
    spark = df.sparkSession
    return spark.createDataFrame(
        rows, "column string, expected_type string, actual_type string, "
        "status string"
    )


def category_churn(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    min_rows: int = 1,
) -> DataFrame:
    """Category-SET churn between two slices of a low-cardinality
    column — the explicit complement to PSI/TVD drift scores: WHICH
    values appeared, which vanished, which persist.  A new enum value
    is usually an upstream deploy (new event_type, new lang code)
    that every allowed-list rule downstream should hear about before
    it starts rejecting rows wholesale.

    Output per category (full outer over both slices):

    ``(category, base_rows, cur_rows, status)`` with status ∈ ``new``
    (absent in baseline) / ``gone`` (absent in current) / ``persists``.
    *min_rows* debounces singleton noise: a category needs ≥ min_rows
    in the slice it appears in to be reported at all (applied per
    side BEFORE the outer join, so a 1-row flicker doesn't fabricate a
    ``new``).  NULL category is a real value and churns like any other.

    Two map-side-combined groupBys at category cardinality + one
    category-cardinality full outer join — nothing at row cardinality
    after the aggregates."""
    c = F.col("`%s`" % column)

    def _freq(df: DataFrame, name: str) -> DataFrame:
        return (
            df.groupBy(c.alias("category"))
            .agg(F.count(F.lit(1)).cast("long").alias(name))
            .filter(F.col(name) >= int(min_rows))
        )

    b = _freq(baseline, "base_rows")
    u = _freq(current, "cur_rows")
    # eqNullSafe join key: NULL is a real category and must pair with
    # itself across the two sides
    j = b.join(
        u, b["category"].eqNullSafe(u["category"]), "full_outer"
    ).select(
        F.coalesce(b["category"], u["category"]).alias("category"),
        # disambiguate all-NULL: base side present iff base_rows not null
        F.coalesce(b["base_rows"], F.lit(0)).alias("base_rows"),
        F.coalesce(u["cur_rows"], F.lit(0)).alias("cur_rows"),
    )
    status = (
        F.when(F.col("base_rows") == 0, F.lit("new"))
        .when(F.col("cur_rows") == 0, F.lit("gone"))
        .otherwise(F.lit("persists"))
    )
    return j.select("category", "base_rows", "cur_rows", status.alias("status"))


def aggregate_checks(df: DataFrame, checks: Dict[str, str]) -> DataFrame:
    """TABLE-level constraint suite — the aggregate complement to
    :func:`check_expressions` (row-level): each check is a boolean SQL
    expression over AGGREGATES ("avg(price) BETWEEN 10 AND 40",
    "count(DISTINCT user_id) >= 1000", a cross-multiplied null-rate
    bound), all evaluated in ONE aggregation pass over the table —
    Deequ-style verification without N scans for N constraints.

    Returns ``(check_id, passed, status)`` per check; a NULL result
    (aggregate over empty input, NULL-poisoned comparison) FAILS —
    same convention as check_expressions: a constraint that cannot
    prove itself true is not passed.

    Tip for cross-engine-replayable suites: write rate bounds
    cross-multiplied (``sum(x) * 10000 <= bound * count(*)``) so the
    same string is exact integer arithmetic in any SQL dialect.

    Scale: one map-side-combined aggregate; output is
    len(checks) rows via a literal explode — no second scan."""
    if not checks:
        raise ValueError("aggregate_checks needs at least one check")
    agg = df.agg(
        *[F.expr(sql).alias("__c%d" % i) for i, sql in enumerate(checks.values())]
    )
    items = F.array(
        *[
            F.struct(
                F.lit(cid).alias("check_id"),
                F.coalesce(F.col("__c%d" % i), F.lit(False)).alias("passed"),
            )
            for i, cid in enumerate(checks.keys())
        ]
    )
    return agg.select(F.explode(items).alias("__x")).select(
        F.col("__x.check_id"),
        F.col("__x.passed"),
        F.when(F.col("__x.passed"), F.lit("pass"))
        .otherwise(F.lit("fail"))
        .alias("status"),
    )


def sample_fidelity(
    population: DataFrame,
    sample: DataFrame,
    column: str,
    bins: int = 10,
    max_diff_bp: int = 200,
) -> DataFrame:
    """Does the sample LOOK like the population?  Equi-width histogram
    (bounds from the POPULATION) of both frames, share-per-bin compared
    in exact integer bp: ``(bucket, pop_n, samp_n, pop_share_bp,
    samp_share_bp, diff_bp, skewed)`` with ``skewed = |diff| >=
    max_diff_bp``.  The QA gate after ANY down-sampling step — a
    hash-Bernoulli sample should track the population within noise, and
    a bucket drifting 500 bp means the id space correlates with the
    value (e.g. time-ordered ids + a value trend), which silently
    biases everything trained downstream.

    NULL values are excluded on both sides (completeness owns them).
    Bounds degenerate (min == max) → every row lands in bucket 0 and
    fidelity is trivially exact.  Two aggregates at bin cardinality +
    a broadcast bounds row; no row-cardinality shuffle."""
    v = F.col("`%s`" % column)
    bounds = population.filter(v.isNotNull()).agg(
        F.min(v).cast("double").alias("__lo"),
        F.max(v).cast("double").alias("__hi"),
    )

    def bucketed(df: DataFrame, name: str) -> DataFrame:
        b = F.when(F.col("__hi") <= F.col("__lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(int(bins) - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (v.cast("double") - F.col("__lo"))
                        / ((F.col("__hi") - F.col("__lo")) / int(bins))
                    ).cast("int"),
                ),
            )
        )
        return (
            df.filter(v.isNotNull())
            .join(F.broadcast(bounds))
            .groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )

    p = bucketed(population, "pop_n")
    s = bucketed(sample, "samp_n")
    j = p.join(s, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("pop_n", F.lit(0)).alias("pop_n"),
        F.coalesce("samp_n", F.lit(0)).alias("samp_n"),
    )
    tot = j.agg(
        F.sum("pop_n").alias("__tp"), F.sum("samp_n").alias("__ts")
    )
    out = j.join(F.broadcast(tot)).select(
        "bucket",
        "pop_n",
        "samp_n",
        F.expr("(pop_n * 10000) DIV greatest(__tp, 1)")
        .cast("long")
        .alias("pop_share_bp"),
        F.expr("(samp_n * 10000) DIV greatest(__ts, 1)")
        .cast("long")
        .alias("samp_share_bp"),
    )
    diff = F.col("samp_share_bp") - F.col("pop_share_bp")
    return out.select(
        "*",
        diff.alias("diff_bp"),
        (F.abs(diff) >= int(max_diff_bp)).alias("skewed"),
    )


def categorical_fidelity(
    population: DataFrame,
    sample: DataFrame,
    column: str,
    max_diff_bp: int = 200,
) -> DataFrame:
    """Categorical twin of :func:`sample_fidelity` — per CATEGORY share
    comparison between a population and a derived subset: ``(category,
    pop_n, samp_n, pop_share_bp, samp_share_bp, diff_bp, skewed)``.
    The post-hoc distortion audit for any selection step keyed by a
    partition: did dedup hollow out one semantic cell?  Did the language
    filter starve a source?  NULL categories are real and compared like
    any other.  Two category-cardinality aggregates + null-safe full
    outer join + broadcast totals; exact integer bp."""
    c = F.col("`%s`" % column)

    def _freq(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(c.alias("category")).agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )

    p = _freq(population, "pop_n")
    s = _freq(sample, "samp_n")
    j = p.join(
        s, p["category"].eqNullSafe(s["category"]), "full_outer"
    ).select(
        F.coalesce(p["category"], s["category"]).alias("category"),
        F.coalesce(p["pop_n"], F.lit(0)).alias("pop_n"),
        F.coalesce(s["samp_n"], F.lit(0)).alias("samp_n"),
    )
    tot = j.agg(F.sum("pop_n").alias("__tp"), F.sum("samp_n").alias("__ts"))
    out = j.join(F.broadcast(tot)).select(
        "category",
        "pop_n",
        "samp_n",
        F.expr("(pop_n * 10000) DIV greatest(__tp, 1)")
        .cast("long")
        .alias("pop_share_bp"),
        F.expr("(samp_n * 10000) DIV greatest(__ts, 1)")
        .cast("long")
        .alias("samp_share_bp"),
    )
    diff = F.col("samp_share_bp") - F.col("pop_share_bp")
    return out.select(
        "*",
        diff.alias("diff_bp"),
        (F.abs(diff) >= int(max_diff_bp)).alias("skewed"),
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-group quantile profile — ``(group, n, min, q..., max)``,
    one row per group, quantile columns named ``q25``-style from *probs*.

    The grouped twin of the table-wide ``profile`` quantile mode: run
    with an ingest-wave or source key it becomes the distribution-trend
    report ("is doc length collapsing wave over wave?") that a single
    global median hides.  Exact linear-interpolation percentiles (the
    ANSI ``quantile_cont`` definition, bit-replayable on integer-valued
    columns); for the 10^12-row table the sketch path
    (``profile``/``quantile_states``'s KLL) is the default and this
    exact mode is the audit tool.  One groupBy on the group key —
    Spark's native ``percentile`` aggregate buffers per group; groups
    are partition-spread, and a hot group is exactly the case for the
    sketch path instead.  NULL group keys report as ``'__null__'``;
    NULL values are excluded from quantiles (and from ``n``)."""
    if not probs or any(not (0.0 <= p <= 1.0) for p in probs):
        raise ValueError("group_quantiles: probs must be within [0, 1]")
    gc = F.coalesce(F.col("`%s`" % group_col).cast("string"), F.lit("__null__"))
    vc = F.col("`%s`" % value_col).cast("double")
    d = df.filter(vc.isNotNull()).select(gc.alias("group"), vc.alias("__v"))
    qcols = [
        F.percentile("__v", F.lit(float(p))).alias(
            "q%d" % round(p * 100)
        )
        for p in probs
    ]
    return d.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__v").alias("min"),
        *qcols,
        F.max("__v").alias("max"),
    )


def dim_coverage(
    fact: DataFrame,
    fact_col: str,
    dim: DataFrame,
    dim_col: str,
    broadcast_dim: bool = True,
    broadcast_refs: bool = False,
) -> DataFrame:
    """Reverse referential check — the dimension-side view the
    fact-side anti-join (``referential_violations``) doesn't give:
    ``(n_dim, referenced, unreferenced, coverage_bp, dangling_values)``
    as ONE row.

    ``coverage_bp`` is the share of dimension keys referenced by at
    least one fact row (dead catalog mass — unreferenced media assets
    are storage cost and a sign the ingest dropped their documents);
    ``dangling_values`` counts DISTINCT fact keys missing from the
    dimension (the value-level size of the fact-side violation set).

    Plan: facts collapse to distinct keys first (uniform key shuffle,
    map-side combined).  The coverage join builds on the collapsed ref
    set (``broadcast_refs=True`` when the distinct reference set is
    broadcast-small); the dangling anti-join builds on the dimension
    keys (``broadcast_dim=True``, the default — catalogs are the
    canonical small side).  With both flags False each join is a
    sort-merge on the key — still one shuffle per side, no row
    explosion.  NULL fact keys are ignored (a NULL reference is a
    presence violation, not a dangling one — same contract as the
    fact-side check); NULL dim keys never match anything and count as
    unreferenced."""
    fc = F.col("`%s`" % fact_col)
    dc = F.col("`%s`" % dim_col)
    refs = fact.filter(fc.isNotNull()).select(fc.alias("__k")).distinct()
    dkeys = dim.select(dc.alias("__d"))
    r = F.broadcast(refs) if broadcast_refs else refs
    joined = dkeys.join(r, dkeys["__d"] == r["__k"], "left_outer")
    cov = joined.agg(
        F.count(F.lit(1)).alias("n_dim"),
        F.sum(F.col("__k").isNotNull().cast("long"))
        .cast("long")
        .alias("referenced"),
    ).select(
        "n_dim",
        "referenced",
        (F.col("n_dim") - F.col("referenced")).cast("long").alias("unreferenced"),
        F.expr("referenced * 10000L DIV greatest(n_dim, 1)")
        .cast("long")
        .alias("coverage_bp"),
    )
    dk = dkeys.distinct()
    dang = refs.join(
        F.broadcast(dk) if broadcast_dim else dk,
        refs["__k"] == dk["__d"],
        "left_anti",
    ).agg(F.count(F.lit(1)).cast("long").alias("dangling_values"))
    return cov.crossJoin(F.broadcast(dang))


def encoding_advisor(
    df: DataFrame, columns: Sequence[str], dict_bp: int = 100
) -> DataFrame:
    """Storage-encoding advisor — per column, the numbers that decide
    parquet encoding and layout at 100 TB: ``(column, n_rows,
    n_distinct, distinct_bp, avg_len_centi, dict_candidate)``.

    A column whose exact distinct count is ≤ ``dict_bp``/10000 of its
    rows (default 1%) dictionary-encodes to near-free and is a strong
    partition/bucket/Z-order key candidate; a near-unique string column
    with high ``avg_len_centi`` is the scan cost driver and the first
    column to prune from ``ReadSchema``.  Exact ``count(DISTINCT)`` per
    column — this is the audit tool; the sketch path (``profile``'s HLL)
    is the default at full scale.  ONE aggregate for ALL columns —
    Spark plans the multi-distinct via expand, so a k-column call is a
    single scan (k separate ``df.agg`` branches unioned would scan the
    table k times: Spark does not reuse scans across union branches) —
    then an explode of one k-struct array row to the per-column report.
    NULLs excluded from distinct/length, counted in ``n_rows``."""
    if not columns:
        raise ValueError("encoding_advisor needs at least one column")
    names = {f.name for f in df.schema.fields}
    for col in columns:
        if col not in names:
            raise ValueError(f"encoding_advisor: unknown column {col!r}")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, col in enumerate(columns):
        c = F.col("`%s`" % col)
        aggs.append(F.countDistinct(c).cast("long").alias("__nd%d" % i))
        aggs.append(
            F.coalesce(F.sum(F.length(c.cast("string"))), F.lit(0))
            .cast("long")
            .alias("__len%d" % i)
        )
        aggs.append(F.count(c).cast("long").alias("__nn%d" % i))
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(col).alias("column"),
            F.col("n_rows").alias("n_rows"),
            F.col("__nd%d" % i).alias("n_distinct"),
            F.expr("__nd%d * 10000L DIV greatest(n_rows, 1)" % i)
            .cast("long")
            .alias("distinct_bp"),
            F.expr(
                "CASE WHEN __nn%d > 0 THEN __len%d * 100L DIV __nn%d END"
                % (i, i, i)
            )
            .cast("long")
            .alias("avg_len_centi"),
            F.expr(
                f"__nd{i} * 10000L DIV greatest(n_rows, 1)"
                f" <= {int(dict_bp)}L"
            ).alias("dict_candidate"),
        )
        for i, col in enumerate(columns)
    ])
    return one.select(F.explode(rows).alias("r")).select("r.*")


def partition_advisor(
    df: DataFrame,
    table_name: str,
    target_mb: int = 128,
) -> DataFrame:
    """Shuffle/file-partition sizing advisor: estimates the table's
    in-flight byte size from its own schema (fixed widths per primitive
    type + actual string/binary lengths) and recommends a partition
    count at ``target_mb`` per partition — ``(tbl, n_rows, est_bytes,
    avg_row_bytes, rec_partitions)``, one row.

    This is the number ``spark.sql.shuffle.partitions`` and file
    compaction should be derived FROM, instead of a cluster-wide
    constant: partitions sized to ~128 MB keep a task's working set in
    executor memory and parquet row-groups scan-efficient.  The estimate
    is deterministic integer arithmetic (strings count their character
    length — a stable proxy that both engines compute identically), one
    single-pass aggregate, no shuffle."""
    if target_mb < 1:
        raise ValueError("partition_advisor: target_mb must be >= 1")
    fixed = 0
    var_terms: List[Column] = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in ("string", "binary"):
            var_terms.append(
                F.coalesce(F.length(F.col("`%s`" % f.name)).cast("long"), F.lit(0))
            )
        elif t in ("double", "bigint", "timestamp", "timestamp_ntz", "date"):
            fixed += 8
        elif t in ("int", "float"):
            fixed += 4
        elif t in ("smallint",):
            fixed += 2
        elif t in ("tinyint", "boolean"):
            fixed += 1
        else:  # nested/array/map: count the stringified width
            var_terms.append(
                F.coalesce(
                    F.length(F.col("`%s`" % f.name).cast("string")).cast("long"),
                    F.lit(0),
                )
            )
    row_bytes = F.lit(fixed).cast("long")
    for v in var_terms:
        row_bytes = row_bytes + v
    tgt = int(target_mb) * 1024 * 1024
    return df.select(row_bytes.alias("__b")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("__b").cast("long").alias("est_bytes"),
    ).select(
        F.lit(table_name).alias("tbl"),
        "n_rows",
        "est_bytes",
        F.expr("CASE WHEN n_rows > 0 THEN est_bytes DIV n_rows END")
        .cast("long")
        .alias("avg_row_bytes"),
        F.expr(f"greatest(1L, (est_bytes + {tgt}L - 1) DIV {tgt}L)")
        .cast("long")
        .alias("rec_partitions"),
    )


def partition_balance(
    df: DataFrame,
    key_col: str,
    n_partitions: int = 32,
    skew_bp: int = 15000,
) -> DataFrame:
    """Would this column balance a hash shuffle?  Simulates hashing the
    key into ``n_partitions`` buckets (md5-based — deterministic and
    engine-portable, a stand-in with the same uniformity properties as
    the engine's real partitioner) and reports the resulting task-load
    shape as ONE row: ``(n_partitions, n_rows, null_rows, min_rows,
    max_rows, avg_rows, max_skew_bp, balanced)``.

    ``max_skew_bp`` is the heaviest bucket relative to the mean in
    integer bp (10000 = perfectly even); the default flag trips at 1.5×.
    This catches what ``skew_report`` (per-VALUE heavy hitters) can
    miss: many medium keys COLLIDING into one bucket, which only shows
    up at the bucket grain.  NULL keys are reported separately — they
    hash nowhere and typically route to partition 0, the classic silent
    straggler.  Plan: one groupBy on the simulated bucket id (exactly
    ``n_partitions`` groups, map-side combined) + a one-row rollup."""
    if n_partitions < 1:
        raise ValueError("partition_balance: n_partitions must be >= 1")
    kc = F.col("`%s`" % key_col)
    # conv(hex, 16, 10): 15 hex chars = 60 bits, fits int64 exactly;
    # DuckDB replays it as CAST('0x' || substr(...) AS BIGINT).  NULL
    # keys hash to a NULL bucket and ride the SAME groupBy, so the whole
    # report is one scan + one ≤(n_partitions+1)-group aggregate
    bucket = F.expr(
        "pmod(CAST(conv(substr(md5(CAST(`%s` AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT), %dL)" % (key_col, int(n_partitions))
    )
    per = df.groupBy(bucket.alias("__b")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    stats = per.agg(
        F.coalesce(F.sum((F.col("__b").isNotNull()).cast("long")), F.lit(0))
        .cast("long")
        .alias("used_buckets"),
        F.sum(F.when(F.col("__b").isNotNull(), F.col("__n")))
        .cast("long")
        .alias("n_rows"),
        F.min(F.when(F.col("__b").isNotNull(), F.col("__n")))
        .cast("long")
        .alias("__minb"),
        F.max(F.when(F.col("__b").isNotNull(), F.col("__n")))
        .cast("long")
        .alias("max_rows"),
        F.coalesce(
            F.sum(F.when(F.col("__b").isNull(), F.col("__n"))), F.lit(0)
        )
        .cast("long")
        .alias("null_rows"),
    )
    return stats.select(
        F.lit(int(n_partitions)).alias("n_partitions"),
        F.col("n_rows"),
        F.coalesce(F.col("null_rows"), F.lit(0)).cast("long").alias(
            "null_rows"
        ),
        # empty buckets exist whenever used_buckets < n_partitions, so
        # min over USED buckets only is wrong for the straggler question
        F.when(
            F.col("used_buckets") < F.lit(int(n_partitions)), F.lit(0)
        )
        .otherwise(F.col("__minb"))
        .cast("long")
        .alias("min_rows"),
        F.col("max_rows"),
        F.expr("n_rows DIV %dL" % int(n_partitions)).cast("long").alias(
            "avg_rows"
        ),
        F.expr(
            "CASE WHEN n_rows > 0 THEN max_rows * %dL * 10000L DIV n_rows"
            " ELSE 10000 END" % int(n_partitions)
        )
        .cast("long")
        .alias("max_skew_bp"),
        F.expr(
            "CASE WHEN n_rows > 0 THEN max_rows * %dL * 10000L DIV n_rows"
            " ELSE 10000 END <= %dL" % (int(n_partitions), int(skew_bp))
        ).alias("balanced"),
    )


def id_collisions(
    df: DataFrame,
    id_col: str,
    content_cols: Sequence[str],
    max_ids: Optional[int] = 1000,
) -> DataFrame:
    """Key-collision triage — the follow-up question the uniqueness
    check raises but cannot answer: for every duplicated id, is it a
    benign re-ingest (identical content rows) or a REAL collision (same
    id, different content — two documents about to overwrite each other
    in any id-keyed sink)?  Returns one row per duplicated id:
    ``(id, n_rows, n_variants, benign)`` where ``n_variants`` counts
    distinct content fingerprints (md5 over the null-tagged
    concatenation of *content_cols* — a NULL field is distinguished
    from an empty one) and ``benign`` means one variant.

    Plan: one groupBy on the id (the uniqueness shuffle itself) with an
    exact in-group distinct over the content hash; rows-per-id and
    variants-per-id are both bounded by the duplication factor, never
    corpus-sized.  Output is duplicated ids only, capped at ``max_ids``
    by (most rows, id) so a catastrophic ingest loop cannot flood the
    report; pass ``max_ids=None`` for the uncapped set when the result
    feeds a downstream FILTER rather than a human (a post-cap filter
    over a capped report would silently drop rows past the top-N).
    NULL ids are excluded (no identity to collide on)."""
    if not content_cols:
        raise ValueError("id_collisions needs at least one content column")
    ic = F.col("`%s`" % id_col)
    # \x01 = NULL tag, \x02 = value prefix, \x03 = field separator —
    # control chars DuckDB strings also accept (NUL \x00 is not)
    parts = []
    for c in content_cols:
        qc = F.col("`%s`" % c)
        parts.append(
            F.when(qc.isNull(), F.lit("\x01")).otherwise(
                F.concat(F.lit("\x02"), qc.cast("string"))
            )
        )
    content_fp = F.md5(F.concat_ws("\x03", *parts))
    g = (
        df.filter(ic.isNotNull())
        .select(ic.alias("id"), content_fp.alias("__fp"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("__fp").cast("int").alias("n_variants"),
        )
        .filter(F.col("n_rows") >= 2)
    )
    out = g.select(
        "id",
        F.col("n_rows").cast("long").alias("n_rows"),
        "n_variants",
        (F.col("n_variants") == 1).alias("benign"),
    )
    if max_ids is None:
        return out
    return out.orderBy(
        F.col("n_rows").desc(), F.col("id").asc()
    ).limit(int(max_ids))


def group_freshness(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    as_of: str,
    max_lag_hours: float = 24.0,
) -> DataFrame:
    """Per-group freshness — the "which feed stopped?" view the
    whole-table :func:`freshness` probe hides: one row per group
    ``(group, n_rows, max_ts_s, lag_s, fresh)`` against an explicit
    *as_of* instant.  A healthy table-level max conceals a feed that
    died yesterday whenever any OTHER feed is still writing; this check
    makes each feed carry its own lag.

    Semantics match :func:`freshness` exactly: NULL timestamps ignored
    for the max (an all-NULL group reports NULL ``max_ts_s`` and
    ``fresh = false`` — no data is stale data), NTZ and TIMESTAMP both
    read as wall-clock-UTC.  NULL group keys report as ``'__null__'``
    (an untagged feed must surface, not vanish).  One map-side-combined
    groupBy; output rows = #groups."""
    import re

    from .sessions import _micros

    if max_lag_hours <= 0:
        raise ValueError("max_lag_hours must be positive")
    if not re.fullmatch(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}", as_of):
        raise ValueError("as_of must be 'YYYY-MM-DD HH:MM:SS'")
    as_of_s = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
        "TIMESTAMP_NTZ'%s')" % as_of
    )
    gc = F.coalesce(F.col("`%s`" % group_col).cast("string"), F.lit("__null__"))
    mx = F.floor(_micros(df, ts_col) / F.lit(1000000)).cast("long")
    lag = as_of_s - F.col("max_ts_s")
    return (
        df.groupBy(gc.alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(mx).alias("max_ts_s"),
        )
        .select(
            "group",
            F.col("n_rows").cast("long").alias("n_rows"),
            "max_ts_s",
            lag.cast("long").alias("lag_s"),
            F.coalesce(
                lag <= F.lit(int(max_lag_hours * 3600)), F.lit(False)
            ).alias("fresh"),
        )
    )


def dispersion_profile(
    df: DataFrame,
    group_col: str,
    key_col: str,
    bursty_centi: int = 200,
) -> DataFrame:
    """Overdispersion (Fano factor) of per-key activity within each
    group — ``(group, n_keys, n_events, mean_events_centi, fano_centi,
    bursty)``: variance-to-mean ratio of events-per-key in exact
    integer centi-units.

    A Poisson-ish workload sits near fano 1.0 (100 centi); a group at
    several hundred is a few keys doing most of the work — the
    load-shape diagnostic BETWEEN ``skew_report`` (single hot values)
    and ``partition_balance`` (bucket collisions): here the skew is
    distributional, not attributable to any one key.  Fano =
    ``(k·Σn² − (Σn)²) / ((k−1)·Σn)`` over per-key counts — pure int64
    (sums of squares of per-key counts; overflow only past ~3·10⁹
    events per single key), NULL for single-key or empty groups.

    Plan: one (group, key) groupBy (map-side combined), then a
    group-cardinality rollup.  NULL keys are excluded (no identity to
    disperse over); NULL groups report as ``'__null__'``."""
    gc = F.coalesce(F.col("`%s`" % group_col).cast("string"), F.lit("__null__"))
    kc = F.col("`%s`" % key_col)
    per = (
        df.filter(kc.isNotNull())
        .groupBy(gc.alias("group"), kc.alias("__k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per.groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("n_events"),
            F.sum(F.col("n") * F.col("n")).cast("long").alias("__q"),
        )
        .select(
            "group",
            "n_keys",
            "n_events",
            F.expr("n_events * 100L DIV n_keys").cast("long").alias(
                "mean_events_centi"
            ),
            F.expr(
                "CASE WHEN n_keys >= 2 AND n_events > 0 THEN"
                " (n_keys * __q - n_events * n_events) * 100L"
                " DIV ((n_keys - 1) * n_events) END"
            )
            .cast("long")
            .alias("fano_centi"),
            F.coalesce(
                F.expr(
                    "CASE WHEN n_keys >= 2 AND n_events > 0 THEN"
                    " (n_keys * __q - n_events * n_events) * 100L"
                    " DIV ((n_keys - 1) * n_events) END"
                )
                >= F.lit(int(bursty_centi)),
                F.lit(False),
            ).alias("bursty"),
        )
    )
