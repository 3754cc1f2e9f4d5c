"""Structured Streaming adapter for the validation engine.

The reference is a synchronous in-memory call (no streams,
``/root/reference/src/evalidate.erl:19-34``) and the north rule's
incremental-processing property is met by batch checkpoint/resume
(:mod:`evalidate_spark.checkpoint`).  This adapter additionally lets the
same compiled rule-set run over a Structured Streaming source — useful
when documents arrive continuously (e.g. a landing directory or Kafka).

Because the engine compiles to a single stateless projection, the
violations stream is **append-mode compatible** — no state store, no
watermark needed; Spark's own streaming checkpoint gives exactly-once
sink semantics.  Only the windowed verdict aggregation is stateful and
needs a watermark.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .compiler import Options
from .engine import VIOLATIONS_COL, validate


def annotate_stream(stream_df: DataFrame, rules: Any, **opts: Any) -> DataFrame:
    """Input stream + ``violations``/``first_error`` columns — the batch
    engine's ``annotated`` frame (one stateless projection, append-mode
    safe)."""
    return validate(stream_df, rules, **opts).annotated


def violations_stream(
    stream_df: DataFrame, rules: Any, id_cols: Sequence[str] = ("doc_id",), **opts: Any
) -> DataFrame:
    """Typed violation rows as an append-mode stream — the batch engine's
    ``violations`` frame, so passing rows are dropped before the explode
    and each failing row's violation array is built once."""
    return validate(stream_df, rules, id_cols=id_cols, **opts).violations


def windowed_verdicts(
    stream_df: DataFrame,
    rules: Any,
    ts_col: str,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    fast: bool = True,
    **opts: Any,
) -> DataFrame:
    """Event-time windowed pass/fail roll-up (the streaming analogue of the
    per-partition verdicts): one watermarked window aggregate, update/append
    mode per Spark's watermark rules — late rows beyond *watermark* drop.

    ``fast`` (default) compiles the predicate-only boolean
    (:mod:`evalidate_spark.fastpath`) instead of the full violations array —
    the verdict needs only pass/fail, so message/struct construction is
    skipped entirely (same equivalence-tested compile as batch
    ``verdict_scan``).  Falls back to the rich compile for specs with
    custom pandas-UDF validators."""
    src: DataFrame
    ok: F.Column  # type: ignore[name-defined]
    use_fast = False
    if fast:
        from .fastpath import _has_custom, compile_fail_predicate
        from .spec import normalize_rules

        use_fast = not any(_has_custom(n) for n in normalize_rules(rules))
    if use_fast:
        failp = compile_fail_predicate(
            rules, stream_df.schema, Options(**opts) if opts else None
        )
        src = stream_df
        ok = (~F.coalesce(failp, F.lit(False))).cast("int")
    else:
        src = annotate_stream(stream_df, rules, **opts)
        ok = (F.size(F.col(VIOLATIONS_COL)) == 0).cast("int")
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(ok).alias("passed"),
            (F.count(F.lit(1)) - F.sum(ok)).alias("failed"),
        )
        .withColumn(
            "verdict", F.when(F.col("failed") == 0, F.lit("pass")).otherwise(F.lit("fail"))
        )
    )


def profile_stream(
    stream_df: DataFrame,
    ts_col: str,
    columns: Sequence[str],
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Event-time windowed column-stats — the streaming twin of
    :func:`evalidate_spark.operators.table_checks.profile`: per window and
    column, ``n_rows / n_nulls / n_distinct (HLL) / min_repr / max_repr``
    in ONE watermarked incremental aggregate (every term — count, sum,
    min, max, ``approx_count_distinct`` — merges per micro-batch; state is
    O(windows x columns), never O(rows)).  Output is long-format rows
    ``(window, column, ...)`` via the shared one-row unpivot, so a
    streaming sink accumulates the same shape the batch profile emits —
    batch equivalence is pinned in ``tests/test_streaming.py``."""
    from .operators.table_checks import explode_structs

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        qc = F.col("`%s`" % c)
        aggs.append(F.sum(qc.isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.approx_count_distinct(qc).alias(f"{c}__distinct"))
        aggs.append(F.min(qc).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(qc).cast("string").alias(f"{c}__max"))
    row = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(*aggs)
    )
    parts = [
        f"struct('{c}' as column, __n as n_rows, `{c}__nulls` as n_nulls, "
        f"`{c}__distinct` as n_distinct, `{c}__min` as min_repr, "
        f"`{c}__max` as max_repr)"
        for c in columns
    ]
    return explode_structs(row, parts, keep=("window",)).select("window", "s.*")


def quantile_stream(
    stream_df: DataFrame,
    ts_col: str,
    columns: Sequence[str],
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.9, 0.99),
    window: str = "1 minute",
    watermark: str = "5 minutes",
    k: int = 200,
) -> DataFrame:
    """Event-time windowed quantiles — the streaming twin of
    :func:`evalidate_spark.operators.table_checks.quantile_state` +
    ``merge_quantile_states``: per window and numeric column, a
    DataSketches KLL sketch accumulated incrementally across
    micro-batches (state is one sketch per window × column, never
    O(rows)), then quantile extraction as a plain projection over the
    aggregate output.  ``n_values / min_val / max_val`` are exact, the
    ``q_`` columns estimates within the sketch's rank error — the same
    split as the batch operator, equivalence pinned in
    ``tests/test_streaming.py``."""
    from .operators.table_checks import explode_structs

    aggs = []
    for c in columns:
        qc = F.col("`%s`" % c).cast("double")
        aggs.append(F.count(qc).alias(f"{c}__cnt"))
        aggs.append(F.kll_sketch_agg_double(qc, F.lit(int(k))).alias(f"{c}__kll"))
    row = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(*aggs)
    )
    qnames = [("q_%g" % (q * 100)).replace(".", "_") for q in quantiles]
    parts = []
    for c in columns:
        qcols = ", ".join(
            "CASE WHEN `%s__cnt` > 0 THEN kll_sketch_get_quantile_double("
            "`%s__kll`, cast(%r as double)) END as %s" % (c, c, float(q), qn)
            for q, qn in zip(quantiles, qnames)
        )
        parts.append(
            f"struct('{c}' as column, coalesce(`{c}__cnt`, 0L) as n_values, "
            f"CASE WHEN `{c}__cnt` > 0 THEN kll_sketch_get_quantile_double("
            f"`{c}__kll`, cast(0.0 as double)) END as min_val, "
            f"CASE WHEN `{c}__cnt` > 0 THEN kll_sketch_get_quantile_double("
            f"`{c}__kll`, cast(1.0 as double)) END as max_val, {qcols})"
        )
    return explode_structs(row, parts, keep=("window",)).select("window", "s.*")


def checks_stream(
    stream_df: DataFrame,
    ts_col: str,
    checks,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Event-time windowed constraint pass rates — the streaming twin of
    :func:`evalidate_spark.operators.table_checks.check_expressions`: per
    window and check, ``(window, check_id, n_rows, n_failed, pass_bp,
    status)`` with the same NULL-predicate-fails contract and int64
    ``div`` basis points.

    Each check is one conditional sum inside a single watermarked
    incremental aggregate — counts merge per micro-batch, state is
    O(windows × checks), never O(rows) — so a constraint dashboard over an
    arriving corpus costs the same plan shape as the batch audit.  Batch
    equivalence per window is pinned in ``tests/test_streaming.py``."""
    from .operators.table_checks import explode_structs

    checks = list(checks.items()) if isinstance(checks, dict) else list(checks)
    if not checks:
        raise ValueError("checks_stream needs at least one check")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, (_, pred) in enumerate(checks):
        ok = F.coalesce(F.expr(pred).cast("boolean"), F.lit(False))
        aggs.append(
            F.coalesce(
                F.sum(F.when(ok, F.lit(0)).otherwise(F.lit(1))), F.lit(0)
            )
            .cast("long")
            .alias("__f%d" % i)
        )
    row = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(*aggs)
    )
    parts = []
    for i, (cid, _) in enumerate(checks):
        cid_sql = str(cid).replace("'", "''")
        parts.append(
            f"struct('{cid_sql}' as check_id, cast(__n as bigint) as n_rows, "
            f"`__f{i}` as n_failed, "
            f"CASE WHEN __n = 0 THEN 10000L "
            f"ELSE (__n - `__f{i}`) * 10000L div __n END as pass_bp, "
            f"CASE WHEN `__f{i}` = 0 THEN 'pass' ELSE 'fail' END as status)"
        )
    return explode_structs(row, parts, keep=("window",)).select("window", "s.*")


def funnel_stream(
    stream_df: DataFrame,
    ts_col: str,
    rules,
    fails_col: str = "fails",
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Event-time windowed quality-filter funnel — the streaming twin of
    :func:`evalidate_spark.functions.text.filter_funnel`: per window and
    stage, ``(window, stage_ix, rule, docs_surviving, docs_dropped)``
    with the same disjoint-from-``rules[:k]`` survivor rule over the
    per-doc ``fails`` list.

    All k disjointness sums are fused into ONE watermarked incremental
    aggregate (state O(windows × stages), never O(rows)), then unpivoted
    with the shared struct-explode — the arriving-corpus funnel dashboard
    costs the same plan shape as the batch report.  Batch equivalence per
    window is pinned in ``tests/test_streaming.py``."""
    from .operators.table_checks import explode_structs

    rules = list(rules)
    if not rules:
        raise ValueError("funnel_stream needs at least one rule")
    fl = F.split(F.coalesce(F.col("`%s`" % fails_col), F.lit("")), ",")
    aggs = [F.count(F.lit(1)).alias("__in")]
    for i in range(len(rules)):
        prefix = F.array(*[F.lit(r) for r in rules[: i + 1]])
        aggs.append(
            F.sum((~F.arrays_overlap(fl, prefix)).cast("long")).alias("__s%d" % i)
        )
    row = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col("`%s`" % ts_col), window).alias("window"))
        .agg(*aggs)
    )
    parts = [
        "struct(0 as stage_ix, 'input' as rule, "
        "cast(__in as bigint) as docs_surviving, 0L as docs_dropped)"
    ]
    for i, r in enumerate(rules):
        prev = "__in" if i == 0 else "`__s%d`" % (i - 1)
        r_sql = str(r).replace("'", "''")
        parts.append(
            f"struct({i + 1} as stage_ix, '{r_sql}' as rule, "
            f"`__s{i}` as docs_surviving, "
            f"{prev} - `__s{i}` as docs_dropped)"
        )
    return explode_structs(row, parts, keep=("window",)).select("window", "s.*")


def asof_join_stream(
    stream_df: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols=None,
) -> DataFrame:
    """Stream-static point-in-time join — the streaming twin of batch
    :func:`evalidate_spark.operators.asof.asof_join` for a STATIC feature
    table: each stream row picks up the latest right snapshot at or
    before its timestamp.

    The batch operator's union+window form doesn't stream (a global
    per-key window over an unbounded stream), so the static side is
    reshaped once into VALIDITY INTERVALS — each snapshot carries
    ``[right_ts, next snapshot's right_ts)`` via one ``lead`` window —
    and the join becomes a stateless stream-static range join
    (broadcastable right, append-mode safe, no state store at all).
    Unmatched rows keep NULL features; NULL keys/timestamps pass through
    unmatched (same contract as batch, equivalence-tested)."""
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, right_ts)]
    clash = set(value_cols) & set(stream_df.columns)
    if clash:  # same guard as batch asof_join
        raise ValueError("value_cols collide with left columns: %s" % sorted(clash))
    k = F.col("`%s`" % on)
    rt = F.col("`%s`" % right_ts)
    w = Window.partitionBy(k).orderBy(rt)
    intervals = (
        right.filter(k.isNotNull() & rt.isNotNull())
        .withColumn("__valid_to", F.lead(rt).over(w))
        .select(
            k.alias("__rk"),
            rt.alias("__asof_ts"),
            "__valid_to",
            *[F.col("`%s`" % c) for c in value_cols],
        )
    )
    lt = F.col("`%s`" % left_ts)
    cond = (
        (F.col("`%s`" % on) == F.col("__rk"))
        & (lt >= F.col("__asof_ts"))
        & (F.col("__valid_to").isNull() | (lt < F.col("__valid_to")))
    )
    return stream_df.join(F.broadcast(intervals), cond, "left").drop(
        "__rk", "__valid_to"
    )


def session_bounds_stream(
    stream_df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-based sessionization via Spark's NATIVE
    ``session_window`` — the stateful-streaming twin of batch
    :func:`evalidate_spark.operators.sessions.session_bounds`: same gap
    semantics, emitting ``(user, n_events, t_start_us, t_end_us)`` per
    session once the watermark closes it (append mode).  ``session_ix`` is
    intentionally absent — a running per-user index needs total order over
    the unbounded stream; join on bounds instead.  State is one open
    session per active user, expired by the watermark — O(active users),
    not O(stream)."""
    from .operators.sessions import _micros

    u = F.col("`%s`" % user_col)
    nn = stream_df.filter(
        u.isNotNull() & F.col("`%s`" % ts_col).isNotNull()
    ).withWatermark(ts_col, watermark)
    tus = _micros(nn, ts_col)
    return (
        nn.groupBy(
            u.alias(user_col),
            F.session_window(F.col("`%s`" % ts_col), "%d minutes" % gap_minutes),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(tus).alias("t_start_us"),
            F.max(tus).alias("t_end_us"),
        )
        .drop("session_window")
    )


def drift_stream(
    stream_df: DataFrame,
    baseline: DataFrame,
    col: str,
    ts_col: str = "ts",
    window: str = "10 minutes",
    bins: int = 10,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-event-time-window PSI/KS drift of a stream against a STATIC
    baseline — the online twin of
    :func:`evalidate_spark.operators.table_checks.drift_df` (same
    equi-width buckets over baseline bounds, same eps/ln term, same
    integer-basis-point output).

    Streaming shape: the baseline reduces to ONE broadcast row (bounds +
    per-bucket probabilities, computed batch-side once); the stream needs
    exactly one stateful aggregation — per-window conditional sums, one
    column per bucket — so PSI/KS become a stateless projection over that
    row and append mode works with plain watermark semantics.  State is
    O(open windows · bins), independent of stream length.

    Emits ``(window_start, window_end, n, psi_bp, ks_bp)`` when the
    watermark closes each window."""
    eps = 1e-6
    c = F.col("`%s`" % col).cast("double")
    nn_b = baseline.filter(c.isNotNull())
    bounds = nn_b.agg(F.min(c).alias("__lo"), F.max(c).alias("__hi"))
    width = (F.col("__hi") - F.col("__lo")) / bins
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(bins - 1),
            F.greatest(F.lit(0), F.floor((c - F.col("__lo")) / width).cast("int")),
        )
    )
    base_row = (
        nn_b.crossJoin(F.broadcast(bounds))
        .groupBy()
        .agg(
            F.first("__lo").alias("__lo"),
            F.first("__hi").alias("__hi"),
            F.count(F.lit(1)).alias("__bn"),
            *[
                F.sum((bucket == b).cast("long")).alias(f"__bc{b}")
                for b in range(bins)
            ],
        )
        .select(
            "__lo",
            "__hi",
            *[
                (F.col(f"__bc{b}") / F.col("__bn")).alias(f"__pb{b}")
                for b in range(bins)
            ],
        )
    )
    st = (
        stream_df.withWatermark(ts_col, watermark)
        .filter(c.isNotNull())
        .crossJoin(F.broadcast(base_row))
    )
    agg = st.groupBy(F.window(F.col("`%s`" % ts_col), window)).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum((bucket == b).cast("long")).alias(f"__c{b}") for b in range(bins)],
        *[F.first(f"__pb{b}").alias(f"__pb{b}") for b in range(bins)],
    )

    def term(b: int):
        pc = F.col(f"__c{b}") / F.col("n")
        pb = F.col(f"__pb{b}")
        gpc, gpb = F.greatest(pc, F.lit(eps)), F.greatest(pb, F.lit(eps))
        return (gpc - gpb) * F.log(gpc / gpb)

    psi = term(0)
    for b in range(1, bins):
        psi = psi + term(b)
    cum_pb, cum_pc, ks = None, None, None
    for b in range(bins):
        pc = F.col(f"__c{b}") / F.col("n")
        pb = F.col(f"__pb{b}")
        cum_pb = pb if cum_pb is None else cum_pb + pb
        cum_pc = pc if cum_pc is None else cum_pc + pc
        gap = F.abs(cum_pb - cum_pc)
        ks = gap if ks is None else F.greatest(ks, gap)
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n",
        F.floor(psi * 10_000).cast("long").alias("psi_bp"),
        F.floor(ks * 10_000).cast("long").alias("ks_bp"),
    )


def dedup_stream(
    stream_df: DataFrame,
    ts_col: str,
    text_col: str = "text",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: first occurrence of each
    content fingerprint within the watermark horizon passes, later copies
    drop.  ``dropDuplicatesWithinWatermark`` expires fingerprint state once
    it falls behind the watermark, so state size is O(distinct fingerprints
    per horizon), not O(stream lifetime) — the streaming twin of
    :func:`evalidate_spark.functions.dedup.distinct_by_fingerprint`."""
    from .functions.text import fingerprint

    return (
        stream_df.withColumn("__fp", fingerprint(F.col("`%s`" % text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )


def running_verdicts(
    stream_df: DataFrame,
    rules: Any,
    key_col: str,
    **opts: Any,
) -> DataFrame:
    """Per-key RUNNING pass/fail totals via ``applyInPandasWithState`` —
    the custom-stateful-operator path for semantics the built-in aggregates
    can't express incrementally per group (here: cumulative counts emitted
    every micro-batch, usable as a live data-quality scoreboard).

    State per key is two longs (rows, failed) — O(#keys), no growth with
    stream length.  Arrow-batched: the per-batch rows arrive as pandas
    frames, never row-at-a-time Python."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    ann = annotate_stream(stream_df, rules, **opts)
    flagged = ann.select(
        F.col("`%s`" % key_col).alias("k"),
        (F.size(F.col(VIOLATIONS_COL)) > 0).cast("long").alias("bad"),
    )

    def update(key, pdfs, state):
        rows, failed = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            rows += len(pdf)
            failed += int(pdf["bad"].sum())
        state.update((rows, failed))
        yield pd.DataFrame(
            {"k": [key[0]], "rows": [rows], "failed": [failed],
             "verdict": ["pass" if failed == 0 else "fail"]}
        )

    return flagged.groupBy("k").applyInPandasWithState(
        update,
        outputStructType="k string, rows bigint, failed bigint, verdict string",
        stateStructType="rows bigint, failed bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sequence_anomalies_stream(
    stream_df: DataFrame,
    entity_col: str = "user_id",
    seq_col: str = "event_id",
    ts_col: str = "ts",
    max_gap_us: Optional[int] = None,
) -> DataFrame:
    """Streaming twin of
    :func:`evalidate_spark.operators.sessions.sequence_anomalies` via
    ``applyInPandasWithState`` — the custom-stateful-operator path: the
    built-in windowed aggregates can't compare each event against its
    PREDECESSOR across micro-batch boundaries, so per-entity state carries
    exactly ``(last_seq, last_ts_us)`` (two longs per entity, O(#entities)
    forever, no growth with stream length).

    Within each micro-batch the entity's rows are sorted by ``(seq, ts)``
    and every adjacency — including the carry-over against the state —
    classifies with the batch operator's priority (duplicate_seq >
    ts_regression > gap).  Streaming ≡ batch holds when each entity's
    events arrive seq-ordered ACROSS batches (the snapshot-commit ingest
    shape); within a batch any order is fine.  Arrow-batched pandas,
    never row-at-a-time.

    Unlike the batch operator (which orders by any comparable seq type),
    the streaming twin requires an INTEGRAL *seq_col*: the carried state
    is a fixed ``(last_seq bigint, last_t bigint)`` pair."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .operators.sessions import _micros

    seq_dt = stream_df.schema[seq_col].dataType
    if not isinstance(
        seq_dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            "sequence_anomalies_stream needs an integral seq column "
            "(state carries it as bigint); got %s" % seq_dt.simpleString()
        )
    ent = F.col("`%s`" % entity_col)
    seq = F.col("`%s`" % seq_col)
    tus = _micros(stream_df, ts_col)
    base = stream_df.filter(
        ent.isNotNull() & seq.isNotNull() & tus.isNotNull()
    ).select(ent.alias("entity"), seq.alias("seq"), tus.alias("__t"))
    etype = stream_df.schema[entity_col].dataType.simpleString()
    stype = stream_df.schema[seq_col].dataType.simpleString()
    gap = None if max_gap_us is None else int(max_gap_us)

    def update(key, pdfs, state):
        have = state.exists
        ls, lt = state.get if have else (0, 0)
        out_seq, out_kind, out_meas = [], [], []
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["seq", "__t"], kind="mergesort"
        )
        for s, t in zip(pdf["seq"], pdf["__t"]):
            s, t = int(s), int(t)
            if have:
                kind = None
                if s == ls:
                    # abs: the batch operator orders the clashing pair by
                    # ts so its gap is non-negative; a duplicate arriving
                    # in a LATER batch with an earlier ts must report the
                    # same magnitude, not a negative carry-over
                    kind, meas = "duplicate_seq", abs(t - lt)
                elif lt > t:
                    kind, meas = "ts_regression", lt - t
                elif gap is not None and t - lt > gap:
                    kind, meas = "gap", t - lt
                if kind is not None:
                    out_seq.append(s)
                    out_kind.append(kind)
                    out_meas.append(meas)
            if have and s == ls:
                # within a duplicate-seq group the batch operator's
                # (seq, ts) order makes the group's MAX ts the
                # predecessor of the next seq — keep that invariant when
                # the duplicate arrives later with an earlier ts
                lt = max(lt, t)
            else:
                ls, lt = s, t
            have = True
        state.update((ls, lt))
        yield pd.DataFrame(
            {
                "entity": [key[0]] * len(out_seq),
                "seq": out_seq,
                "kind": out_kind,
                "measure": out_meas,
            }
        )

    return base.groupBy("entity").applyInPandasWithState(
        update,
        outputStructType="entity %s, seq %s, kind string, measure bigint"
        % (etype, stype),
        stateStructType="last_seq bigint, last_t bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_foreach_batch(
    stream_df: DataFrame,
    rules: Any,
    out_dir: str,
    checkpoint_dir: str,
    id_cols: Sequence[str] = ("doc_id",),
    trigger_available_now: bool = True,
):
    """Micro-batch bridge to the batch engine: each micro-batch is validated
    with :func:`evalidate_spark.validate` and its violations/verdicts are
    appended under *out_dir* (violations/, verdicts/ with batch_id).
    Spark's streaming checkpoint makes the sink exactly-once per batch."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        res = validate(batch_df, rules, id_cols=list(id_cols))
        res.violations.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir + "/violations"
        )
        res.verdicts.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir + "/verdicts"
        )

    writer = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def rate_stream(
    stream_df: DataFrame,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the COUNTING stage of
    :func:`~evalidate_spark.operators.table_checks.rate_anomalies`:
    watermarked tumbling-window counts emitting ``(bucket_s, n_events)``
    per closed *bucket_s*-second bucket (epoch-aligned, exactly the batch
    op's integer bucketing — ``window()`` tumbling windows align at epoch
    0).  NULL timestamps are excluded; state is one counter per open
    window, expired by the watermark.

    The anomaly layer stays a batch post-pass —
    :func:`~evalidate_spark.operators.table_checks.rate_from_counts`
    over the accumulated counts — because "this window vs the mean of
    ALL OTHER windows" is a whole-history aggregate: folding it into
    per-window state would freeze the baseline at whatever had streamed
    by each window's close and disagree with the batch verdict."""
    from .operators.sessions import _micros

    if bucket_s <= 0:
        raise ValueError("bucket_s must be positive")
    nn = stream_df.filter(F.col("`%s`" % ts_col).isNotNull()).withWatermark(
        ts_col, watermark
    )
    agg = (
        nn.groupBy(F.window(F.col("`%s`" % ts_col), "%d seconds" % bucket_s))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(F.col("window.start").alias("__ws"), "n_events")
    )
    bucket = F.floor(_micros(agg, "__ws") / F.lit(1000000)).cast("long")
    return agg.select(bucket.alias("bucket_s"), "n_events")


def suppress_repeats_stream(
    stream_df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "event_type",
    window_s: int = 3600,
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of
    :func:`~evalidate_spark.operators.sessions.suppress_repeats` via
    ``applyInPandasWithState``: the consecutive-repeat flag needs each
    event's PREDECESSOR across micro-batch boundaries, which no built-in
    windowed aggregate carries — per-key state is exactly the last
    timeline event ``(last_t, t_null, val, val_null)``: O(#keys)
    forever, independent of stream length.

    Semantics are the batch operator's, replayed per adjacency:
    ``kept = false`` iff the predecessor in ``(ts, order_col)``
    nulls-first order has a null-safe-equal value and both timestamps
    exist within *window_s*.  A NULL-ts event is always kept, never
    suppresses its successor, but still BECOMES the predecessor (lag is
    positional) — so it resets the chain exactly like the batch window.
    NULL keys are their own state group, like SQL PARTITION BY.

    Streaming ≡ batch when each key's events arrive in timeline order
    across batches (NULL-ts rows, which the batch window sorts first,
    belong in the earliest batch); within one batch any order is fine.

    The state store needs a fixed-width value slot, so *value_col* must
    be string / integral / boolean (cast-to-string is injective for
    these); richer types should derive a string key upstream.  Output:
    the key columns, *order_col*, and ``kept`` — join back on the unique
    *order_col* for the full rows.
    """
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .operators.sessions import _micros

    if order_col not in stream_df.columns:
        raise ValueError(
            "suppress_repeats_stream: tie-break column %r not in input"
            % order_col
        )
    vdt = stream_df.schema[value_col].dataType
    if not isinstance(
        vdt,
        (T.StringType, T.BooleanType, T.ByteType, T.ShortType,
         T.IntegerType, T.LongType),
    ):
        raise ValueError(
            "suppress_repeats_stream needs a string/integral/boolean "
            "value column (state carries it as string); got %s"
            % vdt.simpleString()
        )
    keys = list(key_cols)
    tus = _micros(stream_df, ts_col)
    base = stream_df.select(
        *[F.col("`%s`" % k).alias("__k%d" % i) for i, k in enumerate(keys)],
        F.col("`%s`" % order_col).alias("__o"),
        tus.alias("__t"),
        F.col("`%s`" % value_col).cast("string").alias("__v"),
    )
    win_us = int(window_s) * 1_000_000
    ktypes = [stream_df.schema[k].dataType.simpleString() for k in keys]
    otype = stream_df.schema[order_col].dataType.simpleString()
    out_ddl = ", ".join(
        ["%s %s" % (k, t) for k, t in zip(keys, ktypes)]
        + ["%s %s" % (order_col, otype), "kept boolean"]
    )

    def update(key, pdfs, state):
        have = state.exists
        lt, tnull, lv, vnull = state.get if have else (0, True, "", True)
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["__t", "__o"], kind="mergesort", na_position="first"
        )
        orders, kept = [], []
        for o, t, v in zip(pdf["__o"], pdf["__t"], pdf["__v"]):
            t_is_null = pd.isna(t)
            v_is_null = pd.isna(v)
            if have and not tnull and not t_is_null:
                same = (vnull and v_is_null) or (
                    not vnull and not v_is_null and lv == str(v)
                )
                supp = same and int(t) - lt <= win_us
            else:
                supp = False
            orders.append(o)
            kept.append(not supp)
            # positional lag: EVERY event becomes the predecessor
            lt = 0 if t_is_null else int(t)
            tnull = bool(t_is_null)
            lv = "" if v_is_null else str(v)
            vnull = bool(v_is_null)
            have = True
        state.update((lt, tnull, lv, vnull))
        out = {keys[i]: [key[i]] * len(orders) for i in range(len(keys))}
        out[order_col] = orders
        out["kept"] = kept
        yield pd.DataFrame(out)

    return base.groupBy(*["__k%d" % i for i in range(len(keys))]).applyInPandasWithState(
        update,
        outputStructType=out_ddl,
        stateStructType="last_t bigint, t_null boolean, val string, val_null boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def referential_stream(
    fact_stream: DataFrame,
    dim_stream: DataFrame,
    fact_key: str,
    dim_key: str,
    fact_ts: str,
    dim_ts: str,
    watermark: str = "10 minutes",
    tolerance: str = "10 minutes",
) -> DataFrame:
    """STREAM-STREAM referential check — dangling references when the
    dimension is itself a stream (a media catalog being ingested
    alongside the documents that cite it): fact rows whose key finds no
    dim row within ``tolerance`` of their event time are emitted as
    violations ONCE THE WATERMARK PASSES (i.e. once a matching dim row
    can no longer arrive).  The batch LEFT ANTI join can't express
    "wait, the dim row may still be in flight"; Spark's watermarked
    left-outer stream-stream join is exactly that semantics: unmatched
    rows are held in the state store and released with NULL right side
    only when their join window expires.

    Returns ``(fact_key, fact_ts)`` violation rows, append-mode.

    State size is bounded by the watermark horizon on BOTH inputs (late
    rows beyond it are dropped by Spark); the join condition bounds dim
    event time to ±*tolerance* of the fact's, so each state row expires
    deterministically.  NULL keys/timestamps never match and are
    filtered out up front (the batch NULL-accounting contract lives in
    completeness checks)."""
    fk = F.col("`%s`" % fact_key)
    ft = F.col("`%s`" % fact_ts)
    facts = (
        fact_stream.filter(fk.isNotNull() & ft.isNotNull())
        .select(fk.alias("__fk"), ft.alias("__ft"))
        .withWatermark("__ft", watermark)
    )
    dk = F.col("`%s`" % dim_key)
    dt = F.col("`%s`" % dim_ts)
    dims = (
        dim_stream.filter(dk.isNotNull() & dt.isNotNull())
        .select(dk.alias("__dk"), dt.alias("__dt"))
        .withWatermark("__dt", watermark)
    )
    cond = (
        (F.col("__fk") == F.col("__dk"))
        & (F.col("__dt") >= F.col("__ft") - F.expr("INTERVAL %s" % tolerance))
        & (F.col("__dt") <= F.col("__ft") + F.expr("INTERVAL %s" % tolerance))
    )
    joined = facts.join(dims, cond, "left_outer")
    return joined.filter(F.col("__dk").isNull()).select(
        F.col("__fk").alias(fact_key), F.col("__ft").alias(fact_ts)
    )


def quality_stream(
    stream_df: DataFrame,
    ts_col: str,
    text_col: str = "text",
    window: str = "1 minute",
    watermark: str = "5 minutes",
    short_tokens: int = 10,
) -> DataFrame:
    """Event-time windowed quality-flag shares — the streaming twin of
    the per-wave ``quality_trend`` report: per window, ``n_docs`` plus
    the integer-bp share of too-short (< ``short_tokens`` whitespace
    tokens) and repetitive (distinct/total token ratio < 0.5) documents.
    A window whose ``short_bp`` spikes is a feed emitting truncated
    bodies NOW — hours before a batch audit would see it.

    The token flags are computed in the pre-aggregation projection (one
    let-bound token array per doc, pure Column expressions), so the
    stateful part is a plain windowed count/sum aggregate: state is
    O(windows), every term merges per micro-batch, and the output is
    exactly the batch arithmetic (``sum·10000 DIV count``) — batch
    equivalence on a closed input is pinned in tests.  NULL text counts
    as zero tokens (short, never repetitive)."""
    from .functions.text import tokens

    tc = F.col("`%s`" % text_col)
    per = F.element_at(
        F.transform(
            F.array(tokens(tc)),
            lambda tk: F.struct(
                F.size(tk).cast("long").alias("nt"),
                F.size(F.array_distinct(tk)).cast("long").alias("dt"),
            ),
        ),
        1,
    )
    flagged = stream_df.withWatermark(ts_col, watermark).select(
        F.col(ts_col),
        F.coalesce(per["nt"], F.lit(0)).alias("__nt"),
        F.coalesce(per["dt"], F.lit(0)).alias("__dt"),
    )
    return (
        flagged.groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("__nt") < int(short_tokens)).cast("long")).alias(
                "__short"
            ),
            F.sum((F.col("__dt") * 2 < F.col("__nt")).cast("long")).alias(
                "__rep"
            ),
        )
        .select(
            "window",
            "n_docs",
            F.expr("__short * 10000L DIV greatest(n_docs, 1)")
            .cast("long")
            .alias("short_bp"),
            F.expr("__rep * 10000L DIV greatest(n_docs, 1)")
            .cast("long")
            .alias("repetitive_bp"),
        )
    )


def novelty_stream(
    stream_df: DataFrame,
    ts_col: str,
    text_col: str = "text",
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Event-time windowed content-novelty monitor — the streaming
    cousin of the batch ``novelty_trend`` wave report: per window,
    ``n_docs``, the distinct content fingerprints (incremental HLL — the
    only distinct-count that merges per micro-batch without per-key
    state), and the implied within-window repeat estimate.  A window
    whose ``est_repeats`` share jumps is a feed replaying itself NOW.

    ``n_fps`` counts docs WITH a fingerprint (NULL text has none and
    can never be a repeat — same contract as the batch report), so
    ``est_repeats = n_fps − approx_distinct`` never blames missing
    text.  HLL keeps state O(windows), and the same sketch runs on the
    batch side, so stream ≡ batch is exact (pinned in tests) rather
    than approximately close."""
    from .functions.text import fingerprint

    tc = F.col("`%s`" % text_col)
    fp = fingerprint(tc)
    d = stream_df.withWatermark(ts_col, watermark).select(
        F.col(ts_col), fp.alias("__fp")
    )
    return (
        d.groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__fp").cast("long").alias("n_fps"),
            F.approx_count_distinct("__fp").cast("long").alias(
                "approx_distinct"
            ),
        )
        .select(
            "window",
            "n_docs",
            "n_fps",
            "approx_distinct",
            F.greatest(
                F.col("n_fps") - F.col("approx_distinct"), F.lit(0).cast("long")
            ).alias("est_repeats"),
        )
    )


def centroid_stream(
    stream_df: DataFrame,
    ts_col: str,
    vec_col: str = "embedding",
    dim: int = 64,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Event-time windowed embedding-centroid states — the streaming
    twin of ``similarity.embedding_centroid_state``: per window,
    ``(window, n_vecs, sums)`` where ``sums`` is the per-dim int64 sum
    of ``round(x·10^6)`` over the window's valid vectors.  Downstream,
    consecutive windows compare with
    ``similarity.centroid_state_cosine`` (or fold with
    ``merge_centroid_states``), so an encoder swap mid-stream surfaces
    within one watermark delay instead of at the next batch audit.

    State is O(windows) × (64 longs + a count) — integer sums are the
    only legal streaming accumulator here (float mean vectors are
    micro-batch-order-dependent and would break stream ≡ batch
    equality, which the tests pin EXACTLY).  The exclusion contract
    matches the batch state: NULL vectors, wrong dimension, or NULL/
    non-finite elements are dropped before aggregation."""
    vc = F.col("`%s`" % vec_col)
    d = (
        stream_df.withWatermark(ts_col, watermark)
        .filter(
            vc.isNotNull()
            & (F.size(vc) == dim)
            & (
                F.size(
                    F.filter(
                        vc,
                        lambda x: x.isNull()
                        | F.isnan(x.cast("double"))
                        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
                    )
                )
                == 0
            )
        )
        .select(F.col(ts_col), vc.alias("__v"))
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_vecs")]
    for i in range(dim):
        el = F.element_at(F.col("__v"), i + 1).cast("double")
        aggs.append(
            F.coalesce(
                F.sum(F.round(el * F.lit(1_000_000.0)).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("__s%d" % i)
        )
    return (
        d.groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(*aggs)
        .select(
            "window",
            "n_vecs",
            F.array(*[F.col("__s%d" % i) for i in range(dim)]).alias("sums"),
        )
    )


def vector_health_stream(
    stream_df: DataFrame,
    ts_col: str,
    vec_col: str = "embedding",
    expected_dim: int = 64,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Event-time windowed embedding-column health — the streaming twin
    of ``table_checks.embedding_health_trend`` with the window as the
    ingest axis: per window the same integer counters (``n_rows,
    n_null_vec, n_wrong_dim, n_null_elem, n_nonfinite, n_zero_norm``)
    plus ``n_valid`` (the full scoring contract — non-NULL,
    *expected_dim* wide, every element finite).  A ``n_nonfinite``
    spike in the live window is an encoder deploy gone bad NOW —
    within one watermark delay instead of at the next batch audit, and
    BEFORE the poisoned vectors reach an index build.

    Every flag is computed in the pre-aggregation projection (pure
    Column expressions over the array), so the stateful part is a plain
    windowed count/sum: state is O(windows) × 7 longs, every counter
    merges per micro-batch, and integer sums make stream ≡ batch EXACT
    (pinned in tests).  Unlike the id-waved batch trend no id column is
    needed — event time is the axis — so NULL-vector rows are counted.
    Rows with a NULL *ts_col* belong to no window and are excluded by an
    explicit ``IS NOT NULL`` filter ahead of the watermark; beyond that
    only rows the watermark drops are excluded."""
    vc = F.col("`%s`" % vec_col)
    dim_c = F.size(vc)
    inf = F.lit(float("inf"))
    bad = F.filter(
        vc,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == inf),
    )
    live = stream_df.filter(F.col(ts_col).isNotNull())
    flagged = live.withWatermark(ts_col, watermark).select(
        F.col(ts_col),
        vc.isNull().cast("long").alias("__nullv"),
        (vc.isNotNull() & (dim_c != F.lit(int(expected_dim))))
        .cast("long")
        .alias("__wrongd"),
        F.coalesce(F.exists(vc, lambda x: x.isNull()), F.lit(False))
        .cast("long")
        .alias("__nulle"),
        F.coalesce(
            F.exists(vc, lambda x: F.isnan(x) | (F.abs(x) == inf)),
            F.lit(False),
        )
        .cast("long")
        .alias("__nonf"),
        (
            (dim_c > 0)
            & F.coalesce(F.forall(vc, lambda x: x == F.lit(0.0)), F.lit(False))
        )
        .cast("long")
        .alias("__zero"),
        (
            vc.isNotNull()
            & (dim_c == F.lit(int(expected_dim)))
            & (F.size(bad) == 0)
        )
        .cast("long")
        .alias("__valid"),
    )
    return (
        flagged.groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("__nullv").cast("long").alias("n_null_vec"),
            F.sum("__wrongd").cast("long").alias("n_wrong_dim"),
            F.sum("__nulle").cast("long").alias("n_null_elem"),
            F.sum("__nonf").cast("long").alias("n_nonfinite"),
            F.sum("__zero").cast("long").alias("n_zero_norm"),
            F.sum("__valid").cast("long").alias("n_valid"),
        )
    )
