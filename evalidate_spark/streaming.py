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
sink semantics.  Only the windowed aggregations are stateful and need a
watermark.

**One definition per metric family.**  A windowed twin never re-types
its batch operator's aggregates: each family has one
``<family>_aggs(...)`` list of aggregate Columns and one
``<family>_rows(agg_df, ..., keep=())`` finishing projection next to its
batch operator, and the twin is ``<family>_rows(_windowed(...).agg(
*<family>_aggs(...)), keep=("window",))``.  Stream ≡ batch per window is
pinned in ``tests/test_streaming.py``.

**NULL event time.**  A row whose event-time column is NULL belongs to
no window: every windowed twin drops it in :func:`_windowed`, ahead of
the watermark, and counts it nowhere.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, GroupedData, Window, functions as F

from .engine import validate
from .fastpath import _passes, verdict_aggs, verdict_rows


def _windowed(
    stream_df: DataFrame, ts_col: str, window: str, watermark: str
) -> GroupedData:
    """The one event-time group-by of the windowed twins: drop NULL
    *ts_col* rows, set the *watermark*, group by a tumbling
    ``window``."""
    ts = F.col("`%s`" % ts_col)
    return (
        stream_df.filter(ts.isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts, window).alias("window"))
    )


def annotate_stream(stream_df: DataFrame, rules: Any, **opts: Any) -> DataFrame:
    """Input stream + ``violations``/``first_error`` columns — the batch
    engine's ``annotated`` frame (one stateless projection, append-mode
    safe)."""
    return validate(stream_df, rules, **opts).annotated


def violations_stream(
    stream_df: DataFrame, rules: Any, id_cols: Sequence[str] = ("doc_id",), **opts: Any
) -> DataFrame:
    """Typed violation rows as an append-mode stream — the batch engine's
    ``violations`` frame, so passing rows build no violations and each
    failing row's violation array is built once."""
    return validate(stream_df, rules, id_cols=id_cols, **opts).violations


def windowed_verdicts(
    stream_df: DataFrame,
    rules: Any,
    ts_col: str,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    **opts: Any,
) -> DataFrame:
    """Event-time windowed pass/fail roll-up (the streaming analogue of the
    per-partition verdicts): ``(window, rows, passed, failed, verdict)``
    from one watermarked window aggregate, update/append mode per Spark's
    watermark rules — late rows beyond *watermark* drop.

    Shares ``fastpath.verdict_aggs`` / ``verdict_rows`` with the batch
    ``partition_verdicts``.  Pass/fail is ``validate(...)``'s fail
    predicate, as for batch ``verdicts``: the message-free boolean, so no
    violation array is built, except for specs with custom pandas-UDF
    validators, where it is ``size(violations) > 0``."""
    res = validate(stream_df, rules, **opts)
    flags = res.annotated.select(
        F.col("`%s`" % ts_col), _passes(res._fails()).alias("ok")
    )
    agg = _windowed(flags, ts_col, window, watermark).agg(*verdict_aggs(F.col("ok")))
    return verdict_rows(agg)


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
    ``(window, column, ...)``, the batch profile's shape without
    ``quantiles``.  Shares ``table_checks.profile_aggs`` /
    ``profile_rows``."""
    from .operators.table_checks import profile_aggs, profile_rows

    columns = list(columns)
    agg = _windowed(stream_df, ts_col, window, watermark).agg(
        *profile_aggs(stream_df, columns)
    )
    return profile_rows(agg, columns, keep=("window",))


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
    split as the batch operator.  Shares ``table_checks.quantile_aggs`` /
    ``quantile_rows``."""
    from .operators.table_checks import quantile_aggs, quantile_rows

    columns = list(columns)
    agg = _windowed(stream_df, ts_col, window, watermark).agg(
        *quantile_aggs(columns, k)
    )
    return quantile_rows(agg, columns, quantiles, keep=("window",))


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
    arriving corpus costs the same plan shape as the batch audit.  Shares
    ``table_checks.check_aggs`` / ``check_rows``."""
    from .operators.table_checks import _check_list, check_aggs, check_rows

    checks = _check_list(checks, "checks_stream")
    agg = _windowed(stream_df, ts_col, window, watermark).agg(*check_aggs(checks))
    return check_rows(agg, checks, keep=("window",))


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
    per-doc ``fails`` list (no *rules*: only the stage-0 ``input`` row).

    All k disjointness sums are fused into ONE watermarked incremental
    aggregate (state O(windows × stages), never O(rows)), then unpivoted —
    the arriving-corpus funnel dashboard costs the same plan shape as the
    batch report.  Shares ``text.funnel_aggs`` / ``funnel_rows``."""
    from .functions.text import funnel_aggs, funnel_rows

    rules = list(rules)
    agg = _windowed(stream_df, ts_col, window, watermark).agg(
        *funnel_aggs(rules, fails_col)
    )
    return funnel_rows(agg, rules, keep=("window",))


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
    :func:`evalidate_spark.operators.table_checks.drift_df` (the same
    ``table_checks._equi_width`` buckets over baseline bounds, the same
    ``table_checks._psi_term``, the same integer-basis-point output).

    Streaming shape: the baseline reduces to ONE broadcast row (bounds +
    per-bucket probabilities, computed batch-side once); the stream needs
    exactly one stateful aggregation — per-window conditional sums, one
    column per bucket — so PSI/KS become a stateless projection over that
    row and append mode works with plain watermark semantics.  State is
    O(open windows · bins), independent of stream length.

    Emits ``(window_start, window_end, n, psi_bp, ks_bp)`` when the
    watermark closes each window; ``psi_bp``/``ks_bp`` are NULL when the
    baseline has no non-NULL, non-NaN value, as in ``drift_df`` (NaN
    events fall in no bin and are not counted in ``n``)."""
    from .operators.table_checks import _binned, _equi_width, _psi_term

    c = F.col("`%s`" % col).cast("double")
    bounds, bucket = _equi_width(baseline, c, bins)
    base_row = (
        baseline.filter(_binned(c))
        .crossJoin(F.broadcast(bounds))
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
    st = stream_df.filter(_binned(c)).crossJoin(F.broadcast(base_row))
    agg = _windowed(st, ts_col, window, watermark).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum((bucket == b).cast("long")).alias(f"__c{b}") for b in range(bins)],
        *[F.first(f"__pb{b}").alias(f"__pb{b}") for b in range(bins)],
    )
    pcs = [F.col(f"__c{b}") / F.col("n") for b in range(bins)]
    pbs = [F.col(f"__pb{b}") for b in range(bins)]
    psi = reduce(operator.add, [_psi_term(pc, pb) for pc, pb in zip(pcs, pbs)])
    cum_pb, cum_pc, ks = None, None, None
    for pc, pb in zip(pcs, pbs):
        cum_pb = pb if cum_pb is None else cum_pb + pb
        cum_pc = pc if cum_pc is None else cum_pc + pc
        gap = F.abs(cum_pb - cum_pc)
        ks = gap if ks is None else F.greatest(ks, gap)
    # an empty baseline leaves every __pb NULL: the cumulative sums make
    # ks NULL, and this guard does the same for psi (whose clamp would
    # otherwise read NULL as 1e-6)
    psi = F.when(F.col("__pb0").isNotNull(), psi)
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
    frames, never row-at-a-time Python.  A row fails by
    ``validate(...)``'s fail predicate, the one ``windowed_verdicts``
    reads."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    res = validate(stream_df, rules, **opts)
    flagged = res.annotated.select(
        F.col("`%s`" % key_col).alias("k"),
        res._fails().cast("long").alias("bad"),
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
    agg = (
        _windowed(stream_df, ts_col, "%d seconds" % bucket_s, watermark)
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
    flagged = stream_df.select(
        F.col("`%s`" % ts_col),
        F.coalesce(per["nt"], F.lit(0)).alias("__nt"),
        F.coalesce(per["dt"], F.lit(0)).alias("__dt"),
    )
    return (
        _windowed(flagged, ts_col, window, watermark)
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
    d = stream_df.select(F.col("`%s`" % ts_col), fp.alias("__fp"))
    return (
        _windowed(d, ts_col, window, watermark)
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
    non-finite elements are dropped before aggregation
    (``similarity._vec_ok``).  Shares ``similarity.centroid_aggs`` /
    ``centroid_rows``."""
    from .functions.similarity import _vec_ok, centroid_aggs, centroid_rows

    vc = F.col("`%s`" % vec_col)
    valid = stream_df.filter(_vec_ok(vc, dim))
    agg = _windowed(valid, ts_col, window, watermark).agg(*centroid_aggs(vc, dim))
    return centroid_rows(agg, dim, keep=("window",))


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

    Every counter is a conditional sum over pure Column expressions on
    the array, so the stateful part is a plain windowed count/sum: every
    counter merges per micro-batch, and integer sums make stream ≡ batch
    EXACT (pinned in tests).  Unlike the id-waved batch trend no id
    column is needed — event time is the axis — so NULL-vector rows are
    counted; only NULL-event-time rows and rows the watermark drops are
    excluded.  Shares ``table_checks.vector_health_aggs`` /
    ``vector_health_rows``."""
    from .operators.table_checks import vector_health_aggs, vector_health_rows

    aggs = vector_health_aggs(F.col("`%s`" % vec_col), int(expected_dim))
    agg = _windowed(stream_df, ts_col, window, watermark).agg(*aggs)
    return vector_health_rows(agg, keep=("window",))
