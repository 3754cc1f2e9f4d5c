"""Structured Streaming adapter: streaming violations equal the batch
engine's on the same files; windowed verdicts aggregate; foreachBatch
bridge appends with exactly-once checkpointing."""

import time

import pytest
from pyspark.sql import functions as F

from evalidate_spark import Rule, Size, Allowed, validate
from evalidate_spark.spec import CustomValidator
from evalidate_spark import streaming


@pytest.fixture()
def docs_dir(spark, tmp_path):
    path = str(tmp_path / "stream_in")
    (
        spark.range(120)
        .selectExpr(
            "concat('d', id) doc_id",
            "case when id % 11 = 0 then 'x' else 'valid text body' end text",
            "case when id % 7 = 0 then 'zz' else 'en' end lang",
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*30) ts",
        )
        .repartition(4)
        .write.parquet(path)
    )
    return path


RULES = [
    Rule(key="doc_id"),
    Rule(key="text", validators=[Size(5, 100)]),
    Rule(key="lang", validators=[Allowed(["en", "es"])]),
]


def _stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _run_to_memory(df, name, mode="append", timeout_s=120):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    assert not q.isActive
    return q


class TestStreaming:
    def test_violations_stream_equals_batch(self, spark, docs_dir):
        sv = streaming.violations_stream(_stream(spark, docs_dir), RULES)
        _run_to_memory(sv, "sv_out")
        got = sorted(
            tuple(r) for r in spark.table("sv_out").select("doc_id", "rule_id", "message").collect()
        )
        batch = validate(spark.read.parquet(docs_dir), RULES, id_cols=["doc_id"])
        want = sorted(
            tuple(r) for r in batch.violations.select("doc_id", "rule_id", "message").collect()
        )
        assert got == want and len(got) > 0

    def test_violations_stream_builds_violations_once(self, spark, docs_dir):
        """violations_stream is validate().violations: no inferred
        size(violations) filter sits below the Generate, which would build
        each failing row's violation array a second time."""
        sv = streaming.violations_stream(_stream(spark, docs_dir), RULES)
        q = _run_to_memory(sv, "sv_plan_out")
        plan = q._jsq.explainInternal(True)
        opt = plan.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]
        below = opt[opt.index("Generate"):].splitlines()
        assert not [ln for ln in below if "Filter" in ln and "size(" in ln], opt
        assert spark.table("sv_plan_out").count() > 0

    def test_windowed_verdicts(self, spark, docs_dir):
        wv = streaming.windowed_verdicts(
            _stream(spark, docs_dir), RULES, ts_col="ts", window="10 minutes"
        )
        _run_to_memory(wv, "wv_out", mode="complete")
        rows = spark.table("wv_out").collect()
        assert sum(r["rows"] for r in rows) == 120
        # 120 docs * 30s apart = 1 hour span → 6 windows of 10 minutes
        assert len(rows) == 6
        assert all(r["verdict"] == ("pass" if r["failed"] == 0 else "fail") for r in rows)
        assert any(r["failed"] > 0 for r in rows)
        # each window ≡ a batch validate() roll-up of the static input —
        # also for a custom-validator spec, whose pass/fail is read from
        # size(violations) instead of the fail predicate
        custom = [
            Rule(key="doc_id"),
            Rule(key="text", validators=[CustomValidator(lambda v: len(v) >= 5)]),
            Rule(key="lang", validators=[Allowed(["en", "es"])]),
        ]
        wv_custom = streaming.windowed_verdicts(
            _stream(spark, docs_dir), custom, ts_col="ts", window="10 minutes"
        )
        _run_to_memory(wv_custom, "wv_custom_out", mode="complete")
        static = spark.read.parquet(docs_dir)
        for rules, got in ((RULES, rows), (custom, spark.table("wv_custom_out").collect())):
            res = validate(static, rules)
            w = F.window("ts", "10 minutes")
            n = {r["w"]: r["count"] for r in res.annotated.groupBy(w.alias("w")).count().collect()}
            bad = {r["w"]: r["count"] for r in res.failed.groupBy(w.alias("w")).count().collect()}
            want = {k: (v, v - bad.get(k, 0), bad.get(k, 0)) for k, v in n.items()}
            assert {
                r["window"]: (r["rows"], r["passed"], r["failed"]) for r in got
            } == want

    def test_dedup_stream_bounded_state(self, spark, tmp_path):
        path = str(tmp_path / "dups_in")
        (
            spark.range(60)
            .selectExpr(
                "concat('d', id) doc_id",
                # 3 copies of each of 20 distinct texts
                "concat('text body number ', cast(id % 20 as string)) text",
                "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) ts",
            )
            .repartition(2)
            .write.parquet(path)
        )
        dd = streaming.dedup_stream(_stream(spark, path), "ts", watermark="1 hour")
        _run_to_memory(dd, "dd_out")
        rows = spark.table("dd_out").collect()
        assert len(rows) == 20
        assert len({r["text"] for r in rows}) == 20

    def test_running_verdicts_stateful(self, spark, docs_dir):
        rv = streaming.running_verdicts(_stream(spark, docs_dir), RULES, key_col="lang")
        _run_to_memory(rv, "rv_out", mode="update")
        # last update per key = cumulative totals
        rows = spark.table("rv_out").collect()
        latest = {}
        for r in rows:
            latest[r["k"]] = (r["rows"], r["failed"], r["verdict"])
        batch = validate(spark.read.parquet(docs_dir), RULES, id_cols=["doc_id"])
        want = {
            r["lang"]: (r["n"], r["bad"])
            for r in batch.annotated.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.size("violations") > 0).cast("long")).alias("bad"),
            )
            .collect()
        }
        assert {k: v[:2] for k, v in latest.items()} == want
        assert all(
            v[2] == ("pass" if v[1] == 0 else "fail") for v in latest.values()
        )

    def test_foreach_batch_bridge(self, spark, docs_dir, tmp_path):
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        q = streaming.run_foreach_batch(
            _stream(spark, docs_dir), RULES, out, ckpt
        )
        q.awaitTermination(120)
        viols = spark.read.parquet(out + "/violations")
        batch = validate(spark.read.parquet(docs_dir), RULES, id_cols=["doc_id"])
        assert viols.count() == batch.violations.count()
        # restart with same checkpoint: no new data → no duplicate appends
        q2 = streaming.run_foreach_batch(_stream(spark, docs_dir), RULES, out, ckpt)
        q2.awaitTermination(120)
        assert spark.read.parquet(out + "/violations").count() == batch.violations.count()


def test_session_bounds_stream_equals_batch(spark, tmp_path):
    """Streaming session_window roll-up ≡ batch session_bounds on the same
    files (bounds + event counts; session_ix is batch-only by design).

    Append mode only emits a session once the watermark passes its end
    (t_end + gap), so the trailing sessions stay in state when the first
    availableNow run drains — that is CORRECT streaming semantics, not a
    bug.  The test flushes them the way production would: append a
    far-future sentinel event and restart from the same checkpoint, which
    advances the watermark past every real session."""
    from evalidate_spark.operators.sessions import session_bounds

    path = str(tmp_path / "sess_in")
    (
        spark.range(300)
        .selectExpr(
            "cast(id % 7 as long) user_id",
            # bursts: 3 events 5 min apart, then a 2h jump per burst group
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0, cast(id/21 as int)*120 + (id % 3)*5, 0) ts",
        )
        .repartition(4)
        .write.parquet(path)
    )
    batch_df = spark.read.parquet(path)
    want = {
        (r["user_id"], r["n_events"], r["t_start_us"], r["t_end_us"])
        for r in session_bounds(batch_df, gap_minutes=30).collect()
    }
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")

    def drain():
        q = (
            streaming.session_bounds_stream(
                _stream(spark, path), gap_minutes=30, watermark="0 seconds"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    drain()
    spark.range(1).selectExpr(
        "cast(999 as long) user_id", "timestamp'2027-01-01 00:00:00' ts"
    ).write.mode("append").parquet(path)
    drain()
    got = {
        (r["user_id"], r["n_events"], r["t_start_us"], r["t_end_us"])
        for r in spark.read.parquet(out).filter("user_id != 999").collect()
    }
    assert got == want and len(got) > 10


def test_drift_stream_matches_batch_drift(spark, tmp_path):
    """Each emitted window's psi/ks equals batch drift_df(slice, baseline)
    (±1 bp for float summation order) and a drifted window lights up."""
    from evalidate_spark.operators.table_checks import drift_df

    base_path = str(tmp_path / "drift_base")
    spark.range(2000).selectExpr("cast(id % 10 AS double) AS v").write.parquet(base_path)
    baseline = spark.read.parquet(base_path)

    # 3 ten-minute windows: w0 matches baseline, w1 shifted, w2 matches
    path = str(tmp_path / "drift_in")
    spark.range(900).selectExpr(
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0, cast(id*2 as int)) ts",
        """cast(CASE WHEN id >= 300 AND id < 600 THEN 5 + (id % 5)
                     ELSE id % 10 END AS double) AS v""",
    ).repartition(3).write.parquet(path)

    st = streaming.drift_stream(
        _stream(spark, path), baseline, "v", window="10 minutes", watermark="0 seconds"
    )
    out = str(tmp_path / "drift_out")
    ckpt = str(tmp_path / "drift_ckpt")

    def drain():
        q = (
            st.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # flush the last window past the watermark
    spark.range(1).selectExpr(
        "timestamp'2026-01-02 00:00:00' ts", "cast(1 as double) v"
    ).write.mode("append").parquet(path)
    drain()
    rows = {
        r["window_start"].minute: r
        for r in spark.read.parquet(out).filter("n > 1").collect()
    }
    assert set(rows) == {0, 10, 20}
    assert rows[0]["n"] == 300 and sum(r["n"] for r in rows.values()) == 900
    # the shifted middle window must dominate
    assert rows[10]["psi_bp"] > 5 * max(rows[0]["psi_bp"], rows[20]["psi_bp"], 1)
    assert rows[10]["ks_bp"] > 2000
    # window-for-window parity with the batch operator
    batch = spark.read.parquet(path).filter("v is not null")
    for minute, r in rows.items():
        sl = batch.filter(
            f"ts >= timestamp'2026-01-01 00:{minute:02d}:00' AND "
            f"ts < timestamp'2026-01-01 00:{minute + 10:02d}:00'"
        )
        [b] = drift_df(sl, baseline, ["v"]).collect()
        assert abs(b["psi_bp"] - r["psi_bp"]) <= 1, (minute, b, r)
        assert abs(b["ks_bp"] - r["ks_bp"]) <= 1, (minute, b, r)


def test_asof_join_stream_equals_batch(spark, tmp_path):
    """Stream-static interval as-of join ≡ batch asof_join on the same
    files — including unmatched rows, NULL users, and NULL timestamps."""
    from evalidate_spark.operators.asof import asof_join

    path = str(tmp_path / "asof_in")
    spark.range(200).selectExpr(
        "id AS event_id",
        "CASE WHEN id % 50 = 49 THEN cast(NULL AS long) ELSE id % 5 END AS user_id",
        "CASE WHEN id % 60 = 59 THEN cast(NULL AS timestamp) ELSE "
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0, cast(id as int), 0) END AS ts",
    ).repartition(4).write.parquet(path)
    feat = spark.range(15).selectExpr(
        "id % 5 AS user_id",
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0, cast(id/5 as int), 0, 0) AS eff_ts",
        "id AS fval",
    )
    left = spark.read.parquet(path)
    want = sorted(
        (r["event_id"], r["__asof_ts"], r["fval"])
        for r in asof_join(left, feat, "user_id", "ts", "eff_ts", ["fval"]).collect()
    )
    st = streaming.asof_join_stream(
        _stream(spark, path), feat, "user_id", "ts", "eff_ts", ["fval"]
    )
    _run_to_memory(st, "asof_out")
    got = sorted(
        (r["event_id"], r["__asof_ts"], r["fval"])
        for r in spark.table("asof_out").collect()
    )
    assert got == want and len(got) == 200
    assert sum(1 for _, _, v in got if v is not None) > 100  # real matches


def test_media_features_stream_equals_batch(spark, tmp_path):
    """The multimodal path (opaque binary payloads + mapInPandas decode)
    must run unchanged under Structured Streaming — feature extraction is
    map-only, so the streaming plan needs no state and the rows must equal
    the batch run bit-for-bit."""
    from evalidate_spark.functions import multimodal

    src = str(tmp_path / "media")
    multimodal.synth_media(spark, n=45).write.parquet(src)

    batch = {
        tuple(r)
        for r in multimodal.extract_features(spark.read.parquet(src)).collect()
    }
    stream = multimodal.extract_features(_stream(spark, src))
    assert stream.isStreaming
    _run_to_memory(stream, "media_feats")
    got = {tuple(r) for r in spark.sql("SELECT * FROM media_feats").collect()}
    assert got == batch and len(got) == 45


def test_profile_stream_matches_batch_profile(spark, tmp_path):
    """Windowed streaming profile ≡ batch profile per window: exact fields
    equal, HLL distinct identical (same sketch algorithm both sides)."""
    from evalidate_spark.operators.table_checks import profile

    path = str(tmp_path / "ps_in")
    (
        spark.range(240)
        .selectExpr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*30) ts",
            "CASE WHEN id % 11 = 0 THEN NULL ELSE cast(id % 37 AS long) END v",
            "concat('u', cast(id % 13 AS string)) u",
        )
        .repartition(3)
        .write.parquet(path)
    )
    ps = streaming.profile_stream(
        _stream(spark, path), "ts", columns=("v", "u"), window="30 minutes"
    )
    _run_to_memory(ps, "ps_out", mode="complete")
    got = {
        (r["window"]["start"], r["column"]): (
            r["n_rows"], r["n_nulls"], r["n_distinct"], r["min_repr"], r["max_repr"]
        )
        for r in spark.table("ps_out").collect()
    }
    # 240 rows * 30s = 2h span -> 4 windows of 30 min
    assert len(got) == 4 * 2

    batch = spark.read.parquet(path).withColumn(
        "w", F.window(F.col("ts"), "30 minutes")["start"]
    )
    for w in [r["w"] for r in batch.select("w").distinct().collect()]:
        sub = batch.filter(F.col("w") == w)
        for r in profile(sub, ["v", "u"], quantiles=()).collect():
            assert got[(w, r["column"])] == (
                r["n_rows"], r["n_nulls"], r["n_distinct"],
                r["min_repr"], r["max_repr"],
            ), (w, r["column"])


def test_quantile_stream_matches_batch_states(spark, tmp_path):
    """Windowed streaming KLL quantiles ≡ batch quantile_state fold per
    window: with fewer values than the sketch's k the sketch is exact,
    so EVERY output field must match."""
    from evalidate_spark.operators.table_checks import (
        merge_quantile_states,
        quantile_state,
    )

    path = str(tmp_path / "qs_in")
    (
        spark.range(240)
        .selectExpr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*30) ts",
            "CASE WHEN id % 11 = 0 THEN NULL ELSE cast(id % 37 AS double) END v",
        )
        .repartition(3)
        .write.parquet(path)
    )
    qs = streaming.quantile_stream(
        _stream(spark, path), "ts", columns=("v",), window="30 minutes"
    )
    _run_to_memory(qs, "qs_out", mode="complete")
    got = {
        r["window"]["start"]: (
            r["n_values"], r["min_val"], r["max_val"],
            r["q_25"], r["q_50"], r["q_75"], r["q_90"], r["q_99"],
        )
        for r in spark.table("qs_out").collect()
    }
    assert len(got) == 4

    batch = spark.read.parquet(path).withColumn(
        "w", F.window(F.col("ts"), "30 minutes")["start"]
    )
    for w in [r["w"] for r in batch.select("w").distinct().collect()]:
        st = quantile_state(batch.filter(F.col("w") == w), ["v"], "one")
        r = merge_quantile_states(st).collect()[0]
        assert got[w] == (
            r["n_values"], r["min_val"], r["max_val"],
            r["q_25"], r["q_50"], r["q_75"], r["q_90"], r["q_99"],
        ), w


def test_checks_stream_matches_batch_checks(spark, tmp_path):
    """Windowed streaming constraint pass rates ≡ batch check_expressions
    per window — same NULL-fails contract, same integer-bp arithmetic."""
    from evalidate_spark.operators.table_checks import check_expressions

    path = str(tmp_path / "cs_in")
    (
        spark.range(240)
        .selectExpr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*30) ts",
            "CASE WHEN id % 11 = 0 THEN NULL ELSE cast(id % 37 AS long) END v",
            "cast(id % 5 AS double) q",
        )
        .repartition(3)
        .write.parquet(path)
    )
    CHECKS = {"v_small": "v < 30", "q_pos": "q > 0", "always": "q < 10"}
    cs = streaming.checks_stream(
        _stream(spark, path), "ts", CHECKS, window="30 minutes"
    )
    assert cs.isStreaming
    _run_to_memory(cs, "cs_out", mode="complete")
    got = {
        (r["window"]["start"], r["check_id"]): (
            r["n_rows"], r["n_failed"], r["pass_bp"], r["status"]
        )
        for r in spark.table("cs_out").collect()
    }
    assert len(got) == 4 * 3  # 4 windows x 3 checks

    batch = spark.read.parquet(path).withColumn(
        "w", F.window(F.col("ts"), "30 minutes")["start"]
    )
    for w in [r["w"] for r in batch.select("w").distinct().collect()]:
        sub = batch.filter(F.col("w") == w).drop("w")
        for r in check_expressions(sub, CHECKS).collect():
            assert got[(w, r["check_id"])] == (
                r["n_rows"], r["n_failed"], r["pass_bp"], r["status"]
            ), (w, r["check_id"])


def test_funnel_stream_matches_batch_funnel(spark, tmp_path):
    """Windowed streaming quality funnel ≡ batch filter_funnel per
    window — same disjoint-from-rules[:k] survivor rule and drop counts."""
    from evalidate_spark.functions.text import filter_funnel

    path = str(tmp_path / "fn_in")
    (
        spark.range(240)
        .selectExpr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*30) ts",
            "CASE WHEN id % 7 = 0 THEN 'r1' "
            "WHEN id % 7 = 1 THEN 'r1,r2' "
            "WHEN id % 7 = 2 THEN 'r3' "
            "WHEN id % 7 = 3 THEN NULL ELSE '' END fails",
        )
        .repartition(3)
        .write.parquet(path)
    )
    RULES = ["r1", "r2", "r3"]
    fs = streaming.funnel_stream(
        _stream(spark, path), "ts", RULES, window="30 minutes"
    )
    assert fs.isStreaming
    _run_to_memory(fs, "fn_out", mode="complete")
    got = {
        (r["window"]["start"], r["stage_ix"]): (
            r["rule"], r["docs_surviving"], r["docs_dropped"]
        )
        for r in spark.table("fn_out").collect()
    }
    assert len(got) == 4 * (len(RULES) + 1)  # 4 windows x (input + stages)

    batch = spark.read.parquet(path).withColumn(
        "w", F.window(F.col("ts"), "30 minutes")["start"]
    )
    for w in [r["w"] for r in batch.select("w").distinct().collect()]:
        sub = batch.filter(F.col("w") == w).drop("w")
        for r in filter_funnel(sub, RULES).collect():
            assert got[(w, r["stage_ix"])] == (
                r["rule"], r["docs_surviving"], r["docs_dropped"]
            ), (w, r["stage_ix"])

    # no rules: both twins report only the stage-0 input row
    _run_to_memory(
        streaming.funnel_stream(_stream(spark, path), "ts", [], window="30 minutes"),
        "fn_empty_out", mode="complete",
    )
    got = {
        r["window"]["start"]: tuple(r)[1:]
        for r in spark.table("fn_empty_out").collect()
    }
    want = {}
    for w in [r["w"] for r in batch.select("w").distinct().collect()]:
        (row,) = filter_funnel(batch.filter(F.col("w") == w).drop("w"), []).collect()
        want[w] = tuple(row)
    assert got == want and len(want) == 4


def test_sequence_anomalies_stream_matches_batch(spark, tmp_path):
    """Stateful streaming sequence anomalies ≡ batch operator when events
    arrive seq-ordered across micro-batches: the duplicate/regression/gap
    adjacent to a BATCH BOUNDARY must come from the carried (last_seq,
    last_ts) state, which is the whole point of the custom stateful op."""
    from evalidate_spark.operators.sessions import sequence_anomalies

    src = tmp_path / "sa_in"
    src.mkdir()

    def rows_df(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, ts_s string"
        ).selectExpr(
            "user_id", "event_id", "cast(ts_s as timestamp) ts"
        )

    first = [
        (1, 1, "2026-01-01 10:00:00"),
        (1, 2, "2026-01-01 10:00:30"),
        (2, 1, "2026-01-01 09:00:00"),
        (2, 2, "2026-01-01 09:00:10"),
    ]
    second = [
        (1, 2, "2026-01-01 10:01:00"),   # duplicate_seq ACROSS the boundary
        (1, 3, "2026-01-01 09:59:00"),   # ts_regression within batch 2
        # duplicate arriving LATER with an EARLIER ts: measure must be the
        # positive magnitude, and the carried last_t must stay the dup
        # group's MAX ts so the following gap measures like the batch op
        (2, 2, "2026-01-01 09:00:00"),
        (2, 3, "2026-01-01 13:00:10"),   # gap ACROSS the boundary (4 h)
        (3, 7, "2026-01-01 08:00:00"),   # new entity mid-stream: no anomaly
    ]
    rows_df(first).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).option("maxFilesPerTrigger", "1").parquet(str(src))
    sa = streaming.sequence_anomalies_stream(
        stream, max_gap_us=3600 * 1_000_000
    )
    assert sa.isStreaming
    q = (
        sa.writeStream.format("memory")
        .queryName("sa_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows_df(second).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT entity, seq, kind, measure FROM sa_out"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in sequence_anomalies(
            rows_df(first + second), max_gap_us=3600 * 1_000_000
        ).collect()
    )
    assert got == want
    assert len(got) == 4


def test_sequence_anomalies_stream_rejects_non_integral_seq(spark, tmp_path):
    src = tmp_path / "sa_str"
    spark.createDataFrame(
        [(1, "a", "2026-01-01 10:00:00")], "user_id long, tok string, ts_s string"
    ).selectExpr("user_id", "tok", "cast(ts_s as timestamp) ts").write.parquet(str(src))
    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).parquet(str(src))
    with pytest.raises(ValueError, match="integral seq"):
        streaming.sequence_anomalies_stream(stream, seq_col="tok")


def test_rate_stream_matches_batch_rate_anomalies(spark, tmp_path):
    """Streaming windowed counts + the shared rate_from_counts post-pass
    ≡ batch rate_anomalies on the same files, including NULL-ts
    exclusion and the spike/drop verdicts."""
    from evalidate_spark.operators import table_checks

    path = str(tmp_path / "rs_in")
    (
        spark.range(300)
        .selectExpr(
            # 4 hourly buckets with volumes 240, 40, 12, 8 (spike + drops)
            "CASE WHEN id < 240 THEN timestamp'2026-01-01 10:00:00'"
            "          + make_interval(0,0,0,0,0,0,id*10) "
            "     WHEN id < 280 THEN timestamp'2026-01-01 11:00:00'"
            "          + make_interval(0,0,0,0,0,0,(id-240)*60) "
            "     WHEN id < 292 THEN timestamp'2026-01-01 12:00:00'"
            "          + make_interval(0,0,0,0,0,0,(id-280)*60) "
            "     WHEN id < 299 THEN timestamp'2026-01-01 13:00:00'"
            "          + make_interval(0,0,0,0,0,0,(id-292)*60) "
            "     ELSE NULL END AS ts",
        )
        .repartition(3)
        .write.parquet(path)
    )
    rs = streaming.rate_stream(_stream(spark, path), "ts", bucket_s=3600)
    _run_to_memory(rs, "rs_out", mode="complete")
    streamed = spark.table("rs_out")
    got = {
        r.bucket_s: tuple(r)
        for r in table_checks.rate_from_counts(streamed).collect()
    }
    want = {
        r.bucket_s: tuple(r)
        for r in table_checks.rate_anomalies(
            spark.read.parquet(path), "ts", bucket_s=3600
        ).collect()
    }
    assert got == want and len(want) == 4
    assert any(r[3] for r in want.values())      # a spike fired
    assert any(r[4] for r in want.values())      # a drop fired


def test_rate_stream_bad_bucket(spark, tmp_path):
    path = str(tmp_path / "rb_in")
    spark.range(1).selectExpr("timestamp'2026-01-01 00:00:00' ts").write.parquet(path)
    with pytest.raises(ValueError):
        streaming.rate_stream(_stream(spark, path), "ts", bucket_s=0)


def test_suppress_repeats_stream_matches_batch(spark, tmp_path):
    """Stateful streaming repeat-suppression ≡ batch operator when each
    key's events arrive in timeline order across micro-batches: the
    repeat adjacent to the BATCH BOUNDARY must be suppressed from the
    carried (last_t, val) state, a NULL-ts event must reset the chain
    (positional lag), and NULL values must compare null-safe."""
    from evalidate_spark.operators.sessions import suppress_repeats

    src = tmp_path / "sr_in"
    src.mkdir()

    def rows_df(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, ts_s string, event_type string"
        ).selectExpr(
            "user_id", "event_id", "cast(ts_s as timestamp) ts", "event_type"
        )

    first = [
        (1, 1, None, "boot"),                    # NULL ts: kept, resets chain
        (1, 2, "2026-01-01 10:00:00", "click"),
        (1, 3, "2026-01-01 10:00:10", "click"),  # repeat within batch
        (2, 1, "2026-01-01 09:00:00", None),
        (2, 2, "2026-01-01 09:00:05", None),     # NULL==NULL null-safe repeat
        (None, 1, "2026-01-01 09:00:00", "x"),   # NULL key group
    ]
    second = [
        (1, 4, "2026-01-01 10:00:20", "click"),  # repeat ACROSS the boundary
        (1, 5, "2026-01-01 12:00:00", "click"),  # same value, outside window
        (2, 3, "2026-01-01 09:00:06", "view"),   # value change: kept
        (None, 2, "2026-01-01 09:00:01", "x"),   # NULL-key repeat across boundary
        (3, 1, "2026-01-01 08:00:00", "new"),    # new key mid-stream
    ]
    rows_df(first).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).option("maxFilesPerTrigger", "1").parquet(str(src))
    sr = streaming.suppress_repeats_stream(stream, window_s=3600)
    assert sr.isStreaming
    q = (
        sr.writeStream.format("memory")
        .queryName("sr_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows_df(second).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    def keyed(rows):
        return sorted(
            (((r["user_id"] is None, r["user_id"] or 0, r["event_id"]),
              (r["user_id"], r["event_id"]), r["kept"]))
            for r in rows
        )

    got = [(k, v) for _, k, v in keyed(
        spark.sql("SELECT * FROM sr_out").collect())]
    want = [(k, v) for _, k, v in keyed(
        suppress_repeats(rows_df(first + second), window_s=3600).collect())]
    assert got == want
    # the interesting verdicts, pinned: within-batch repeat, null-safe
    # NULL repeat, cross-boundary repeat, cross-boundary NULL-key repeat
    verdicts = dict(got)
    assert verdicts[(1, 3)] is False
    assert verdicts[(2, 2)] is False
    assert verdicts[(1, 4)] is False
    assert verdicts[(None, 2)] is False
    assert verdicts[(1, 5)] is True   # outside window
    assert verdicts[(2, 3)] is True   # value changed
    assert verdicts[(1, 1)] is True   # NULL ts always kept


def test_suppress_repeats_stream_contracts(spark, tmp_path):
    src = tmp_path / "sr_bad"
    spark.createDataFrame(
        [(1, 1, "2026-01-01 10:00:00", [1, 2])],
        "user_id long, event_id long, ts_s string, payload array<int>",
    ).selectExpr(
        "user_id", "event_id", "cast(ts_s as timestamp) ts", "payload"
    ).write.parquet(str(src))
    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).parquet(str(src))
    with pytest.raises(ValueError, match="string/integral/boolean"):
        streaming.suppress_repeats_stream(stream, value_col="payload")
    with pytest.raises(ValueError, match="tie-break"):
        streaming.suppress_repeats_stream(stream, order_col="nope")


def test_span_grammar_stream_equals_batch(spark, tmp_path):
    """span_grammar is ONE stateless fused projection, so it runs
    unchanged over readStream in append mode — streaming verdicts must
    equal the batch run on the same files."""
    from evalidate_spark.operators.spans import span_grammar

    path = str(tmp_path / "grammar_in")
    (
        spark.range(60)
        .selectExpr(
            "concat('d', id) doc_id",
            """transform(sequence(0, cast(id % 4 as int)), j -> named_struct(
                 'kind', case when (id + j) % 3 = 0 then 'media' else 'text' end,
                 'text', case when (id + j) % 3 = 0 then null else concat('w', j) end,
                 'media_ref', case when (id + j) % 3 = 0 then concat('m', j) else null end,
                 'offset', cast(j * 10 as int))) spans""",
        )
        .repartition(3)
        .write.parquet(path)
    )
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = span_grammar(stream, "^t[tm]*$")
    _run_to_memory(out, "grammar_out")
    got = sorted(tuple(r) for r in spark.table("grammar_out").collect())
    want = sorted(
        tuple(r)
        for r in span_grammar(spark.read.parquet(path), "^t[tm]*$").collect()
    )
    assert got == want and len(got) == 60


def test_referential_stream_dangling_vs_batch(spark, tmp_path):
    """Watermarked left-outer stream-stream join: dangling fact keys (no
    dim row within tolerance) surface as violations once the watermark
    passes; on a CLOSED input (availableNow) the result equals the batch
    anti-join with the same time tolerance."""
    fpath, dpath = str(tmp_path / "facts"), str(tmp_path / "dims")
    (
        spark.range(40)
        .selectExpr(
            "id AS ref",
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,id,0) ts",
        )
        .repartition(2)
        .write.parquet(fpath)
    )
    # dims exist only for even keys, registered one minute after the fact
    (
        spark.range(40)
        .filter("id % 2 = 0")
        .selectExpr(
            "id AS mid",
            "timestamp'2026-01-01 00:01:00' + make_interval(0,0,0,0,0,id,0) dts",
        )
        .repartition(2)
        .write.parquet(dpath)
    )
    fs = spark.readStream.schema(spark.read.parquet(fpath).schema).parquet(fpath)
    ds = spark.readStream.schema(spark.read.parquet(dpath).schema).parquet(dpath)
    out = streaming.referential_stream(
        fs, ds, "ref", "mid", "ts", "dts",
        watermark="5 minutes", tolerance="5 minutes",
    )
    _run_to_memory(out, "refstream_out", timeout_s=180)
    got = sorted(r.ref for r in spark.table("refstream_out").collect())
    # batch truth: odd keys are dangling (no dim at all); even keys match
    # within the 5-minute tolerance (dim arrives 1 minute later).  BUT
    # the stream only emits a violation once the watermark proves no dim
    # can still arrive: with max event time 00:39, watermark 00:34, a
    # fact expires when ts + tolerance < watermark → ts < 00:29.  The
    # tail is correctly HELD, not lost.
    assert got == [i for i in range(29) if i % 2 == 1]

    # a later heartbeat (key 999 with its own matching dim) advances the
    # watermark past every original fact → the held tail flushes and the
    # closed-input result now equals the batch anti-join exactly
    # CAST to BIGINT: the original files hold spark.range longs, and an
    # int-typed heartbeat file would make schema inference a footer
    # lottery (PARQUET_COLUMN_DATA_TYPE_MISMATCH when the int footer wins)
    spark.range(1).selectExpr(
        "CAST(999 AS BIGINT) AS ref", "timestamp'2026-01-01 01:00:00' ts"
    ).write.mode("append").parquet(fpath)
    spark.range(1).selectExpr(
        "CAST(999 AS BIGINT) AS mid", "timestamp'2026-01-01 01:00:00' dts"
    ).write.mode("append").parquet(dpath)
    fs2 = spark.readStream.schema(spark.read.parquet(fpath).schema).parquet(fpath)
    ds2 = spark.readStream.schema(spark.read.parquet(dpath).schema).parquet(dpath)
    out2 = streaming.referential_stream(
        fs2, ds2, "ref", "mid", "ts", "dts",
        watermark="5 minutes", tolerance="5 minutes",
    )
    _run_to_memory(out2, "refstream_out2", timeout_s=180)
    got2 = sorted(r.ref for r in spark.table("refstream_out2").collect())
    assert got2 == [i for i in range(40) if i % 2 == 1]


def test_quality_stream_matches_batch_flags(spark, tmp_path):
    """Windowed streaming quality flags ≡ the same flag arithmetic run in
    batch per window, on a closed input."""
    path = str(tmp_path / "qs_in")
    (
        spark.range(120)
        .selectExpr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*30) ts",
            # id%3==0 -> repetitive 12-token doc; id%3==1 -> short doc;
            # id%3==2 -> NULL text (short)
            "CASE WHEN id % 3 = 0 THEN concat_ws(' ', array_repeat('rep', 12)) "
            "     WHEN id % 3 = 1 THEN 'tiny doc' END text",
        )
        .repartition(3)
        .write.parquet(path)
    )
    qs = streaming.quality_stream(
        _stream(spark, path), "ts", window="30 minutes"
    )
    _run_to_memory(qs, "qs_out", mode="complete")
    got = {
        r["window"]["start"]: (r["n_docs"], r["short_bp"], r["repetitive_bp"])
        for r in spark.table("qs_out").collect()
    }
    # 120 rows * 30s = 1h span -> 2 windows of 30 min
    assert len(got) == 2
    batch = spark.read.parquet(path)
    w = F.window(F.col("ts"), "30 minutes")["start"]
    nt = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    dt = F.size(
        F.array_distinct(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    )
    exp = (
        batch.select(
            w.alias("w"),
            F.coalesce(nt, F.lit(0)).alias("nt"),
            F.coalesce(dt, F.lit(0)).alias("dt"),
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("sum(CAST(nt < 10 AS LONG)) * 10000L DIV count(1)").alias("s"),
            F.expr("sum(CAST(dt*2 < nt AS LONG)) * 10000L DIV count(1)").alias("r"),
        )
        .collect()
    )
    for row in exp:
        assert got[row["w"]] == (row["n"], row["s"], row["r"])
    # flags are real: every window holds all three doc classes
    for n, s, r in got.values():
        assert n == 60 and s == 2 * 10000 // 3 and r == 10000 // 3


def test_novelty_stream_matches_batch_hll(spark, tmp_path):
    """Windowed streaming novelty ≡ the same counts + HLL in batch per
    window (identical sketch both sides), incl. the NULL-text contract."""
    path = str(tmp_path / "nv_in")
    (
        spark.range(120)
        .selectExpr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*30) ts",
            # 20 distinct texts repeated 3x per hour-half; every 10th NULL
            "CASE WHEN id % 10 = 9 THEN NULL "
            "ELSE concat('body ', cast(id % 20 AS string)) END text",
        )
        .repartition(3)
        .write.parquet(path)
    )
    ns = streaming.novelty_stream(_stream(spark, path), "ts", window="30 minutes")
    _run_to_memory(ns, "nv_out", mode="complete")
    got = {
        r["window"]["start"]: (r["n_docs"], r["n_fps"], r["approx_distinct"],
                               r["est_repeats"])
        for r in spark.table("nv_out").collect()
    }
    assert len(got) == 2
    from evalidate_spark.functions.text import fingerprint

    batch = (
        spark.read.parquet(path)
        .select(
            F.window(F.col("ts"), "30 minutes")["start"].alias("w"),
            fingerprint(F.col("text")).alias("fp"),
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("fp").alias("nf"),
            F.approx_count_distinct("fp").alias("ad"),
        )
        .collect()
    )
    for r in batch:
        n, nf, ad, rep = got[r["w"]]
        assert (n, nf, ad) == (r["n"], r["nf"], r["ad"])
        assert rep == max(nf - ad, 0) and rep > 0


def test_centroid_stream_matches_batch_state(spark, tmp_path):
    """Windowed streaming centroid states ≡ the batch state per window —
    EXACT equality (integer sums are micro-batch-order-independent),
    including the NULL/ragged-vector exclusions and the downstream
    state-cosine comparison."""
    from evalidate_spark.functions import similarity

    path = str(tmp_path / "cs_in")
    (
        spark.range(80)
        .selectExpr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60) ts",
            "CASE WHEN id % 17 = 16 THEN NULL "
            "WHEN id % 13 = 12 THEN array(cast(1.0 AS double)) "
            "ELSE transform(sequence(1, 8), "
            "  d -> cast(sin(id * d) AS double)) END embedding",
        )
        .repartition(3)
        .write.parquet(path)
    )
    cs = streaming.centroid_stream(
        _stream(spark, path), "ts", dim=8, window="30 minutes"
    )
    _run_to_memory(cs, "cs_out", mode="complete")
    got = {
        r["window"]["start"]: r for r in spark.table("cs_out").collect()
    }
    assert len(got) == 3  # 80 rows at 60 s spacing span three half-hours

    static = spark.read.parquet(path)
    for w_start, row in got.items():
        import datetime

        lo = w_start
        hi = lo + datetime.timedelta(minutes=30)
        batch = similarity.embedding_centroid_state(
            static.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            .withColumn("vec_id", F.lit(1)),
            dim=8,
        ).first()
        assert row["n_vecs"] == batch["n_vecs"] > 0
        assert list(row["sums"]) == list(batch["sums"])
    # consecutive-window comparison through the shared state arithmetic
    ws = sorted(got)
    c = similarity.centroid_state_cosine(got[ws[0]], got[ws[1]])
    assert -1.0 <= c <= 1.0


def test_vector_health_stream_matches_batch_counters(spark, tmp_path):
    """Windowed streaming vector-health counters ≡ the batch
    embedding_health counters per window — EXACT (integer sums),
    including NULL vectors, wrong dims, non-finite elements, zeros-and-
    NULLs, and the n_valid scoring contract."""
    from evalidate_spark.operators import table_checks

    path = str(tmp_path / "vh_in")
    (
        spark.range(90)
        .selectExpr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60) ts",
            "CASE WHEN id % 11 = 10 THEN NULL "
            "WHEN id % 13 = 12 THEN array(cast(1.0 AS float)) "
            "WHEN id % 17 = 16 THEN array(cast('NaN' AS float), cast(1.0 AS float), cast(2.0 AS float), cast(3.0 AS float)) "
            "WHEN id % 19 = 18 THEN array(cast(0.0 AS float), cast(0.0 AS float), cast(0.0 AS float), cast(0.0 AS float)) "
            "WHEN id % 23 = 22 THEN array(cast(1.0 AS float), NULL, cast(2.0 AS float), cast(3.0 AS float)) "
            "ELSE transform(sequence(1, 4), d -> cast(sin(id * d) AS float)) END embedding",
        )
        .repartition(4)
        .write.parquet(path)
    )
    vh = streaming.vector_health_stream(
        _stream(spark, path), "ts", expected_dim=4, window="30 minutes"
    )
    _run_to_memory(vh, "vh_out", mode="complete")
    got = {r["window"]["start"]: r for r in spark.table("vh_out").collect()}
    assert len(got) == 3  # 90 rows at 60 s spacing span three half-hours

    static = spark.read.parquet(path)
    import datetime

    total_valid = 0
    for w_start, row in got.items():
        lo, hi = w_start, w_start + datetime.timedelta(minutes=30)
        win = static.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        b = table_checks.embedding_health(win, "embedding", expected_dim=4).first()
        assert row["n_rows"] == b["n_rows"] > 0
        assert row["n_null_vec"] == b["n_null_vec"]
        assert row["n_wrong_dim"] == b["n_wrong_dim"]
        assert row["n_null_elem"] == b["n_null_elem"]
        assert row["n_nonfinite"] == b["n_nonfinite"]
        assert row["n_zero_norm"] == b["n_zero_norm"]
        total_valid += row["n_valid"]
    # n_valid has no one-row-batch twin column; pin it against the
    # trend operator's definition over the whole table (single wave)
    t = table_checks.embedding_health_trend(
        static.withColumn("vec_id", F.monotonically_increasing_id()),
        "embedding", "vec_id", expected_dim=4, n_waves=1,
    ).first()
    assert total_valid == t["n_valid"] > 0
    # the corpus really exercises every pathology
    agg = {k: sum(r[k] for r in got.values()) for k in
           ("n_null_vec", "n_wrong_dim", "n_null_elem", "n_nonfinite",
            "n_zero_norm")}
    assert all(v > 0 for v in agg.values()), agg


@pytest.fixture(scope="module")
def null_ts_dir(spark, tmp_path_factory):
    """30 rows in one hour, every third with a NULL event time: one input
    shared by every windowed twin."""
    path = str(tmp_path_factory.mktemp("null_ts") / "in")
    (
        spark.range(30)
        .selectExpr(
            "CASE WHEN id % 3 = 0 THEN NULL ELSE timestamp'2026-01-01 00:00:00'"
            " + make_interval(0,0,0,0,0,0,id*60) END ts",
            "concat('d', id) doc_id",
            "concat('text body ', cast(id AS string)) text",
            "CASE WHEN id % 2 = 0 THEN 'zz' ELSE 'en' END lang",
            "cast(id AS double) v",
            "CASE WHEN id % 4 = 0 THEN 'r1' ELSE '' END fails",
            "transform(sequence(1, 4), d -> cast(id + d AS float)) embedding",
        )
        .repartition(2)
        .write.parquet(path)
    )
    return path


# twin -> (stream query over the null_ts_dir input, its row-count field)
_NULL_TS_TWINS = {
    "profile": (lambda s: streaming.profile_stream(s, "ts", ["v"], window="1 hour"), "n_rows"),
    "quantile": (lambda s: streaming.quantile_stream(s, "ts", ["v"], window="1 hour"), "n_values"),
    "checks": (lambda s: streaming.checks_stream(s, "ts", {"c": "v >= 0"}, window="1 hour"), "n_rows"),
    "funnel": (
        lambda s: streaming.funnel_stream(s, "ts", ["r1"], window="1 hour").filter("stage_ix = 0"),
        "docs_surviving",
    ),
    "verdicts": (lambda s: streaming.windowed_verdicts(s, RULES, "ts", window="1 hour"), "rows"),
    "quality": (lambda s: streaming.quality_stream(s, "ts", window="1 hour"), "n_docs"),
    "novelty": (lambda s: streaming.novelty_stream(s, "ts", window="1 hour"), "n_docs"),
    "centroid": (lambda s: streaming.centroid_stream(s, "ts", dim=4, window="1 hour"), "n_vecs"),
    "vector_health": (
        lambda s: streaming.vector_health_stream(s, "ts", expected_dim=4, window="1 hour"),
        "n_valid",
    ),
}


@pytest.mark.parametrize("twin", sorted(_NULL_TS_TWINS))
def test_windowed_stream_excludes_null_event_time(spark, null_ts_dir, twin):
    """Rows with a NULL event time belong to no window: every windowed
    twin drops them and counts them nowhere."""
    build, field = _NULL_TS_TWINS[twin]
    name = "null_ts_%s_out" % twin
    _run_to_memory(build(_stream(spark, null_ts_dir)), name, mode="complete")
    rows = spark.table(name).collect()
    assert len(rows) == 1
    assert rows[0][field] == 20
    if twin == "vector_health":
        assert rows[0]["n_rows"] == 20


@pytest.mark.parametrize(
    "op",
    ["profile", "merge_profile_states", "profile_stream", "quantile_stream",
     "suggest_constraints"],
)
def test_column_named_with_quote_is_reported_verbatim(spark, tmp_path, op):
    """A column name with a single quote reaches the output verbatim."""
    from evalidate_spark.operators.suggest import suggest_constraints
    from evalidate_spark.operators.table_checks import (
        merge_profile_states,
        profile,
        profile_state,
    )

    c = "it's"
    path = str(tmp_path / "quote_col")
    spark.range(6).selectExpr(
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60) ts",
        "CASE WHEN id = 0 THEN NULL ELSE cast(id AS double) END `it's`",
    ).write.parquet(path)
    static = spark.read.parquet(path)
    if op == "suggest_constraints":
        got = {tuple(r) for r in suggest_constraints(static, [c]).collect()}
        assert (c, "type", "float") in got and (c, "size", "[1,5]") in got
        return
    if op == "profile":
        out = profile(static, [c], quantiles=()).collect()
    elif op == "merge_profile_states":
        out = merge_profile_states(profile_state(static, [c], "u1")).collect()
    else:
        fn = getattr(streaming, op)
        _run_to_memory(fn(_stream(spark, path), "ts", [c], window="1 hour"),
                       "quote_%s_out" % op, mode="complete")
        out = spark.table("quote_%s_out" % op).collect()
    (row,) = out
    assert row["column"] == c
    if op == "quantile_stream":
        assert (row["n_values"], row["min_val"], row["max_val"]) == (5, 1.0, 5.0)
    else:
        assert (row["n_rows"], row["n_nulls"], row["min_repr"], row["max_repr"]) == (
            6, 1, "1.0", "5.0"
        )


@pytest.mark.parametrize("op", ["checks_stream", "funnel_stream"])
def test_check_ids_and_rules_are_reported_verbatim(spark, tmp_path, op):
    """Check ids and funnel rules with a backslash or a quote come back
    exactly as the batch twin reports them."""
    from evalidate_spark.functions.text import filter_funnel
    from evalidate_spark.operators.table_checks import check_expressions

    names = ["a\\b", "x'y"]
    path = str(tmp_path / "quote_ids")
    spark.createDataFrame(
        [(i, float(i), ",".join(names[: i % 3])) for i in range(6)],
        "i long, v double, fails string",
    ).selectExpr(
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,i*60) ts",
        "v", "fails",
    ).write.parquet(path)
    static = spark.read.parquet(path)
    if op == "checks_stream":
        checks = {names[0]: "v > 1", names[1]: "v < 4"}
        q = streaming.checks_stream(_stream(spark, path), "ts", checks, window="1 hour")
        want = {tuple(r) for r in check_expressions(static, checks).collect()}
    else:
        q = streaming.funnel_stream(_stream(spark, path), "ts", names, window="1 hour")
        want = {tuple(r) for r in filter_funnel(static, names).collect()}
    _run_to_memory(q, "ids_%s_out" % op, mode="complete")
    got = {tuple(r)[1:] for r in spark.table("ids_%s_out" % op).collect()}
    assert got == want
    assert set(names) <= {r[0 if op == "checks_stream" else 1] for r in got}
