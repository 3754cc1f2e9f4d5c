"""Checkpoint/resume: a run killed mid-way and resumed produces exactly the
same violations/verdicts as an uninterrupted run; re-running a completed
unit is idempotent."""

import pytest
from pyspark.sql import functions as F

from evalidate_spark.checkpoint import CheckpointedRun, list_units
from evalidate_spark.spec import Allowed, Rule, Size


@pytest.fixture()
def input_dir(spark, tmp_path):
    path = str(tmp_path / "docs_in")
    (
        spark.range(200)
        .select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            F.when(F.col("id") % 7 == 0, F.lit("x")).otherwise(F.lit("valid text here")).alias("text"),
            F.when(F.col("id") % 5 == 0, F.lit("zz")).otherwise(F.lit("en")).alias("lang"),
            (F.col("id") % 50).cast("double").alias("n"),
        )
        .repartition(8)
        .write.parquet(path)
    )
    return path


RULES = [
    Rule(key="doc_id"),
    Rule(key="text", validators=[Size(5, 100)]),
    Rule(key="lang", validators=[Allowed(["en", "es"])]),
]


def collect_sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


class TestCheckpoint:
    def test_units_deterministic(self, input_dir):
        a = list_units(input_dir, files_per_unit=2)
        b = list_units(input_dir, files_per_unit=2)
        assert a == b and len(a) == 4
        assert all(len(u["files"]) == 2 for u in a)

    def test_kill_and_resume_equals_one_shot(self, spark, input_dir, tmp_path):
        one = CheckpointedRun(spark, input_dir, RULES, str(tmp_path / "one"), files_per_unit=2)
        one.run()

        two = CheckpointedRun(spark, input_dir, RULES, str(tmp_path / "two"), files_per_unit=2)
        first = two.run(max_units=2)  # simulate crash after 2 of 4 units
        assert len(first["processed_now"]) == 2
        assert len(two.pending_units()) == 2
        second = two.run()  # resume
        assert len(second["processed_now"]) == 2
        assert two.pending_units() == []

        cols = ["doc_id", "rule_id", "key_path", "message"]
        assert collect_sorted(two.violations(), cols) == collect_sorted(one.violations(), cols)
        assert (
            two.verdicts().agg(F.sum("rows"), F.sum("failed")).collect()
            == one.verdicts().agg(F.sum("rows"), F.sum("failed")).collect()
        )

    def test_resume_is_noop_when_complete(self, spark, input_dir, tmp_path):
        run = CheckpointedRun(spark, input_dir, RULES, str(tmp_path / "out"), files_per_unit=4)
        run.run()
        before = collect_sorted(run.violations(), ["doc_id", "rule_id"])
        again = run.run()
        assert again["processed_now"] == []
        assert collect_sorted(run.violations(), ["doc_id", "rule_id"]) == before

    def test_lineage_records(self, spark, input_dir, tmp_path):
        run = CheckpointedRun(spark, input_dir, RULES, str(tmp_path / "out"), files_per_unit=2)
        run.run()
        lin = run.lineage()
        assert [r["unit_id"] for r in lin] == [f"unit-{i:05d}" for i in range(4)]
        assert sum(r["rows"] for r in lin) == 200
        assert sum(r["failed_rows"] for r in lin) == len(
            {i for i in range(200) if i % 7 == 0 or i % 5 == 0}
        )
        for r in lin:
            assert r["engine_version"] and len(r["input_files"]) == 2 and r["wall_s"] >= 0


def test_profile_states_resume_and_merge(spark, input_dir, tmp_path):
    """A crashed-and-resumed run's merged profile equals the direct
    profile of the whole input (exact fields + distinct on this small
    cardinality), and a unit re-run never double-counts its state."""
    from evalidate_spark.operators.table_checks import profile

    run = CheckpointedRun(
        spark, input_dir, RULES, str(tmp_path / "p"),
        files_per_unit=2, profile_columns=("doc_id", "lang"),
    )
    run.run(max_units=1)
    # simulate crash AFTER side effects, BEFORE manifest: delete one
    # manifest entry so the unit re-runs (state must overwrite, not append)
    import os
    mdir = str(tmp_path / "p" / "manifest")
    os.remove(os.path.join(mdir, sorted(os.listdir(mdir))[0]))
    run.run()

    # the units holding a state are the state table's partition directories,
    # and its schema is read from a part file's footer: no Spark job runs
    sc = spark.sparkContext
    sc.setJobGroup("states", "read-back of the profile states")
    try:
        states, done = run._states("profile")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("states") == []
    assert done == sorted(run.completed_units()) == ["unit-%05d" % i for i in range(4)]
    assert states.schema == spark.read.parquet(str(tmp_path / "p" / "profile_states")).schema

    merged = {r["column"]: r for r in run.profile().collect()}
    direct = {
        r["column"]: r
        for r in profile(
            spark.read.parquet(input_dir), ["doc_id", "lang"],
            approx_distinct=False, quantiles=(),
        ).collect()
    }
    for c in ("doc_id", "lang"):
        assert merged[c]["n_rows"] == direct[c]["n_rows"] == 200
        assert merged[c]["n_nulls"] == direct[c]["n_nulls"]
        assert merged[c]["min_repr"] == direct[c]["min_repr"]
        assert merged[c]["max_repr"] == direct[c]["max_repr"]
    # lang has 2 true values — HLL is exact at this cardinality
    assert merged["lang"]["n_distinct"] == direct["lang"]["n_distinct"]

    # the re-run unit replaced its violations and verdicts, never doubled
    # them: 29 text + 40 lang violations, one per (doc, rule)
    viol = run.violations().select("doc_id", "rule_id")
    assert viol.count() == viol.distinct().count() == 69
    # each manifest record's counts (observed on the verdicts write)
    # equal that unit's sums in the written verdicts table
    written = {
        r["unit_id"]: (r["rows"], r["failed_rows"], r["partitions"])
        for r in run.verdicts().groupBy("unit_id").agg(
            F.sum("rows").alias("rows"),
            F.sum("failed").alias("failed_rows"),
            F.count(F.lit(1)).alias("partitions"),
        ).collect()
    }
    assert written == {
        u: (r["rows"], r["failed_rows"], r["partitions"])
        for u, r in run.completed_units().items()
    }
    assert sum(v[0] for v in written.values()) == 200
    assert sum(v[1] for v in written.values()) == 63  # id % 7 == 0 or id % 5 == 0


def test_profile_raises_on_uncovered_units(spark, input_dir, tmp_path):
    """Units completed WITHOUT profile_columns have no state — profile()
    must refuse to silently undercount them after a config change."""
    out = str(tmp_path / "g")
    CheckpointedRun(spark, input_dir, RULES, out, files_per_unit=2).run(max_units=2)
    run = CheckpointedRun(
        spark, input_dir, RULES, out, files_per_unit=2, profile_columns=("lang",)
    )
    run.run()
    with pytest.raises(ValueError, match="no profile state"):
        run.profile()


def test_quantile_states_resume_merge_and_drift(spark, input_dir, tmp_path):
    """KLL quantile states follow the same idempotent-per-unit contract:
    a crashed-and-re-run unit overwrites (never double-counts) its state,
    the merged fold's exact fields match the direct scan, and drift
    between unit subsets runs purely from states."""
    run = CheckpointedRun(
        spark, input_dir, RULES, str(tmp_path / "q"),
        files_per_unit=2, quantile_columns=("n",),
    )
    run.run(max_units=1)
    import os
    mdir = str(tmp_path / "q" / "manifest")
    os.remove(os.path.join(mdir, sorted(os.listdir(mdir))[0]))
    run.run()

    out = run.quantiles().collect()
    assert [r["column"] for r in out] == ["n"]
    r = out[0]
    assert r["n_values"] == 200
    assert r["min_val"] == 0.0 and r["max_val"] == 49.0
    # 200 values < k=200*4 sketch capacity per unit: estimates are tight
    assert abs(r["q_50"] - 24.5) <= 2.0

    # drift between identical-distribution unit subsets: bounded by
    # two-sample noise (n=100 per side → 95th-pct KS ≈ 0.19), far below
    # the ~5000 bp a genuine half-range shift produces
    units = [u["unit_id"] for u in sorted(
        ({"unit_id": k} for k in run.completed_units()), key=lambda d: d["unit_id"]
    )]
    drift = run.quantile_drift(units[:2], units[2:]).collect()[0]
    assert drift["ks_bp"] < 2500
    with pytest.raises(ValueError):
        run.quantile_drift(["unit-99999"], units[:1])


def test_quantiles_raises_when_not_configured(spark, input_dir, tmp_path):
    run = CheckpointedRun(spark, input_dir, RULES, str(tmp_path / "nq"))
    run.run(max_units=1)
    with pytest.raises(ValueError):
        run.quantiles()


def test_check_states_resume_and_fold(spark, input_dir, tmp_path):
    """Per-unit expression-check counts follow the same idempotent state
    contract: a crashed-and-re-run unit overwrites its counts, and the
    folded run-level pass rates equal a direct whole-input
    check_expressions scan."""
    import os

    from evalidate_spark.operators.table_checks import check_expressions

    CHECKS = {"n_small": "n < 40", "lang_en": "lang = 'en'"}
    run = CheckpointedRun(
        spark, input_dir, RULES, str(tmp_path / "c"),
        files_per_unit=2, checks=CHECKS,
    )
    run.run(max_units=1)
    # crash AFTER state write, BEFORE manifest: unit re-runs, counts must
    # overwrite (partitioned dynamic overwrite), never double
    mdir = str(tmp_path / "c" / "manifest")
    os.remove(os.path.join(mdir, sorted(os.listdir(mdir))[0]))
    run.run()

    folded = {r["check_id"]: r for r in run.check_results().collect()}
    direct = {
        r["check_id"]: r
        for r in check_expressions(
            spark.read.parquet(input_dir), CHECKS
        ).collect()
    }
    for cid in CHECKS:
        assert folded[cid]["n_rows"] == direct[cid]["n_rows"] == 200
        assert folded[cid]["n_failed"] == direct[cid]["n_failed"]
        assert folded[cid]["pass_bp"] == direct[cid]["pass_bp"]
        assert folded[cid]["status"] == direct[cid]["status"]


def test_check_results_raises_when_not_configured(spark, input_dir, tmp_path):
    out = str(tmp_path / "nc")
    CheckpointedRun(spark, input_dir, RULES, out, files_per_unit=2).run(max_units=2)
    run = CheckpointedRun(
        spark, input_dir, RULES, out, files_per_unit=2,
        checks={"ok": "n >= 0"},
    )
    # no unit has a check state yet: no state table exists at all
    with pytest.raises(ValueError, match="no check state for completed unit"):
        run.check_results()
    run.run()
    # first two units completed without checks -> no state for them
    with pytest.raises(ValueError, match="no check state"):
        run.check_results()


def test_hotkey_states_resume_and_fold(spark, input_dir, tmp_path):
    """Count-Min hot-key states follow the idempotent per-unit contract;
    the fold equals exact whole-input counts at this cardinality."""
    import os

    run = CheckpointedRun(
        spark, input_dir, RULES, str(tmp_path / "h"),
        files_per_unit=2, hotkey_columns=("lang",),
    )
    run.run(max_units=1)
    mdir = str(tmp_path / "h" / "manifest")
    os.remove(os.path.join(mdir, sorted(os.listdir(mdir))[0]))
    run.run()

    got = {r["key"]: r["est_count"] for r in run.hot_keys(top_k=2).collect()}
    want = {
        r["lang"]: r["count"]
        for r in spark.read.parquet(input_dir).groupBy("lang").count().collect()
    }
    assert got == want  # exact at 2 distinct values, deterministic seed


def test_uniqueness_states_cross_unit_keys(spark, input_dir, tmp_path):
    """Theta uniqueness states: lang keys recur in every unit, doc_id
    keys never do; crash/resume keeps counts idempotent."""
    import os

    run = CheckpointedRun(
        spark, input_dir, RULES, str(tmp_path / "u"),
        files_per_unit=2, uniqueness_columns=("doc_id", "lang"),
    )
    run.run(max_units=1)
    mdir = str(tmp_path / "u" / "manifest")
    os.remove(os.path.join(mdir, sorted(os.listdir(mdir))[0]))
    run.run()

    got = {r["column"]: r for r in run.uniqueness_summary().collect()}
    assert got["doc_id"]["union_distinct"] == 200
    assert got["doc_id"]["cross_unit_keys"] == 0  # doc ids never recur
    # both langs appear in all 4 units: sum = 4*2, union = 2 -> 6 repeats
    assert got["lang"]["union_distinct"] == 2
    assert got["lang"]["sum_unit_distinct"] == 8
    assert got["lang"]["cross_unit_keys"] == 6
    assert got["lang"]["n_values"] == 200


def test_rule_trends_flags_the_spiking_unit(spark, tmp_path):
    """One unit with 3x the text-size violations of the others must flag;
    balanced rules must not; single-rule-single-unit gives NULL ratio."""
    src = str(tmp_path / "tr_in")
    # four separate single-file ingests: 5/5/5/35 text violations,
    # lang violations even (10 each), doc_id violations ONLY in the last
    # ingest — unit naming order is irrelevant, only the spike pattern
    # is asserted
    for i, bad in enumerate([5, 5, 5, 35]):
        doc_id = (
            "case when id >= 48 then null else concat('u3d', id) end"
            if i == 3
            else f"concat('u{i}d', id)"
        )
        (
            spark.range(50)
            .selectExpr(
                f"{doc_id} doc_id",
                f"case when id < {bad} then 'x' else 'valid text here' end text",
                "case when id % 5 = 0 then 'zz' else 'en' end lang",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    run = CheckpointedRun(
        spark, src, RULES, str(tmp_path / "tr"), files_per_unit=1
    )
    run.run()
    rows = run.rule_trends().collect()
    text_rows = [r for r in rows if r["rule_id"] == "rule:text"]
    assert len(text_rows) == 4
    spikes = [r for r in text_rows if r["spike"]]
    assert len(spikes) == 1 and spikes[0]["n_violations"] == 35
    # 35 vs others' mean 5 -> 70000 bp
    assert spikes[0]["ratio_bp"] == 70000
    # the allowed-lang rule fires evenly -> ratio 10000, no spikes
    lang_rows = [r for r in rows if r["rule_id"] == "rule:lang"]
    assert len(lang_rows) == 4
    assert all(r["ratio_bp"] == 10000 and not r["spike"] for r in lang_rows)
    # a rule firing in exactly ONE unit is the loudest spike, not a
    # "no baseline" NULL: clean units count as zeros in the others' mean
    id_rows = [r for r in rows if r["rule_id"] == "rule:doc_id"]
    assert len(id_rows) == 1
    assert id_rows[0]["n_violations"] == 2 and id_rows[0]["spike"]
    assert id_rows[0]["ratio_bp"] == 2 * 3 * 10000  # vs greatest(0,1)
    assert all(r["ratio_bp"] is not None for r in rows)


def test_empty_unit_and_clean_run_contracts(spark, tmp_path):
    """A ZERO-ROW input file is legal parquet and must not wedge the run
    (regression: schema-less read of a footer-less verdicts dir); a fully
    clean run returns an empty rule_trends frame."""
    src = str(tmp_path / "e_in")
    spark.range(0).selectExpr(
        "cast(null as string) doc_id", "cast(null as string) text",
        "cast(null as string) lang",
    ).coalesce(1).write.parquet(src)
    spark.range(20).selectExpr(
        "concat('d', id) doc_id", "'valid text here' text", "'en' lang",
    ).coalesce(1).write.mode("append").parquet(src)

    run = CheckpointedRun(
        spark, src, RULES, str(tmp_path / "e"), files_per_unit=1
    )
    summary = run.run()
    assert summary["total_units_done"] == 2
    assert summary["rows"] == 20 and summary["failed_rows"] == 0
    assert run.rule_trends().count() == 0  # clean run -> empty, not error


def test_centroid_states_resume_merge_and_drift(spark, tmp_path):
    """Per-unit centroid states fold to exactly the whole-input state
    after a crash-and-resume (re-run units overwrite, never
    double-count), and the drift report flags the unit whose embeddings
    flipped sign."""
    from evalidate_spark.functions.similarity import embedding_centroid_state

    path = str(tmp_path / "emb_in")
    (
        spark.range(120)
        .selectExpr(
            "concat('d', id) AS doc_id",
            "'valid text here' AS text",
            "'en' AS lang",
            # last quarter of ids: inverted embeddings (encoder 'swap')
            "transform(sequence(1, 8), d -> CASE WHEN id >= 90 "
            "THEN -cast(1.0 + d AS double) ELSE cast(1.0 + d AS double) END)"
            " AS embedding",
        )
        .repartitionByRange(8, F.col("id"))
        .write.parquet(path)
    )
    out = str(tmp_path / "c")
    run = CheckpointedRun(
        spark, path, RULES, out,
        files_per_unit=2, centroid_vec_col="embedding", centroid_dim=8,
    )
    run.run(max_units=1)
    # crash AFTER state write, BEFORE manifest: the unit must re-run and
    # OVERWRITE its state rather than double-count
    import os
    mdir = os.path.join(out, "manifest")
    os.remove(os.path.join(mdir, sorted(os.listdir(mdir))[0]))
    run.run()

    merged = run.centroid().first()
    whole = embedding_centroid_state(
        spark.read.parquet(path), vec_col="embedding", id_col="doc_id", dim=8
    ).first()
    assert merged["n_vecs"] == whole["n_vecs"] == 120
    assert list(merged["sums"]) == list(whole["sums"])

    drift = run.centroid_drift()
    assert len(drift) == 4 and drift[0]["cos_prior"] is None
    assert sum(d["n_vecs"] for d in drift) == 120
    # range-partitioned input puts the inverted ids in the LAST unit:
    # aligned units read ~1.0 against their prior fold, the swapped unit
    # reads strongly negative — the tripwire fires
    cs = [d["cos_prior"] for d in drift[1:]]
    assert all(c is not None for c in cs)
    assert max(cs) > 0.99 and min(cs) < -0.5


READ_BACKS = {
    "profile": (),
    "quantiles": (),
    "quantile_drift": ([], []),
    "check_results": (),
    "hot_keys": (),
    "uniqueness_summary": (),
    "centroid": (),
    "centroid_drift": (),
}


@pytest.mark.parametrize("read_back", sorted(READ_BACKS))
def test_read_back_raises_when_not_configured(spark, tmp_path, read_back):
    """Every read-back refuses a family the run was not configured for."""
    run = CheckpointedRun(spark, str(tmp_path), RULES, str(tmp_path / "x"))
    with pytest.raises(ValueError, match="was not set on this run"):
        getattr(run, read_back)(*READ_BACKS[read_back])


def test_folds_with_zero_completed_units(spark, tmp_path):
    """An input with no parquet file completes no unit; every fold then
    names its family and says so instead of failing on a missing state
    table."""
    src = tmp_path / "empty_in"
    src.mkdir()
    run = CheckpointedRun(
        spark, str(src), RULES, str(tmp_path / "z"),
        profile_columns=("lang",), quantile_columns=("n",),
        checks={"ok": "n >= 0"}, hotkey_columns=("lang",),
        uniqueness_columns=("doc_id",), centroid_vec_col="embedding",
    )
    assert run.run()["total_units_done"] == 0
    for read_back, args in READ_BACKS.items():
        with pytest.raises(ValueError, match="state: no unit of this run has completed"):
            getattr(run, read_back)(*args)
