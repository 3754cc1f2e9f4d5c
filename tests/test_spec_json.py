"""Spec JSON round-trip + the spark-submit job entrypoint."""

import json
import subprocess
import sys

import pytest

from evalidate_spark import lib
from evalidate_spark.spec import (
    Allowed,
    CustomValidator,
    Default,
    Each,
    OrV,
    Regexp,
    Rule,
    RuleAnd,
    RuleOr,
    Size,
    SpecError,
    Type,
)
from evalidate_spark.spec_json import rules_from_json, rules_to_json

FULL_SPEC = [
    Rule(key="doc_id", presence="required", validators=[Type("binary"), Size(1, None)]),
    Rule(
        key="spans",
        presence="required",
        validators=[Type("list")],
        childs=[
            Rule(key="kind", validators=[Allowed(["text", "media"])]),
            Rule(key="offset", presence=Default(0), validators=[Size(0, None)]),
        ],
    ),
    Rule(key="email", presence="optional", validators=[lib.v_email()]),
    Rule(key="count", validators=[lib.v_binary_integer(1, 100)], converter="to_int"),
    Rule(key="tags", validators=[OrV([Type("list"), Type("binary")])],
         converter=Each("lowercase")),
    RuleOr(rules=[Rule(key="lang", validators=[Allowed(["en"])]),
                  Rule(key="lang", validators=[Regexp("^d")])]),
    RuleAnd(rules=[Rule(key="a", presence="optional")], on_error="both needed"),
    Rule(key="legacy", presence="deprecated", on_error="{{key}} gone"),
]


class TestSpecJson:
    def test_roundtrip_identity(self):
        js = rules_to_json(FULL_SPEC)
        back = rules_from_json(js)
        assert rules_to_json(back) == js  # fixpoint
        assert json.loads(js)[0]["kind"] == "rule"

    def test_roundtrip_compiles_identically(self, spark):
        from evalidate_spark import validate

        df = spark.createDataFrame(
            [("d1", [("text", 5)], "a@b.co", "42", ["X"], "en", None, None)],
            "doc_id string, spans array<struct<kind string, offset int>>, email string,"
            " count string, tags array<string>, lang string, a string, legacy string",
        )
        a = validate(df, FULL_SPEC, id_cols=["doc_id"])
        b = validate(df, rules_from_json(rules_to_json(FULL_SPEC)), id_cols=["doc_id"])
        assert sorted(map(tuple, a.violations.collect())) == sorted(map(tuple, b.violations.collect()))
        assert a.clean.columns == b.clean.columns

    def test_custom_validator_rejected(self):
        with pytest.raises(SpecError, match="cannot be serialized"):
            rules_to_json([Rule(key="x", validators=[CustomValidator(lambda v: True)])])

    def test_elements_in_params(self):
        js = rules_to_json([Rule(key="k", validators=[lib.elements_in(["a", "b"])])])
        [rule] = rules_from_json(js)
        assert rule.validators[0].params == (["a", "b"],)


class TestSubmitJob:
    def test_job_runs_and_resumes(self, spark, tmp_path):
        src = str(tmp_path / "in")
        spark.range(100).selectExpr(
            "concat('d', id) doc_id",
            "case when id % 9 = 0 then 'no' else 'valid text' end text",
            "cast(id as double) n",
        ).repartition(4).write.parquet(src)
        rules_file = tmp_path / "rules.json"
        rules_file.write_text(
            rules_to_json([Rule(key="doc_id"), Rule(key="text", validators=[Size(5, 100)])])
        )
        out = str(tmp_path / "out")

        def run(extra):
            p = subprocess.run(
                [sys.executable, "scripts/run_validation_job.py",
                 "--input", src, "--rules", str(rules_file), "--out", out,
                 "--files-per-unit", "2", *extra],
                capture_output=True, text=True, cwd="/root/repo", timeout=600,
            )
            assert p.returncode == 0, p.stderr[-2000:]
            return json.loads([l for l in p.stdout.splitlines() if l.startswith("{")][-1])

        checks_file = tmp_path / "checks.json"
        checks_file.write_text(json.dumps({"n_nonneg": "n >= 0", "n_small": "n < 90"}))
        common = ["--profile-columns", "doc_id,text", "--quantile-columns", "n",
                  "--checks", str(checks_file),
                  "--hotkey-columns", "text", "--uniqueness-columns", "doc_id"]
        first = run(["--max-units", "1", *common])
        assert len(first["processed_now"]) == 1
        assert "profile" not in first  # incomplete run: no run-level stats
        assert "quantiles" not in first
        assert "checks" not in first
        second = run(common)
        assert second["total_units_done"] == 2
        assert second["rows"] == 100
        assert (tmp_path / "out" / "rules.json").exists()
        assert (tmp_path / "out" / "checks.json").exists()
        chk = {c["check_id"]: c for c in second["checks"]}
        assert chk["n_nonneg"]["n_failed"] == 0 and chk["n_nonneg"]["status"] == "pass"
        assert chk["n_small"]["n_failed"] == 10 and chk["n_small"]["pass_bp"] == 9000
        hk = {h["key"]: h["est_count"] for h in second["hot_keys"]}
        assert hk["valid text"] > hk.get("no", 0)
        [u] = second["uniqueness"]
        assert u["column"] == "doc_id" and u["cross_unit_keys"] == 0
        assert u["union_distinct"] == 100
        prof = {p["column"]: p for p in second["profile"]}
        assert prof["doc_id"]["n_rows"] == 100 and prof["doc_id"]["n_nulls"] == 0
        assert prof["text"]["min_repr"] == "no"
        [q] = second["quantiles"]
        assert q["column"] == "n" and q["n_values"] == 100
        assert q["min_val"] == 0.0 and q["max_val"] == 99.0

        # an empty checks file must fail loudly, not silently no-op
        empty = tmp_path / "empty_checks.json"
        empty.write_text("{}")
        p = subprocess.run(
            [sys.executable, "scripts/run_validation_job.py",
             "--input", src, "--rules", str(rules_file),
             "--out", str(tmp_path / "out2"), "--checks", str(empty)],
            capture_output=True, text=True, cwd="/root/repo", timeout=600,
        )
        assert p.returncode != 0 and "non-empty JSON object" in p.stderr
        # rejected before the session starts: no output dir, no lineage
        assert not (tmp_path / "out2").exists()

    def test_spark_submit_pyfiles(self, spark, tmp_path):
        """The north rule's literal submission mode: ``spark-submit
        --py-files <package.zip>`` with the job script OUTSIDE the repo,
        so the package can only come from the shipped zip."""
        import os
        import shutil
        import zipfile

        zpath = tmp_path / "evalidate_spark.zip"
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _, files in os.walk("/root/repo/evalidate_spark"):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, "/root/repo"))
        script = tmp_path / "job.py"
        shutil.copyfile("/root/repo/scripts/run_validation_job.py", script)

        src = str(tmp_path / "sub_in")
        spark.range(60).selectExpr(
            "concat('d', id) doc_id",
            "case when id % 7 = 0 then 'no' else 'valid text' end text",
        ).repartition(2).write.parquet(src)
        rules_file = tmp_path / "sub_rules.json"
        rules_file.write_text(
            rules_to_json([Rule(key="doc_id"), Rule(key="text", validators=[Size(5, 100)])])
        )
        out = str(tmp_path / "sub_out")
        p = subprocess.run(
            [
                "/opt/spark/bin/spark-submit",
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--py-files", str(zpath),
                str(script),
                "--input", src, "--rules", str(rules_file), "--out", out,
                "--files-per-unit", "2",
            ],
            capture_output=True, text=True, cwd=str(tmp_path), timeout=600,
        )
        assert p.returncode == 0, (p.stdout[-1000:], p.stderr[-3000:])
        summary = json.loads(
            [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        )
        assert summary["rows"] == 60
        viols = spark.read.parquet(out + "/violations")
        assert viols.filter("rule_id = 'rule:text'").count() == 9  # ids 0,7,...,56


def test_map_childs_roundtrip(spark):
    from evalidate_spark.spec_json import rules_from_json, rules_to_json

    rules = [
        Rule(
            key="attrs",
            childs=[
                Rule(key="k1"),
                Rule(key="k2", presence=Default("d"), converter="lowercase"),
            ],
        )
    ]
    back = rules_from_json(rules_to_json(rules))
    # canonical-JSON equality (dataclass empty defaults are tuples, the
    # deserializer produces lists — same spec)
    assert rules_to_json(back) == rules_to_json(rules)
    # and the round-tripped spec compiles against a map column
    df = spark.createDataFrame([({"k1": "A"},)], "attrs map<string,string>")
    from evalidate_spark import validate

    assert validate(df, back, id_cols=["attrs"]).violations.count() == 0


def test_zip_rulesets_serialize_per_set():
    from evalidate_spark.spec_json import rules_from_json, rules_to_json

    rs0 = [Rule(key="a")]
    rs1 = [Rule(key="b", validators=[Type("binary")])]
    blobs = [rules_to_json(rs) for rs in (rs0, rs1)]
    assert [rules_to_json(rules_from_json(b)) for b in blobs] == blobs


class TestSchemaContractGate:
    def test_abort_and_lenient(self, spark, tmp_path):
        """--schema-contract aborts (exit 3) BEFORE any unit runs on a
        broken contract; --schema-lenient downgrades to a summary
        report; a conforming contract passes through with the report."""
        import json
        import subprocess
        import sys

        from evalidate_spark.spec import Rule, Size
        from evalidate_spark.spec_json import rules_to_json

        src = str(tmp_path / "in")
        spark.range(20).selectExpr(
            "concat('d', id) doc_id", "'valid text' text", "id n"
        ).repartition(2).write.parquet(src)
        rules_file = tmp_path / "rules.json"
        rules_file.write_text(rules_to_json([Rule(key="doc_id")]))

        def run(contract, extra=()):
            cfile = tmp_path / "contract.json"
            cfile.write_text(json.dumps(contract))
            return subprocess.run(
                [sys.executable, "scripts/run_validation_job.py",
                 "--input", src, "--rules", str(rules_file),
                 "--out", str(tmp_path / "out"),
                 "--schema-contract", str(cfile), *extra],
                capture_output=True, text=True, cwd="/root/repo",
                timeout=600,
            )
        bad = {"doc_id": "string", "text": "int", "gone": "double"}
        p = run(bad)
        assert p.returncode == 3
        assert "schema contract violated" in p.stderr
        assert not (tmp_path / "out" / "manifest").exists()  # no unit ran

        p = run(bad, ["--schema-lenient"])
        assert p.returncode == 0, p.stderr[-1500:]
        out = json.loads(
            [l for l in p.stdout.splitlines() if l.startswith("{")][-1])
        st = {r["column"]: r["status"] for r in out["schema_conformance"]}
        assert st["text"] == "type_mismatch" and st["gone"] == "missing"
        assert out["rows"] == 20          # the run still completed

        p = run({"doc_id": "string", "text": "string", "n": "bigint"})
        assert p.returncode == 0, p.stderr[-1500:]
        out = json.loads(
            [l for l in p.stdout.splitlines() if l.startswith("{")][-1])
        assert all(r["status"] == "ok" for r in out["schema_conformance"])
