"""spark-submit entrypoint for a checkpointed validation run.

Production submission (north rule: ``spark-submit --py-files``):

    cd /root/repo && zip -qr /tmp/evalidate_spark.zip evalidate_spark
    spark-submit --py-files /tmp/evalidate_spark.zip \
        scripts/run_validation_job.py \
        --input /data/documents --rules rules.json --out /data/validated \
        --id-cols doc_id --files-per-unit 32

Re-running the same command resumes from the unit manifest: completed
units are skipped, so a crashed 10^12-doc run loses at most one unit of
work.  The rule-set JSON is copied into the output directory for lineage.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _names(csv: str) -> tuple:
    return tuple(c.strip() for c in csv.split(",") if c.strip())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="input parquet directory")
    ap.add_argument("--rules", required=True, help="rules JSON file (spec_json format)")
    ap.add_argument("--out", required=True, help="output directory (violations/verdicts/manifest)")
    ap.add_argument("--id-cols", default="doc_id", help="comma-separated id columns")
    ap.add_argument("--files-per-unit", type=int, default=32)
    ap.add_argument("--max-units", type=int, default=None, help="process at most N units (testing)")
    ap.add_argument(
        "--profile-columns",
        default="",
        help="comma-separated columns to fold into per-unit mergeable "
        "profile states; the merged run-level stats print in the summary",
    )
    ap.add_argument(
        "--quantile-columns",
        default="",
        help="comma-separated numeric columns to sketch per unit with "
        "DataSketches KLL; the merged run-level quantiles print in the "
        "summary",
    )
    ap.add_argument(
        "--hotkey-columns",
        default="",
        help="comma-separated columns to Count-Min-sketch per unit; the "
        "merged run-level top hot keys print in the summary",
    )
    ap.add_argument(
        "--uniqueness-columns",
        default="",
        help="comma-separated key columns to Theta-sketch per unit; the "
        "merged cross-unit uniqueness summary prints in the summary",
    )
    ap.add_argument(
        "--centroid-vec-col",
        default="",
        help="embedding column to fold into per-unit integer-exact "
        "centroid states; the merged run centroid plus the per-unit "
        "centroid-vs-prior-units drift report print in the summary",
    )
    ap.add_argument(
        "--centroid-dim",
        type=int,
        default=64,
        help="dimensionality for --centroid-vec-col states",
    )
    ap.add_argument(
        "--checks",
        default="",
        help="JSON file of row-level SQL constraints (check_id -> boolean "
        "expression, check_expressions semantics: NULL fails) evaluated "
        "per unit; the merged run-level pass rates print in the summary",
    )
    ap.add_argument(
        "--schema-contract",
        default="",
        help="JSON file of column -> Spark simpleString type; the input's "
        "ACTUAL schema is checked BEFORE any unit runs and the job aborts "
        "(exit 3) on missing columns or type mismatches — fail fast "
        "instead of NPEing ten hours into a 10^12-doc run",
    )
    ap.add_argument(
        "--schema-lenient",
        action="store_true",
        help="with --schema-contract: report violations in the summary "
        "but do not abort; unexpected (uncontracted) columns never abort",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from evalidate_spark.checkpoint import CheckpointedRun
    from evalidate_spark.spec_json import rules_from_json

    with open(args.rules) as fh:
        rules = rules_from_json(fh.read())
    # malformed JSON inputs are rejected before the JVM starts and before
    # the output directory (and its lineage copies) exists
    checks = None
    if args.checks:
        with open(args.checks) as fh:
            checks = json.load(fh)
        if not isinstance(checks, dict) or not checks:
            # an empty/malformed file must not silently no-op the run:
            # the operator asked for constraints and believes they ran
            raise SystemExit(
                "--checks file %s must be a non-empty JSON object of "
                "check_id -> SQL predicate" % args.checks
            )
    contract = None
    if args.schema_contract:
        with open(args.schema_contract) as fh:
            contract = json.load(fh)
        if not isinstance(contract, dict) or not contract:
            raise SystemExit(
                "--schema-contract file %s must be a non-empty JSON object "
                "of column -> Spark simpleString type" % args.schema_contract
            )

    spark = SparkSession.builder.appName("evalidate-validation-run").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    os.makedirs(args.out, exist_ok=True)
    shutil.copyfile(args.rules, os.path.join(args.out, "rules.json"))  # lineage

    if checks:
        shutil.copyfile(args.checks, os.path.join(args.out, "checks.json"))  # lineage
    schema_report = None
    if contract:
        from evalidate_spark.operators.table_checks import schema_conformance

        shutil.copyfile(
            args.schema_contract, os.path.join(args.out, "schema_contract.json")
        )  # lineage
        report = schema_conformance(
            spark.read.parquet(args.input), contract, strict=True
        ).collect()
        schema_report = [r.asDict() for r in report]
        broken = [r for r in report if r.status in ("missing", "type_mismatch")]
        if broken and not args.schema_lenient:
            print(json.dumps({"schema_conformance": schema_report}))
            print(
                "schema contract violated: %s — aborting before any unit "
                "runs (use --schema-lenient to continue)"
                % ", ".join("%s:%s" % (r.column, r.status) for r in broken),
                file=sys.stderr,
            )
            return 3
    run = CheckpointedRun(
        spark,
        args.input,
        rules,
        args.out,
        id_cols=_names(args.id_cols),
        files_per_unit=args.files_per_unit,
        profile_columns=_names(args.profile_columns),
        quantile_columns=_names(args.quantile_columns),
        hotkey_columns=_names(args.hotkey_columns),
        uniqueness_columns=_names(args.uniqueness_columns),
        checks=checks,
        centroid_vec_col=args.centroid_vec_col or None,
        centroid_dim=args.centroid_dim,
    )
    summary = run.run(max_units=args.max_units)
    if schema_report is not None:
        summary["schema_conformance"] = schema_report
    # run-level folds only once every unit is done; a run with no unit
    # (an empty input) has nothing to fold
    if summary["total_units_done"] and not run.pending_units():
        for fam in run._families():
            summary[fam.report] = fam.fold(run)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
