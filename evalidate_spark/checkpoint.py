"""Resumable checkpointed validation runs with per-unit lineage + metrics.

The north rule (``BASELINE.json``) requires validation runs that are
"resumable from checkpoint with per-partition lineage + metrics".  The
reference has no notion of this (synchronous in-memory call,
``/root/reference/src/evalidate.erl:19-34``) — this module is new design.

Design
------
A run processes the input in **units** — groups of input parquet files
(with Iceberg, units would be snapshot/partition manifests; the seam is
:func:`list_units`).  For each unit:

1. validate the unit's rows (one fused projection);
2. append violation rows to ``<out>/violations/`` (parquet, partitioned
   by ``unit_id`` so a re-run of a unit could be surgically replaced);
3. append per-partition verdicts to ``<out>/verdicts/`` and the rows of
   every enabled state family (``_FAMILIES``) to ``<out>/<name>_states/``;
4. atomically record the unit in the manifest
   (``<out>/manifest/<unit_id>.json`` — one file per unit, written via
   temp-file + rename, so a crash mid-run never leaves a half-claimed
   unit) together with lineage (input files, wall-clock, engine version,
   and the row/failed-row/partition counts, observed on the verdicts
   write itself — no job reads the verdicts back).

Resume = list units, skip those already in the manifest.  Because every
side effect of a unit lands before its manifest entry, re-running a
crashed unit is idempotent-by-overwrite (``partitionBy(unit_id)`` +
dynamic overwrite).

Scale notes: the manifest is O(#units) tiny JSON files — no driver
bottleneck; each unit job is an independent Spark action so a 10^12-doc
run is a sequence of bounded jobs, and lost work on failure is at most
one unit.  Unit size trades resume granularity vs job overhead.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Any, Callable, Dict, List, NamedTuple, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import __version__
from .engine import validate

MANIFEST_DIR = "manifest"
VIOLATIONS_DIR = "violations"
VERDICTS_DIR = "verdicts"


class _Family(NamedTuple):
    """One per-unit state family of a :class:`CheckpointedRun`."""

    #: names the state table ``<out_dir>/<name>_states``
    name: str
    #: the ``CheckpointedRun`` field that switches the family on
    option: str
    #: key of the run-level fold in the job summary
    #: (``scripts/run_validation_job.py``), and the fold that fills it
    report: str
    fold: Callable[["CheckpointedRun"], Any]
    #: ``(run, unit_df, unit_id) -> state rows`` with an ``increment`` column
    state: Callable[["CheckpointedRun", DataFrame, str], DataFrame]

    @property
    def subdir(self) -> str:
        return "%s_states" % self.name


def _tc():
    # imported on first use: importing this module stays light
    from .operators import table_checks

    return table_checks


def _rows(df: DataFrame) -> List[Dict[str, Any]]:
    return [r.asDict() for r in df.collect()]


def _centroid_state(run: "CheckpointedRun", df: DataFrame, unit_id: str) -> DataFrame:
    from .functions.similarity import embedding_centroid_state

    return embedding_centroid_state(
        df, vec_col=run.centroid_vec_col, id_col=list(run.id_cols)[0], dim=run.centroid_dim
    ).withColumn("increment", F.lit(unit_id))


#: every per-unit state family, in write order: ``run`` writes the enabled
#: ones, each read-back gets its states through ``CheckpointedRun._states``
_FAMILIES: Dict[str, _Family] = {
    f.name: f
    for f in (
        _Family("profile", "profile_columns", "profile", lambda run: _rows(run.profile()),
                lambda run, df, uid: _tc().profile_state(df, list(run.profile_columns), uid)),
        _Family("quantile", "quantile_columns", "quantiles", lambda run: _rows(run.quantiles()),
                lambda run, df, uid: _tc().quantile_state(df, list(run.quantile_columns), uid)),
        _Family("check", "checks", "checks", lambda run: _rows(run.check_results()),
                lambda run, df, uid: _tc().check_expressions(df, run.checks).withColumn(
                    "increment", F.lit(uid))),
        _Family("hotkey", "hotkey_columns", "hot_keys", lambda run: _rows(run.hot_keys()),
                lambda run, df, uid: _tc().hotkey_state(df, list(run.hotkey_columns), uid)),
        _Family("uniqueness", "uniqueness_columns", "uniqueness",
                lambda run: _rows(run.uniqueness_summary()),
                lambda run, df, uid: _tc().uniqueness_state(
                    df, list(run.uniqueness_columns), uid)),
        _Family("centroid", "centroid_vec_col", "centroid_drift",
                lambda run: run.centroid_drift(), _centroid_state),
    )
}


def list_units(input_path: str, files_per_unit: int = 8) -> List[Dict[str, Any]]:
    """Deterministic unit list.  A snapshot-logged input
    (:class:`evalidate_spark.sources.SnapshotLog` layout) yields ONE unit
    per snapshot's own data files — each ingest commit validates as the
    increment it is, and resume skips whole published snapshots; this is
    the literal shape of Iceberg's snapshot listing, which replaces this
    function when the runtime jar exists.  A plain parquet directory
    falls back to part-files grouped in sorted order."""
    from .sources import has_snapshot_log

    if has_snapshot_log(input_path):
        from .sources import SnapshotLog

        # compaction snapshots are pure rewrites of rows that earlier
        # units already validated — processing one as a fresh increment
        # would double every row, violation, and verdict.  A non-compact
        # OVERWRITE does validate (it carries genuinely new data); its
        # superseded units' outputs remain in out_dir by design — each
        # unit records what arrived, not the table's current state
        # (validate-on-arrival lineage).
        return [
            {
                "unit_id": "snap-%05d" % s["snapshot_id"],
                "files": list(s["files"]),
            }
            for s in SnapshotLog(input_path).snapshots()
            if s["files"] and not s.get("compaction")
        ]
    files = sorted(
        f
        for f in os.listdir(input_path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    units = []
    for i in range(0, len(files), files_per_unit):
        chunk = files[i : i + files_per_unit]
        units.append(
            {
                "unit_id": f"unit-{i // files_per_unit:05d}",
                "files": [os.path.join(input_path, f) for f in chunk],
            }
        )
    return units


@dataclass
class CheckpointedRun:
    """One resumable validation run over a parquet directory."""

    spark: SparkSession
    input_path: str
    rules: Any
    out_dir: str
    id_cols: Sequence[str] = ("doc_id",)
    files_per_unit: int = 8
    #: columns to fold into a mergeable per-unit profile state
    #: (``table_checks.profile_state``); empty = no profiling.  States are
    #: written idempotently per unit and :meth:`profile` merges them into
    #: the run-level column stats without rescanning any completed unit.
    profile_columns: Sequence[str] = ()
    #: numeric columns to sketch per unit with DataSketches KLL
    #: (``table_checks.quantile_state``); :meth:`quantiles` folds them
    #: into run-level quantiles and :meth:`quantile_drift` compares any
    #: two unit subsets (e.g. history vs the latest ingest) — all without
    #: rescanning completed units.
    quantile_columns: Sequence[str] = ()
    #: row-level SQL constraints (``check_id -> predicate``,
    #: ``table_checks.check_expressions`` semantics: NULL predicate =
    #: failure) evaluated once per unit; the per-unit count rows are
    #: trivially mergeable and :meth:`check_results` folds them into
    #: run-level pass rates without rescanning any completed unit.
    checks: Optional[Dict[str, str]] = None
    #: columns to sketch per unit with Count-Min + exact candidate lists
    #: (``table_checks.hotkey_state``); :meth:`hot_keys` folds them into
    #: run-level heavy hitters without rescanning completed units.
    hotkey_columns: Sequence[str] = ()
    #: key columns to Theta-sketch per unit
    #: (``table_checks.uniqueness_state``); :meth:`uniqueness_summary`
    #: answers "did later units reintroduce earlier units' keys" from
    #: states alone.
    uniqueness_columns: Sequence[str] = ()
    #: embedding column to fold into a per-unit centroid state
    #: (``similarity.embedding_centroid_state`` — integer-exact per-dim
    #: sums); :meth:`centroid` merges them into the run-level centroid
    #: and :meth:`centroid_drift` reports each unit's centroid-cosine
    #: against all PRIOR units — the encoder-swap tripwire, from states
    #: alone, without rescanning any completed unit.
    centroid_vec_col: Optional[str] = None
    #: dimensionality for ``centroid_vec_col`` states
    centroid_dim: int = 64

    def _manifest_path(self) -> str:
        return os.path.join(self.out_dir, MANIFEST_DIR)

    def completed_units(self) -> Dict[str, Dict[str, Any]]:
        mdir = self._manifest_path()
        if not os.path.isdir(mdir):
            return {}
        out = {}
        for f in os.listdir(mdir):
            if f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    rec = json.load(fh)
                out[rec["unit_id"]] = rec
        return out

    def pending_units(self) -> List[Dict[str, Any]]:
        done = self.completed_units()
        return [u for u in list_units(self.input_path, self.files_per_unit) if u["unit_id"] not in done]

    def _write_manifest(self, rec: Dict[str, Any]) -> None:
        mdir = self._manifest_path()
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, ".%s.tmp" % rec["unit_id"])
        with open(tmp, "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(mdir, "%s.json" % rec["unit_id"]))  # atomic claim

    def run(self, max_units: Optional[int] = None) -> Dict[str, Any]:
        """Process pending units (all, or at most *max_units* — the test
        hook for simulating a crash).  Returns run summary."""
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        processed = []
        for unit in self.pending_units()[: max_units if max_units is not None else None]:
            t0 = time.perf_counter()
            df = self.spark.read.parquet(*unit["files"])
            res = validate(df, self.rules, id_cols=list(self.id_cols))

            viol = res.violations.withColumn("unit_id", F.lit(unit["unit_id"]))
            viol.write.mode("overwrite").partitionBy("unit_id").parquet(
                os.path.join(self.out_dir, VIOLATIONS_DIR)
            )
            # the manifest counts are observed on the verdicts write itself
            # (an empty unit observes NULL sums and 0 partitions), so no
            # second job reads back what was just written
            stats = Observation()
            res.verdicts.withColumn("unit_id", F.lit(unit["unit_id"])).observe(
                stats,
                F.sum("rows").alias("rows"),
                F.sum("failed").alias("failed_rows"),
                F.count(F.lit(1)).alias("partitions"),
            ).write.mode("overwrite").partitionBy("unit_id").parquet(
                os.path.join(self.out_dir, VERDICTS_DIR)
            )

            for fam in self._families():
                # partitioned by the increment (= unit id) under dynamic
                # overwrite: a unit re-run after a crash-before-manifest
                # replaces its state row instead of double-counting it
                fam.state(self, df, unit["unit_id"]).write.mode(
                    "overwrite"
                ).partitionBy("increment").parquet(
                    os.path.join(self.out_dir, fam.subdir)
                )

            rec = {
                "unit_id": unit["unit_id"],
                "input_files": unit["files"],
                **{k: int(v or 0) for k, v in stats.get.items()},
                "wall_s": round(time.perf_counter() - t0, 3),
                "engine_version": __version__,
                "ts": time.time(),
            }
            self._write_manifest(rec)
            processed.append(rec)
        done = self.completed_units()
        return {
            "processed_now": [r["unit_id"] for r in processed],
            "total_units_done": len(done),
            "rows": sum(r["rows"] for r in done.values()),
            "failed_rows": sum(r["failed_rows"] for r in done.values()),
        }

    # ---- read-back views ------------------------------------------------
    def violations(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, VIOLATIONS_DIR))

    def verdicts(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, VERDICTS_DIR))

    def _families(self) -> List[_Family]:
        """The state families this run keeps, in write order."""
        return [f for f in _FAMILIES.values() if getattr(self, f.option)]

    def _states(self, name: str) -> Tuple[DataFrame, List[str]]:
        """The *name* family's state rows of the completed units, and
        those units' ids (sorted).

        The states are cross-checked against the manifest before any
        fold: every completed unit must have a state (else the merge
        would silently undercount — e.g. units completed by an earlier
        run without the family's option), and states from units no
        longer in the manifest (stale out_dir reuse) are excluded."""
        fam = _FAMILIES[name]
        if not getattr(self, fam.option):
            raise ValueError("%s was not set on this run" % fam.option)
        done = sorted(self.completed_units())
        if not done:
            raise ValueError("no %s state: no unit of this run has completed" % name)
        path = os.path.join(self.out_dir, fam.subdir)
        # partitioned by increment (= unit id): the units holding a state are
        # its increment=<unit> directories, listed without a job (none when
        # every completed unit ran without the family)
        have = os.listdir(path) if os.path.isdir(path) else []
        missing = [u for u in done if "increment=" + u not in have]
        if missing:
            raise ValueError(
                "no %s state for completed unit(s) %s — were they run "
                "without %s?" % (name, ", ".join(missing), fam.option)
            )
        # reading with the schema Spark wrote into a part file's footer
        # spares the read its schema-inference job
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        part = os.path.join(path, "increment=" + done[0])
        footer = pq.read_schema(
            os.path.join(part, min(f for f in os.listdir(part) if f.endswith(".parquet")))
        ).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        schema = StructType.fromJson(json.loads(footer)).add("increment", "string")
        states = self.spark.read.schema(schema).parquet(path)
        return states.filter(F.col("increment").isin(done)), done

    def profile(self) -> DataFrame:
        """Run-level column stats folded from the per-unit mergeable
        states (``column, n_rows, n_nulls, n_distinct, min_repr,
        max_repr``) — cost is O(units × columns) state rows, no data
        rescan.  Requires ``profile_columns`` to have been set; the
        states are cross-checked against the manifest first
        (:meth:`_states`), as in every fold below."""
        return _tc().merge_profile_states(self._states("profile")[0])

    def centroid(self) -> DataFrame:
        """Run-level embedding-centroid state folded from the per-unit
        states (one row: ``n_vecs, sums``) — exact integer arithmetic,
        no completed unit ever rescanned."""
        from .functions.similarity import merge_centroid_states

        return merge_centroid_states(self._states("centroid")[0].select("n_vecs", "sums"))

    def centroid_drift(self) -> List[Dict[str, Any]]:
        """Per-unit drift report from states alone: each unit's centroid
        cosine against the fold of all PRIOR units (ingest order =
        unit-id order) — the encoder-swap tripwire.  Driver-side over
        O(units) tiny rows; first unit and empty-prior folds report
        ``None``.  Returns ``[{unit_id, n_vecs, cos_prior}, ...]``."""
        from .functions.similarity import centroid_state_cosine

        states, done = self._states("centroid")
        rows = {r["increment"]: r for r in states.collect()}
        out: List[Dict[str, Any]] = []
        acc_n, acc_sums = 0, [0] * self.centroid_dim
        for uid in done:
            r = rows[uid]
            cos = None
            if acc_n > 0 and r["n_vecs"] > 0:
                prior = {"n_vecs": acc_n, "sums": acc_sums}
                cos = centroid_state_cosine(prior, r)
            out.append(
                {"unit_id": uid, "n_vecs": int(r["n_vecs"]), "cos_prior": cos}
            )
            acc_n += int(r["n_vecs"])
            acc_sums = [a + b for a, b in zip(acc_sums, r["sums"])]
        return out

    def quantiles(self) -> DataFrame:
        """Run-level quantile estimates folded from the per-unit KLL
        states (``column, n_values, min_val, max_val, q_25..q_99``) —
        count/min/max exact, quantiles within sketch rank error."""
        return _tc().merge_quantile_states(self._states("quantile")[0])

    def quantile_drift(
        self, baseline_units: Sequence[str], current_units: Sequence[str]
    ) -> DataFrame:
        """KS drift (integer basis points) between two completed-unit
        subsets — e.g. all historical units vs the latest ingest —
        computed purely from the stored KLL states, no data rescan."""
        states, done = self._states("quantile")
        for u in list(baseline_units) + list(current_units):
            if u not in done:
                raise ValueError("unit %s is not a completed unit" % u)
        return _tc().quantile_drift_states(
            states.filter(F.col("increment").isin(list(baseline_units))),
            states.filter(F.col("increment").isin(list(current_units))),
        )

    def check_results(self) -> DataFrame:
        """Run-level constraint pass rates folded from the per-unit check
        counts — ``(check_id, n_rows, n_failed, pass_bp, status)`` with
        the same int64-``div`` arithmetic as ``check_expressions``.
        Cost is O(units × checks) state rows, no data rescan."""
        folded = (
            self._states("check")[0]
            .groupBy("check_id")
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("n_failed").cast("long").alias("n_failed"),
            )
        )
        return folded.select(
            "check_id", "n_rows", "n_failed", *_tc().pass_rate_cols()
        )

    def hot_keys(self, top_k: int = 10) -> DataFrame:
        """Run-level heavy hitters folded from the per-unit Count-Min
        states — ``(column, key, est_count, n_values, share_bp)`` —
        merged through Spark's own JVM sketch (bit-identical to a
        whole-run sketch), no data rescan."""
        return _tc().merge_hotkey_states(self.spark, self._states("hotkey")[0], top_k)

    def uniqueness_summary(self) -> DataFrame:
        """Cross-unit key uniqueness folded from the per-unit Theta
        states — ``(column, n_values, sum_unit_distinct, union_distinct,
        cross_unit_keys)``; ``cross_unit_keys`` counts keys later units
        reintroduced.  Exact while each column stays under the sketch
        retention; no data rescan."""
        return _tc().merge_uniqueness_states(self._states("uniqueness")[0])

    def rule_trends(self, spike_bp: int = 5000) -> DataFrame:
        """Per-unit, per-rule violation counts with a spike flag —
        ``(unit_id, rule_id, n_violations, ratio_bp, spike)`` where
        ``ratio_bp`` compares the unit's count to the MEAN of all other
        units' counts for the same rule (integer basis points, 10000 =
        exactly the others' mean) and ``spike`` fires above
        ``10000 + spike_bp``.

        "Rule X suddenly fires 3× more in this ingest" is the
        per-increment alert the run-level totals hide.  Reads ONLY the
        violations output already written per unit (partitioned by
        unit_id) — never the input data; cost is O(written violations)
        once, then integer math on O(units × rules) rows.  The baseline
        unit count is ALL completed units (from the manifest), so a unit
        that is clean for a rule still counts as a zero in the others'
        mean — a rule firing in exactly one of ten ingests is the
        loudest possible spike, not a "no baseline" NULL.  Single-unit
        runs report ratio_bp NULL (no baseline, never a spike) — same
        contract as ``profile_anomalies``.  A fully-clean run (no
        violations written anywhere → footer-less output dir) returns an
        empty frame rather than failing."""
        from pyspark.sql.utils import AnalysisException

        done = sorted(self.completed_units())
        try:
            viol = self.violations()
        except AnalysisException:
            return self.spark.createDataFrame(
                [],
                "unit_id string, rule_id string, n_violations bigint, ratio_bp bigint, "
                "spike boolean",
            )
        v = (
            # only manifested units: a crashed unit's partial violation
            # rows (written, never published) must not skew the baseline
            viol.filter(F.col("unit_id").isin(done))
            .groupBy("unit_id", "rule_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        )
        tot = v.groupBy("rule_id").agg(F.sum("n_violations").alias("__tn"))
        j = v.join(F.broadcast(tot), "rule_id")
        # units clean for a rule are zeros in the others' mean: the unit
        # count is the manifest's, NOT the count of units with violations
        n_units = len(done)
        ratio = F.expr(
            "CASE WHEN %d > 1 THEN"
            " n_violations * %dL * 10000L div greatest(__tn - n_violations, 1L)"
            " END" % (n_units, n_units - 1)
        )
        return j.select(
            "unit_id",
            "rule_id",
            "n_violations",
            ratio.cast("long").alias("ratio_bp"),
            F.coalesce(  # single-unit run: NULL ratio, never a spike
                ratio > F.lit(10000 + int(spike_bp)), F.lit(False)
            ).alias("spike"),
        )

    def lineage(self) -> List[Dict[str, Any]]:
        """Per-unit lineage records (inputs, counts, timing, version),
        sorted by unit id."""
        return [v for _, v in sorted(self.completed_units().items())]
