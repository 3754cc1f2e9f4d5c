"""The four workloads: what one iteration runs, how its outputs are checked,
and the ladder of forced jobs a traced run uses to split its layers.

Every workload reads only the tables the generator wrote.  The checks
compare totals, never per-partition rows, because ``verdicts`` keys on
``spark_partition_id()``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from typing import Any, Callable, Dict, List, Optional, Tuple

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from evalidate_spark.checkpoint import CheckpointedRun
from evalidate_spark.compiler import compile_spec
from evalidate_spark.engine import validate
from evalidate_spark.fastpath import compile_fail_predicate, verdict_scan
from evalidate_spark.functions import dedup
from evalidate_spark.operators import table_checks
from evalidate_spark.operators.spans import span_rules
from evalidate_spark.oracle import first_error

import gen
from probes import Span, Tracer, dir_bytes

LOW_RATE = 0.03
DIRTY_RATE = gen.DIRTY_RATE
SAMPLE_DOCS = 2_000
#: the checkpoint corpus' N_FILES files, two to a unit: the interrupted run
#: does the first unit and the resume the second
FILES_PER_UNIT = 2
MINHASH = {"num_hashes": 32, "bands": 16}
#: planted flag -> the ``rule_id`` whose violation rows it produces
RULE_OF_FLAG = {
    "id_null": "rule:doc_id",
    "id_empty": "rule:doc_id",
    "spans_empty": "rule:spans",
    "kind_bad": "rule:kind",
    "offset_null": "rule:offset",
    "offset_neg": "rule:offset",
}
#: the state families the checkpoint workload keeps per unit
PROFILE_COLUMNS = ["doc_id"]
UNIQUENESS_COLUMNS = ["doc_id"]
CHECKS = {"doc_id_present": "doc_id IS NOT NULL"}
#: the columns the fail predicate of the span rules reads
PRUNED_COLUMNS = ["doc_id", "spans.kind", "spans.offset"]
#: times each ladder rung runs; the rung's time is the fastest
RUNG_REPS = 2

PERFBENCH = os.path.dirname(os.path.abspath(__file__))


def generate(kind: str, root: str, **kw: Any) -> dict:
    """Run the generator in a child process and return its description."""
    args = [sys.executable, os.path.join(PERFBENCH, "gen.py"), kind, "--root", root]
    for k, v in kw.items():
        args += [f"--{k}", str(v)]
    out = subprocess.run(args, check=True, capture_output=True, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def force(df) -> None:
    """Evaluate every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def expected_rule_counts(flag_counts: Dict[str, int]) -> Dict[str, int]:
    out: Counter = Counter()
    for flag, n in flag_counts.items():
        out[RULE_OF_FLAG[flag]] += n
    return {k: v for k, v in out.items() if v}


def _verdict_totals(rows) -> Tuple[int, int]:
    return sum(r["rows"] for r in rows), sum(r["failed"] for r in rows)


def _expect(problems: List[str], what: str, got: Any, want: Any) -> None:
    if got != want:
        problems.append(f"{what}: got {got!r}, want {want!r}")


def rung(tracer: Tracer, name: str, fn: Callable[[], Any]) -> Tuple[float, Any, Span]:
    """Run ``fn`` RUNG_REPS times, each in a span called ``name``.  Returns
    the fastest wall time of ``fn`` alone (the span's counter reads are
    outside it), the last result and the last span."""
    times = []
    for _ in range(RUNG_REPS):
        with tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
    return min(times), out, tracer.named(name)[-1]


class Workload:
    """One workload.  ``iterate`` is the timed call and ``check`` verifies
    what it returned; ``reset`` (untimed) runs before each iteration."""

    name = ""
    #: input docs at scale 1, set from timed runs (see BENCHMARK.json)
    size = 0

    def __init__(self, work: str, seed: int, scale: float) -> None:
        self.work = work
        self.seed = seed
        self.n = max(200, int(self.size * scale))
        self.docs: Optional[gen.Docs] = None
        self.texts: Optional[gen.Texts] = None
        self.sample: Optional[str] = None
        self._schema = None

    def make_inputs(self, root: str) -> None:
        raise NotImplementedError

    @property
    def n_docs(self) -> int:
        return (self.docs or self.texts).n_docs

    @property
    def input_bytes(self) -> int:
        return (self.docs or self.texts).input_bytes

    def compile(self, spark) -> None:
        """The driver-side rule compile a user pays before the first job;
        the first call also reads the input's schema."""
        if self._schema is None:
            self._schema = spark.read.parquet(self.docs.path).schema
        compile_spec(span_rules(), self._schema)

    def reset(self) -> None:
        pass

    def iterate(self, spark) -> Any:
        raise NotImplementedError

    def check(self, spark, out: Any) -> List[str]:
        raise NotImplementedError

    def out_bytes(self) -> int:
        """Bytes the last iteration left on disk."""
        return 0

    def sample_check(self, spark) -> List[str]:
        """Agreement with the pure-Python oracle on ``self.sample``, a fixed
        doc sample; only the document workloads have one."""
        raise NotImplementedError

    def ladder(self, spark, tracer: Tracer) -> Dict[str, float]:
        """Per-layer metrics from forced jobs on this workload's input."""
        raise NotImplementedError

    # -- shared by the document workloads ---------------------------------
    def _docs_input(self, root: str, rate: float, sample: int) -> None:
        d = generate("docs", root, seed=self.seed, n=self.n, rate=rate, sample=sample)
        self.docs = gen.Docs(**d)
        if sample:
            self.sample = gen.sample_path(self.docs, sample)

    def _oracle_failing_rows(self) -> Tuple[int, set]:
        """(sample size, set of ``row`` values the oracle fails)."""
        rules = span_rules()
        rows = pq.read_table(self.sample).to_pylist()
        bad = set()
        for r in rows:
            pos = r.pop("row")
            if first_error(rules, r) is not None:
                bad.add(pos)
        return len(rows), bad

    def _fastpath_ladder(self, spark, tracer: Tracer) -> Dict[str, float]:
        """scan alone -> scan + predicate -> ``verdict_scan`` with its
        aggregate; each layer's time is the difference of adjacent rungs."""
        df = spark.read.parquet(self.docs.path)
        fail = F.coalesce(compile_fail_predicate(span_rules(), df.schema), F.lit(False))
        scan_s, _, scan = rung(tracer, "fastpath.scan", lambda: force(df.select(*PRUNED_COLUMNS)))
        pred_s, _, _ = rung(tracer, "fastpath.predicate", lambda: force(df.select(fail.alias("f"))))
        agg_s, _, _ = rung(
            tracer, "fastpath.verdict_scan", lambda: verdict_scan(df, span_rules()).collect()
        )
        return {
            "fastpath.scan_s": scan_s,
            "fastpath.predicate_s": pred_s - scan_s,
            "fastpath.verdict_agg_s": agg_s - pred_s,
            "fastpath.scan_bytes": scan.counters["rchar"],
        }

    def _engine_scan_bytes(self, spark, tracer: Tracer) -> float:
        """``rchar`` bytes of a forced scan of every column, what
        ``engine.validate`` reads."""
        df = spark.read.parquet(self.docs.path)
        return rung(tracer, "engine.scan", lambda: force(df))[2].counters["rchar"]

    @property
    def units(self) -> int:
        return len(self.docs.files) // FILES_PER_UNIT

    def _checkpoint_out(self) -> str:
        return os.path.join(self.work, "out", "checkpoint")

    def _checkpoint_run(self, spark) -> CheckpointedRun:
        return CheckpointedRun(
            spark,
            self.docs.path,
            span_rules(),
            self._checkpoint_out(),
            files_per_unit=FILES_PER_UNIT,
            profile_columns=PROFILE_COLUMNS,
            uniqueness_columns=UNIQUENESS_COLUMNS,
            checks=CHECKS,
        )

    def _checkpoint_ladder(self, spark, tracer: Tracer) -> Dict[str, float]:
        """A fresh ``CheckpointedRun`` over this corpus, one unit per
        ``run(max_units=1)`` call with the resume listing before each, then
        each state family called directly on the first unit."""
        shutil.rmtree(self._checkpoint_out(), ignore_errors=True)
        run = self._checkpoint_run(spark)
        unit_s, list_s = [], []
        for _ in range(self.units):
            with tracer.span("checkpoint.resume_list"):
                t0 = time.perf_counter()
                run.pending_units()
                run.completed_units()
                list_s.append(time.perf_counter() - t0)
            with tracer.span("checkpoint.unit"):
                t0 = time.perf_counter()
                run.run(max_units=1)
                unit_s.append(time.perf_counter() - t0)
        units = tracer.named("checkpoint.unit")[-self.units :]
        out = {
            "checkpoint.unit_s": statistics.median(unit_s),
            "checkpoint.resume_list_s": statistics.median(list_s),
            "checkpoint.scan_amp": sum(u.counters["input_records"] for u in units) / self.docs.n_docs,
            "checkpoint.jobs_per_unit": sum(u.counters["jobs"] for u in units) / self.units,
            "checkpoint.unit_write_bytes": dir_bytes(self._checkpoint_out()) / self.units,
        }
        df = spark.read.parquet(*self.docs.files[:FILES_PER_UNIT])
        families = {
            "profile_state": lambda: table_checks.profile_state(df, PROFILE_COLUMNS, "u").collect(),
            "uniqueness_state": lambda: table_checks.uniqueness_state(df, UNIQUENESS_COLUMNS, "u").collect(),
            "check_expressions": lambda: table_checks.check_expressions(df, CHECKS).collect(),
        }
        for fam, fn in families.items():
            out[f"table_checks.{fam}_s"], _, _ = rung(tracer, f"table_checks.{fam}", fn)
        return out


class VerdictScan(Workload):
    """``fastpath.verdict_scan`` over a corpus where ~3% of docs fail."""

    name = "verdict_scan"
    size = 400_000

    def make_inputs(self, root: str) -> None:
        self._docs_input(root, LOW_RATE, SAMPLE_DOCS)

    def iterate(self, spark) -> Any:
        return verdict_scan(spark.read.parquet(self.docs.path), span_rules()).collect()

    def check(self, spark, out: Any) -> List[str]:
        p: List[str] = []
        _expect(p, "verdict totals", _verdict_totals(out), (self.docs.n_docs, self.docs.failed_docs))
        return p

    def sample_check(self, spark) -> List[str]:
        n, bad = self._oracle_failing_rows()
        df = spark.read.parquet(self.sample)
        fail = F.coalesce(compile_fail_predicate(span_rules(), df.schema), F.lit(False))
        got = {r["row"] for r in df.filter(fail).select("row").collect()}
        p: List[str] = []
        _expect(p, "sample verdict totals", _verdict_totals(verdict_scan(df, span_rules()).collect()), (n, len(bad)))
        _expect(p, "sample failing rows vs oracle", sorted(got), sorted(bad))
        return p

    def ladder(self, spark, tracer: Tracer) -> Dict[str, float]:
        out = self._fastpath_ladder(spark, tracer)
        out["engine.scan_bytes"] = self._engine_scan_bytes(spark, tracer)
        return out


class ViolationsDirty(Workload):
    """``engine.validate``: violations written to parquet and verdicts
    forced, over a corpus where ~30% of docs fail with several violations."""

    name = "violations_dirty"
    size = 40_000

    def make_inputs(self, root: str) -> None:
        self._docs_input(root, DIRTY_RATE, SAMPLE_DOCS)

    def _out(self, what: str = "violations") -> str:
        return os.path.join(self.work, "out", what)

    def iterate(self, spark) -> Any:
        res = validate(spark.read.parquet(self.docs.path), span_rules(), id_cols=["doc_id"])
        res.violations.write.mode("overwrite").parquet(self._out())
        return res.verdicts.collect()

    def check(self, spark, out: Any) -> List[str]:
        d = self.docs
        p: List[str] = []
        _expect(p, "verdict totals", _verdict_totals(out), (d.n_docs, d.failed_docs))
        got = {
            r["rule_id"]: r["count"]
            for r in spark.read.parquet(self._out()).groupBy("rule_id").count().collect()
        }
        _expect(p, "violations per rule_id", got, expected_rule_counts(d.flag_counts))
        return p

    def out_bytes(self) -> int:
        return dir_bytes(self._out())

    def sample_check(self, spark) -> List[str]:
        n, bad = self._oracle_failing_rows()
        res = validate(spark.read.parquet(self.sample), span_rules(), id_cols=["row"])
        got = {r["row"] for r in res.violations.select("row").distinct().collect()}
        p: List[str] = []
        _expect(p, "sample verdict totals", _verdict_totals(res.verdicts.collect()), (n, len(bad)))
        _expect(p, "sample failing rows vs oracle", sorted(got), sorted(bad))
        return p

    def ladder(self, spark, tracer: Tracer) -> Dict[str, float]:
        """scan -> scan + gate predicate -> + violation building -> + the
        parquet write; then the checkpoint ladder."""
        out = self._fastpath_ladder(spark, tracer)
        df = spark.read.parquet(self.docs.path)
        res = validate(df, span_rules(), id_cols=["doc_id"])
        fail = F.coalesce(compile_fail_predicate(span_rules(), df.schema), F.lit(False))
        out["engine.scan_bytes"] = self._engine_scan_bytes(spark, tracer)
        gate_s, _, _ = rung(tracer, "engine.gate", lambda: force(df.withColumn("__f", fail)))
        gate = df.agg(F.sum(fail.cast("long")).alias("f"), F.count(F.lit(1)).alias("n")).collect()[0]
        build_s, _, _ = rung(tracer, "engine.violations", lambda: force(res.violations))
        target = self._out("ladder")
        write_s, _, _ = rung(
            tracer,
            "engine.write",
            lambda: res.violations.write.mode("overwrite").parquet(target),
        )
        metrics_s, _, _ = rung(tracer, "engine.metrics", lambda: res.metrics().collect())
        out.update(
            {
                "engine.gate_fail_frac": gate["f"] / gate["n"],
                "engine.violations_build_s": build_s - gate_s,
                "engine.violation_rows": spark.read.parquet(target).count(),
                "engine.write_s": write_s - build_s,
                "engine.write_bytes": dir_bytes(target),
                "engine.metrics_s": metrics_s,
            }
        )
        # checkpoint_resume is not in BENCHMARK.json (see README.md), so its
        # layers are measured here, on this corpus
        out.update(self._checkpoint_ladder(spark, tracer))
        return out


class CheckpointResume(Workload):
    """``checkpoint.CheckpointedRun`` over a corpus in units with three state
    families, stopped after half the units and then resumed."""

    name = "checkpoint_resume"
    size = 40_000

    def make_inputs(self, root: str) -> None:
        self._docs_input(root, LOW_RATE, 0)

    def reset(self) -> None:
        shutil.rmtree(self._checkpoint_out(), ignore_errors=True)

    def iterate(self, spark) -> Any:
        run = self._checkpoint_run(spark)
        first = run.run(max_units=self.units // 2)
        second = run.run()
        return run, first, second

    def check(self, spark, out: Any) -> List[str]:
        run, first, second = out
        d = self.docs
        p: List[str] = []
        units = [f"unit-{i:05d}" for i in range(self.units)]
        half = self.units // 2
        _expect(p, "interrupted run units", first["processed_now"], units[:half])
        _expect(p, "resumed run units", second["processed_now"], units[half:])
        _expect(p, "manifest units", second["total_units_done"], self.units)
        _expect(p, "manifest totals", (second["rows"], second["failed_rows"]), (d.n_docs, d.failed_docs))
        _expect(p, "violation rows", run.violations().count(), sum(d.flag_counts.values()))
        _expect(p, "verdict totals", _verdict_totals(run.verdicts().collect()), (d.n_docs, d.failed_docs))
        return p

    def out_bytes(self) -> int:
        return dir_bytes(self._checkpoint_out())

    def ladder(self, spark, tracer: Tracer) -> Dict[str, float]:
        return self._checkpoint_ladder(spark, tracer)


class NearDupMinhash(Workload):
    """``dedup.minhash_candidates`` over texts with planted near-duplicate
    twins."""

    name = "near_dup_minhash"
    size = 24_000

    def make_inputs(self, root: str) -> None:
        self.texts = gen.Texts(**generate("texts", root, seed=self.seed, n=self.n))

    def compile(self, spark) -> None:
        pass

    def iterate(self, spark) -> Any:
        df = spark.read.parquet(self.texts.path)
        return dedup.minhash_candidates(df, **MINHASH).select("id_a", "id_b").collect()

    def check(self, spark, out: Any) -> List[str]:
        p: List[str] = []
        _expect(p, "planted recall", planted_recall(self.texts, out), 1.0)
        return p

    def ladder(self, spark, tracer: Tracer) -> Dict[str, float]:
        """The signature column alone, then the whole candidate job."""
        df = spark.read.parquet(self.texts.path)
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            # spread the rows as minhash_candidates does, so both rungs run
            # the signature on the same number of tasks
            df = df.repartition(par)
        sig = dedup.minhash_signature(F.col("text"), MINHASH["num_hashes"])
        sig_s, _, _ = rung(tracer, "dedup.signature", lambda: force(df.select("doc_id", sig.alias("s"))))
        cand_s, pairs, _ = rung(
            tracer,
            "dedup.candidates",
            lambda: dedup.minhash_candidates(df, **MINHASH).select("id_a", "id_b").collect(),
        )
        return {
            "dedup.signature_s": sig_s,
            "dedup.candidates_s": cand_s,
            "dedup.candidate_pairs": len(pairs),
            "dedup.planted_recall": planted_recall(self.texts, pairs),
        }


def planted_recall(texts: gen.Texts, pairs) -> float:
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    return sum(tuple(p) in found for p in texts.pairs) / len(texts.pairs)


WORKLOADS = {w.name: w for w in (VerdictScan, ViolationsDirty, CheckpointResume, NearDupMinhash)}
