"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload verdict_scan --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  The run generates (or finds in
``.perfbench/inputs``) its seeded input, starts a Spark session through
``session.get_spark(cores=nproc)``, compiles the rules and runs one cold
iteration (together: ``setup_s``), then repeats the workload for
``--seconds`` seconds, checking every iteration's outputs.

With ``--trace 0`` it reports the end-to-end metrics.  With ``--trace 1`` it
interleaves traced and untraced iterations, runs the workload's ladder of
forced jobs, and reports the per-layer metrics; the spans go to
``.perfbench/spans-<workload>-s<seed>.json``.  The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

The run refuses to start (exit code 3) while another Spark JVM is alive,
and marks itself incorrect if one appears before it ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from typing import Dict, List, Optional, Tuple  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from probes import STAGE_FIELDS, Tracer, cpu_s, spark_jvms, vm_hwm_mb  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "3g"

END_TO_END = {"setup_s": "s", "docs_per_cpu_s": "1/s"}
PER_LAYER = {
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "compiler.compile_s": "s",
    "fastpath.scan_s": "s",
    "fastpath.predicate_s": "s",
    "fastpath.verdict_agg_s": "s",
    "fastpath.scan_bytes": "bytes",
    "engine.scan_bytes": "bytes",
    "engine.gate_fail_frac": "ratio",
    "engine.violations_build_s": "s",
    "engine.violation_rows": "count",
    "engine.write_s": "s",
    "engine.write_bytes": "bytes",
    "engine.metrics_s": "s",
    "checkpoint.unit_s": "s",
    "checkpoint.scan_amp": "ratio",
    "checkpoint.jobs_per_unit": "count",
    "checkpoint.resume_list_s": "s",
    "checkpoint.unit_write_bytes": "bytes",
    "table_checks.profile_state_s": "s",
    "table_checks.uniqueness_state_s": "s",
    "table_checks.check_expressions_s": "s",
    "dedup.signature_s": "s",
    "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.planted_recall": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "write_amp": "ratio",
    "scaling_eff": "ratio",
    "trace.docs_per_s": "1/s",
    "trace.overhead": "ratio",
}
#: timed iterations a run makes however long they take; a trace run makes
#: one more warm-up and then twice as many, half of them traced
MIN_ITERATIONS = 2
#: compile calls timed for ``compiler.compile_s``
COMPILE_REPS = 5
#: timed iterations on the one-core session behind ``scaling_eff``
SCALING_ITERATIONS = 1


class Tally:
    """Operations attempted and failed, with what went wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: List[str] = []

    def add(self, problems: List[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems
            for p in problems:
                print(f"check failed: {p}", file=sys.stderr)


def pin_environment(tmp: str) -> None:
    """Keep Spark's, Java's and Python's scratch files inside the run
    directory (``-XX:-UsePerfData``: no hsperfdata file in /tmp) and turn
    off the console progress bar, whose ``\\r`` lines swallow stdout."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEMORY)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def start_session(cores: int):
    from evalidate_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", cores=cores)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited, so the next
    session starts a fresh one."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def process_cpu_s(spark) -> float:
    """CPU seconds used so far by the driver JVM and this process."""
    return cpu_s(jvm_pid(spark)) + cpu_s(os.getpid())


def iteration(
    w: Workload, spark, tally: Tally, tracer: Optional[Tracer] = None
) -> Optional[Tuple[float, float]]:
    """One iteration and its output check; the iteration's wall and CPU
    seconds, or None if it raised."""
    w.reset()
    try:
        c0 = process_cpu_s(spark)
        t0 = time.perf_counter()
        with tracer.span("iteration") if tracer else nullcontext():
            out = w.iterate(spark)
        dt = time.perf_counter() - t0
        cpu = process_cpu_s(spark) - c0
        tally.add(w.check(spark, out))
        return dt, cpu
    except Exception as e:  # a failed iteration counts toward `failed`
        traceback.print_exc()
        tally.add([f"{w.name} raised {type(e).__name__}: {e}"])
        return None


def checked(tally: Tally, fn, *args) -> Optional[object]:
    try:
        return fn(*args)
    except Exception as e:  # counts toward `failed`, like an iteration
        traceback.print_exc()
        tally.add([f"{fn.__name__} raised {type(e).__name__}: {e}"])
        return None


def median_or_zero(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def rate(docs: int, seconds: List[float]) -> float:
    """Docs per second of the median iteration; 0 if none completed."""
    return docs / statistics.median(seconds) if seconds else 0.0


def span_counters(tracer: Tracer, name: str) -> Dict[str, float]:
    """Per-span mean of the stage counters over the spans called ``name``."""
    spans = tracer.named(name)
    return {
        f"spark.{k}": sum(sp.counters.get(k, 0.0) for sp in spans) / max(len(spans), 1)
        for k in STAGE_FIELDS
        if f"spark.{k}" in PER_LAYER
    }


def measure(a: argparse.Namespace, run_dir: str) -> dict:
    tally = Tally()
    w = WORKLOADS[a.workload](run_dir, a.seed, a.scale)
    t0 = time.perf_counter()
    w.make_inputs(os.path.join(WORK, "inputs"))
    gen_s = time.perf_counter() - t0

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(f"{a.workload}-s{a.seed}-{os.getpid()}", enabled=bool(a.trace))
    layer: Dict[str, float] = {}
    with tracer.span("session.start"):
        spark, layer["session.start_s"] = start_session(cores)
    try:
        pid = jvm_pid(spark)
        tracer.attach(spark)
        config = {
            "cores": cores,
            "master": spark.sparkContext.master,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "docs": w.n_docs,
            "input_bytes": w.input_bytes,
        }
        with tracer.span("compiler.compile"):
            w.compile(spark)
        with tracer.span("cold_iteration"):
            iteration(w, spark, tally)
        setup_s = time.perf_counter() - T_START - gen_s

        # after one more warm-up iteration, trace runs interleave untraced
        # and traced iterations as U T T U, so the two rates come from the
        # same session and a warming trend favours neither
        plain: List[Tuple[float, float]] = []
        traced: List[Tuple[float, float]] = []
        deadline = time.perf_counter() + a.seconds
        min_iterations = 1 + 2 * MIN_ITERATIONS if a.trace else MIN_ITERATIONS
        i = 0
        while True:
            with_trace = bool(a.trace) and i % 4 in (2, 3)
            got = iteration(w, spark, tally, tracer if with_trace else None)
            if got is not None and not (a.trace and i == 0):
                (traced if with_trace else plain).append(got)
            if i == 0:
                # the peak over set-up and one timed iteration: a fixed
                # amount of work, so a faster program is not charged for
                # the heap that more iterations in the same time would grow
                rss_mb = vm_hwm_mb(pid) + vm_hwm_mb(os.getpid())
            i += 1
            if time.perf_counter() >= deadline and i >= min_iterations:
                break
        if w.sample:
            problems = checked(tally, w.sample_check, spark)
            if problems is not None:
                tally.add(problems)

        if a.trace:
            layer["peak_rss_mb"] = rss_mb
            layer["write_amp"] = w.out_bytes() / w.input_bytes
            layer.update(span_counters(tracer, "iteration"))
            compile_s = []
            if w.docs is not None:
                for _ in range(COMPILE_REPS):
                    with tracer.span("compiler.compile"):
                        c0 = time.perf_counter()
                        w.compile(spark)
                        compile_s.append(time.perf_counter() - c0)
            layer["compiler.compile_s"] = median_or_zero(compile_s)
            with tracer.span(f"ladder.{w.name}"):
                layer.update(checked(tally, w.ladder, spark, tracer) or {})
        others = [p for p in spark_jvms() if p != pid]
    finally:
        tracer.detach()
        stop_session(spark)
    if others:
        tally.add([f"another Spark JVM appeared during the run: pids {others}"])

    if a.trace and a.workload == "verdict_scan":
        # T1 / (cores * T_cores) on a fresh one-core JVM, same input
        with tracer.span("scaling.session.start"):
            spark1, _ = start_session(1)
        try:
            tracer.attach(spark1)
            with tracer.span("scaling.cold_iteration"):
                iteration(w, spark1, tally)
            one = []
            for _ in range(SCALING_ITERATIONS):
                with tracer.span("scaling.iteration"):
                    got = iteration(w, spark1, tally)
                if got is not None:
                    one.append(got[0])
        finally:
            tracer.detach()
            stop_session(spark1)
        if one and plain:
            layer["scaling_eff"] = statistics.median(one) / (cores * statistics.median([t for t, _ in plain]))

    docs_per_s = rate(w.n_docs, [t for t, _ in plain])
    if a.trace:
        layer["docs_per_s"] = docs_per_s
        layer["trace.docs_per_s"] = rate(w.n_docs, [t for t, _ in traced])
        layer["trace.overhead"] = 1.0 - layer["trace.docs_per_s"] / docs_per_s if docs_per_s else 0.0
        spans_path = os.path.join(WORK, f"spans-{a.workload}-s{a.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": tracer.records()}, fh, indent=1)
        print(f"spans {spans_path}")
        metrics = {k: (layer.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "docs_per_cpu_s": rate(w.n_docs, [c for _, c in plain])}
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
        print(f"info docs_per_s {docs_per_s} 1/s")
        print(f"info write_amp {w.out_bytes() / w.input_bytes} ratio")
        print(f"info peak_rss_mb {rss_mb} MB")
    print("config " + " ".join(f"{k}={v}" for k, v in config.items()))
    for kind, its in (("untraced", plain), ("traced", traced)):
        print(f"info {kind} iterations (wall s, cpu s) {[(round(t, 3), round(c, 2)) for t, c in its]}")
    print(f"info input_generation_s {gen_s:.2f}")
    print(f"info error_rate {tally.failed / max(tally.attempted, 1)} ratio")
    for k, (v, u) in metrics.items():
        print(f"metric {k} {v} {u}")
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", type=float, default=1.0, help="input size as a share of the benchmark's")
    a = ap.parse_args(argv)

    others = spark_jvms()
    if others:
        print(f"refusing to start: another Spark JVM is alive (pids {others})", file=sys.stderr)
        return 3
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pin_environment(tmp)
    try:
        result = measure(a, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
