"""Smoke test of the benchmark itself: every workload at a tiny size.

    python3 perfbench/smoke.py

Runs each workload of BENCHMARK.json, and ``checkpoint_resume``, once
untraced and once or twice traced (``--scale`` shrinks the inputs), with
their output checks, and asserts that

* every run is correct and prints exactly the metrics BENCHMARK.json names
  for its mode, each with BENCHMARK.json's unit;
* the traced runs write spans for every layer the benchmark measures, and
  their iteration spans carry Spark's stage counters;
* the exact counts repeat exactly across the two traced runs.

Exits 0 when all of that holds.  Takes a few minutes: every run starts its
own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probes import STAGE_FIELDS  # noqa: E402

SCALE = 0.02
SEED = 1
#: layer -> span-name prefix the traced runs must have written
LAYER_SPANS = {
    "session": "session.",
    "compiler": "compiler.",
    "fastpath": "fastpath.",
    "engine": "engine.",
    "checkpoint": "checkpoint.",
    "operators.table_checks": "table_checks.",
    "functions.dedup": "dedup.",
}
#: per-layer metrics that must repeat exactly, by the workload that makes them
EXACT = {
    "violations_dirty": [
        "engine.violation_rows",
        "engine.gate_fail_frac",
        "checkpoint.scan_amp",
        "checkpoint.jobs_per_unit",
    ],
    "checkpoint_resume": ["checkpoint.scan_amp", "checkpoint.jobs_per_unit"],
    "near_dup_minhash": ["dedup.candidate_pairs", "dedup.planted_recall"],
}


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
        "--trace", str(trace), "--scale", str(SCALE),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}"
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    return result


def check_metrics(result: dict, wanted: List[dict], what: str) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, f"{what}: metric names differ"
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{what}: {m['name']} unit {v['unit']!r}"
        assert isinstance(v["value"], (int, float)), f"{what}: {m['name']} is not a number"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    span_names: set = set()
    counters: set = set()
    for w in [x["name"] for x in bench["workloads"]] + ["checkpoint_resume"]:
        r = run(w, 0)
        check_metrics(r, bench["end_to_end"], f"{w} untraced")
        assert all(v["value"] > 0 for v in r["metrics"].values()), f"{w}: a zero end-to-end metric"
        traced: List[Dict[str, float]] = []
        for _ in range(2 if w in EXACT else 1):
            r = run(w, 1)
            check_metrics(r, bench["per_layer"], f"{w} traced")
            traced.append({k: v["value"] for k, v in r["metrics"].items()})
            with open(os.path.join(ROOT, ".perfbench", f"spans-{w}-s{SEED}.json")) as fh:
                spans = json.load(fh)["spans"]
            assert all(sp["end"] >= sp["start"] for sp in spans)
            span_names |= {sp["name"] for sp in spans}
            counters |= {k for sp in spans if sp["name"] == "iteration" for k in sp["counters"]}
        for k in EXACT.get(w, []):
            assert traced[0][k] == traced[1][k] and traced[0][k] > 0, f"{w}: {k} {traced[0][k]} vs {traced[1][k]}"
        if w == "verdict_scan":
            assert traced[0]["scaling_eff"] > 0, "verdict_scan: no scaling_eff"
        if w == "near_dup_minhash":
            assert traced[0]["dedup.planted_recall"] == 1.0
        print(f"ok {w}")
    for layer, prefix in LAYER_SPANS.items():
        assert any(n.startswith(prefix) for n in span_names), f"no spans for layer {layer}"
    missing = set(STAGE_FIELDS) - counters
    assert not missing, f"iteration spans lack stage counters {sorted(missing)}"
    print("ok spans for " + ", ".join(LAYER_SPANS) + ", and stage counters")
    return 0


if __name__ == "__main__":
    sys.exit(main())
