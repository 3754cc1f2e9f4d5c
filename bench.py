"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line ``{"metric", "value", "unit": "sec", "queries", "sf",
"docs_per_sec", "cpus"}``.

The flagship measurement is the north-star metric: full rule-set validation
throughput (validated docs/sec) over the interleaved text+media documents
table (input_hint shape).  The spans input is generated once per (n_docs)
with the deterministic distributed generator (seed 42) and cached as parquet
under ``.bench_cache/`` so the timed section is scan → fused validation
projection → verdict roll-up, exactly the production plan.

Every query is forced with a ``noop`` write (full evaluation of all
columns, no driver collect bottleneck).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPO = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(REPO, ".bench_cache")


def _sf() -> float:
    try:
        return float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", ""))
    except ValueError:
        return 0.1


def get_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(f"evalidate-bench-{CPUS}")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.default.parallelism", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


class _StageMetrics:
    """Per-query shuffle/input telemetry from the JVM AppStatusStore —
    wall time alone hides plan regressions (a query can stay fast at
    sf0.1 while its shuffle bytes triple), so each bench row also
    records the bytes that crossed a shuffle boundary and the bytes/rows
    read.  Deltas are computed over NEW stage ids since the last mark
    (stage ids are monotonic; the retained-stage eviction window never
    shrinks a delta taken this way).  Uses an internal Spark API via
    py4j (statusStore.stageList) — any failure degrades to zeros rather
    than failing the bench."""

    FIELDS = (
        "shuffle_write_bytes",
        "shuffle_read_bytes",
        "input_bytes",
        "input_records",
    )

    def __init__(self, spark):
        self._ok = True
        try:
            sc = spark.sparkContext
            self._store = sc._jsc.sc().statusStore()
            self._jvm = sc._jvm
            self._last = -1
        except Exception:
            self._ok = False

    def _stages(self):
        store = self._store
        empty = self._jvm.java.util.ArrayList()
        d4 = getattr(store, "stageList$default$4")()
        d5 = getattr(store, "stageList$default$5")()
        return store.stageList(empty, False, False, d4, d5)

    def mark(self) -> None:
        if not self._ok:
            return
        try:
            s = self._stages()
            for i in range(s.size()):
                self._last = max(self._last, s.apply(i).stageId())
        except Exception:
            self._ok = False

    def delta(self) -> dict:
        out = dict.fromkeys(self.FIELDS, 0)
        if not self._ok:
            return out
        try:
            s = self._stages()
            mx = self._last
            for i in range(s.size()):
                st = s.apply(i)
                sid = st.stageId()
                if sid <= self._last:
                    continue
                mx = max(mx, sid)
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["input_bytes"] += st.inputBytes()
                out["input_records"] += st.inputRecords()
            self._last = mx
        except Exception:
            self._ok = False
        return out


def spans_input(spark, n_docs: int):
    """Generated interleaved docs cached as parquet (deterministic seed 42)."""
    path = os.path.join(CACHE, f"docs_{n_docs}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from evalidate_spark.fixtures import gen_documents

        gen_documents(spark, n_docs, partitions=CPUS * 2).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def q_validate_spans(spark, docs):
    """North-star: full rule-set pass over interleaved docs — engine rules
    (presence/type/size/allowed over doc_id + spans) fused with the span
    structural HOF checks, rolled up to per-partition verdicts."""
    from evalidate_spark import validate
    from evalidate_spark.operators.spans import span_rules

    res = validate(docs, span_rules(), id_cols=["doc_id"])
    return res.annotated.select(
        "doc_id",
        (res.annotated["violations"].getField("rule_id")).alias("rule_ids"),
    )


def q_span_structure_full(spark, docs):
    from evalidate_spark.operators.spans import span_structure_violations

    return span_structure_violations(docs)


def main() -> None:
    import __spark_entry__ as entry

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    n_docs = max(10_000, int(2_000_000 * _sf()))
    docs = spans_input(spark, n_docs)

    timings: dict[str, float] = {}
    query_metrics: dict[str, dict] = {}
    meter = _StageMetrics(spark)

    def timed(name, fn, runs=3):
        """min of *runs* — the first run pays one-off codegen compilation +
        parquet footer reads, and this VM's run-to-run noise is 2-5×;
        steady-state throughput is what scales to the cluster.  The
        default is 3: at min of 2, ``scripts/bench_diff.py`` reported
        that noise as movers.  Byte/row
        telemetry is taken from the LAST run (shuffle/input volumes are
        deterministic across runs; only wall time is noisy)."""
        best = None
        for i in range(runs):
            if i == runs - 1:
                meter.mark()
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        query_metrics[name] = meter.delta()

    # warm the JVM/codegen once with a trivial job
    spark.range(1000).count()

    timed("validate_spans", lambda: _force(q_validate_spans(spark, docs)))

    def q_verdict_scan():
        from evalidate_spark.fastpath import verdict_scan
        from evalidate_spark.operators.spans import span_rules

        return _force(verdict_scan(docs, span_rules()))

    timed("verdict_scan", q_verdict_scan)

    # North-star throughput at 2M docs: the sf-scaled input above is small
    # enough that fixed per-job overhead (~1-2 s of scheduling + codegen)
    # dominates the quotient, understating the engine; the 2M-doc run
    # amortizes it and matches the scaling bench's working set.
    big = spans_input(spark, 2_000_000)
    # runs=5 on the two headline 2M-doc quotients: this VM's run-to-run
    # noise is 2-5x (measured 2.8-7.9 s for the identical job back to
    # back), so a min-of-3 still leaks slow-sample bias into docs/sec
    timed("validate_spans_2m", lambda: _force(q_validate_spans(spark, big)), runs=5)

    def q_verdict_scan_2m():
        from evalidate_spark.fastpath import verdict_scan
        from evalidate_spark.operators.spans import span_rules

        return _force(verdict_scan(big, span_rules()))

    timed("verdict_scan_2m", q_verdict_scan_2m, runs=5)
    timed("span_structure_full", lambda: _force(q_span_structure_full(spark, docs)))

    # production profile path: HLL approx-distinct (the driver-gate query
    # keeps exact mode because its DuckDB oracle needs exact counts)
    def q_profile_hll():
        from evalidate_spark.operators.table_checks import profile

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        return _force(
            profile(li, columns=["l_orderkey", "l_returnflag", "l_shipdate"])
        )

    timed("profile_lineitem_hll", q_profile_hll)

    qs = entry.queries()
    for name in (
        "validate_documents",
        "clean_documents",
        "profile_lineitem",
        "uniqueness_events_user",
        "referential_lineitem_supplier",
        "histogram_events_value",
        "span_refs_dangling",
        "quality_documents",
        "minhash_pairs",
        "ann_topk",
        "drift_events",
        "media_features",
        "sessions",
        "asof_features",
        "packed_sequences",
        "dedup_corpus",
        "dedup_attrition",
        # near_dedup_attrition is gate-checked but not benched: its cluster
        # stage duplicates leakage_split's (same chain pairs) and its rollup
        # is dedup_attrition's — benching it would double-count ~10 s
        "minhash_dedup_attrition",
        "drift_quantile",
        "quantized_topk",
        "centroid_outliers",
        "contamination",
        "pii_redaction",
        "boilerplate_removal",
        "corpus_report",
        "chunked_docs",
        "quality_topk",
        "referential_bloom",
        "budget_selection",
        "leakage_split",
        "lm_scores",
        "domain_caps",
        "incremental_dedup",
        "mixture_rebalance",
        "corpus_diff",
        "normalized_docs",
        "span_reconstruct",
        "partition_verdicts",
        "ngram_dup_spans",
        "canonical_urls",
        "winsorize_quantity",
        "suggested_constraints",
        "profile_incremental",
        "semantic_dedup",
        "srp_pairs_md5",
        "embedding_drift",
        "centroid_states",
        "embedding_dedup_attrition",
        "incremental_srp",
        "gopher_rules",
        "filter_funnel",
        "c4_filters",
        "classifier_scores",
        "functional_deps",
        "skew_report",
        "encoding_anomalies",
        "quantile_states",
        "corpus_overlap",
        "resolve_duplicates",
        "profile_anomalies",
        "html_extract",
        "tfidf_terms",
        "bm25_topk",
        "ssjoin_pairs",
        "column_entropy",
        "check_expressions",
        "expression_violations",
        "sequence_anomalies",
        "group_drift",
        "hotkey_topk",
        "cardinality_suppliers",
        "uniqueness_incremental",
        "null_correlation",
        "mutual_information",
        "benford",
        "trailing_features",
        "video_frames",
        "image_near_dups",
        "audio_near_dups",
        "video_near_dups",
        "incremental_minhash",
        "simhash_pairs_md5",
        "fuzzy_matches",
        "compression_quality",
        "cooccurring_pairs",
        "readability",
        "association_rules",
        "suppress_repeats",
        "media_dims",
        "container_probe",
        "video_frame_grid",
        "shard_plan",
        "file_health",
        "violation_examples",
        "freshness",
        "lsh_recall",
        "embedding_health",
        "embedding_health_trend",
        "repetition_signals",
        "script_mix",
        "rate_anomalies",
        "jsonschema_validate",
        "group_completeness",
        "value_shapes",
        "k_anonymity",
        # dup_cluster_sizes is gate-checked but not benched: it re-runs
        # dup_clusters' chain-cluster stage (already paid via leakage_split)
        "lang_agreement",
        "line_dedup",
        "span_text_quality",
        "mad_outliers",
        "column_fingerprints",
        "media_format_check",
        "rolling_actives",
        "scd2_history",
        "gap_profile",
        "calibration",
        "rate_changepoints",
        "completeness_trend",
        "order_islands",
        "fuzzy_links",
        "resampled_values",
        "source_concentration",
        "label_noise",
        "transitions",
        "pair_degrees",
        "l_diversity",
        "window_overlaps",
        "corpus_rollup",
        "lang_matrix",
        "seasonal_anomalies",
        "props_extract",
        "span_grammar",
        "span_templates",
        "template_drift",
        "template_source_matrix",
        "props_keys",
        "rule_cooccurrence",
        "containment_pairs",
        "caption_check",
        "cluster_silhouette",
        "magnitude_profile",
        "ts_granularity",
        "schema_conformance",
        "rule_drift",
        "class_balance",
        "lsh_threshold_hist",
        "category_churn",
        "media_reuse",
        "dedup_verdicts",
        "span_overlap",
        "aggregate_checks",
        "sample_fidelity",
        "dedup_cell_fidelity",
        "join_fanout",
        "pair_triangles",
        "price_deciles",
        "lsh_band_stats",
        "snm_pairs",
        "dup_inflation",
        "novelty_trend",
        "vocab_spectrum",
        "token_fertility",
        "source_overlap",
        "dup_lang_mismatch",
        "vocab_drift",
        "length_trend",
        "catalog_coverage",
        # blocking_comparison is gate-checked but not benched: it reruns
        # the md5-LSH head (lsh_band_stats) plus snm_pairs end-to-end —
        # both constituents are benched on their own
        "quality_trend",
        "encoding_advisor",
        "partition_advisor",
        "lang_top_tokens",
        "pr_curve",
        "partition_balance",
        "id_collisions",
        "group_freshness",
        "dispersion_profile",
        "pmi_collocations",
    ):
        timed(name, lambda n=name: _force(qs[n](spark, SF_DIR)))

    total = round(sum(timings.values()), 3)
    docs_per_sec = round(2_000_000 / timings["validate_spans_2m"], 1)
    print(
        json.dumps(
            {
                "metric": "headline suite wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "query_metrics": query_metrics,
                "total_shuffle_write_bytes": sum(
                    m["shuffle_write_bytes"] for m in query_metrics.values()
                ),
                "total_input_bytes": sum(
                    m["input_bytes"] for m in query_metrics.values()
                ),
                "sf": _sf(),
                "n_docs": n_docs,
                "docs_per_sec": docs_per_sec,
                "docs_per_sec_note": "rich-path validated docs/sec at 2M docs (validate_spans_2m)",
                "fast_docs_per_sec": round(2_000_000 / timings["verdict_scan_2m"], 1),
                "cpus": CPUS,
            }
        )
    )


if __name__ == "__main__":
    main()
