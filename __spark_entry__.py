"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship validation query at sf0.001.
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (engine rule validation, presence/defaults, converters/clean
output, stats profile, uniqueness, referential anti-join, span-structure
HOF checks, histogram/drift input, plus training-data ops); ``oracle_sql()``
gives the DuckDB-equivalent SQL the driver cross-checks at sf0.01.

Column names are aliased identically on both sides (the driver sorts
columns by name before hashing values).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evalidate_spark import (
    Allowed,
    CustomValidator,
    Default,
    Regexp,
    Rule,
    RuleAnd,
    RuleOr,
    Size,
    Type,
    validate,
    validate_values,
    validate_zipped,
)
from evalidate_spark.functions import dedup, multimodal, perceptual, similarity, text
from evalidate_spark import lib as _lib
from evalidate_spark.operators.table_checks import (
    drift_categorical,
    drift_df,
    histogram_df,
    profile,
    referential_violations,
    uniqueness_violations,
)
from evalidate_spark.operators.spans import media_refs, span_structure_violations

DEFAULT_SF = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- flagship
# Full rule-set pass over the documents table: presence + type + size +
# allowed-set + regexp validators (SURVEY §2.3/§2.4), compiled to ONE fused
# projection (no shuffle; violations exploded sparsely afterwards).

ALLOWED_LANGS = ["en", "es", "de", "fr"]
SOURCE_RE = "^src[0-9]$"


def _doc_rules() -> list:
    return [
        Rule(key="doc_id", presence="required", validators=[Type("integer")]),
        Rule(key="text", presence="required", validators=[Type("binary"), Size(50, 500)]),
        Rule(key="lang", presence="required", validators=[Allowed(ALLOWED_LANGS)]),
        Rule(key="source", presence="required", validators=[Regexp(SOURCE_RE)]),
        Rule(key="n_chars", presence="required", validators=[Size(60, 400)]),
    ]


def q_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    res = validate(docs, _doc_rules(), id_cols=["doc_id"])
    return res.violations.select("doc_id", "rule_seq", "rule_id", "key_path", "message")


def q_clean_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converted clean output: only ruled keys survive, converters applied
    (reference key-dropping semantics, evalidate_SUITE.erl:1703-1716)."""
    docs = _t(spark, sf_dir, "documents")
    rules = [
        Rule(key="doc_id", presence="required", converter="to_binary"),
        Rule(key="text", presence="required", validators=[Size(50, 500)]),
        Rule(key="lang", presence="required", validators=[Allowed(ALLOWED_LANGS)]),
        Rule(key="source", presence="required", validators=[Regexp(SOURCE_RE)],
             converter="lowercase"),
        Rule(key="n_chars", presence="required", validators=[Size(60, 400)]),
    ]
    return validate(docs, rules, id_cols=["doc_id"]).clean


def q_optional_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """presence={optional, Default}: default injected for missing values,
    validators skipped for defaulted rows (evalidate.erl:117)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.lit(None)).otherwise(F.col("lang")).alias("maybe_lang"),
    )
    rules = [
        Rule(key="doc_id", presence="required"),
        Rule(key="maybe_lang", presence=Default("unknown")),
    ]
    return validate(docs, rules, id_cols=["doc_id"]).clean


# ------------------------------------------------------------ table checks
def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = profile(
        li,
        columns=["l_orderkey", "l_returnflag", "l_shipdate"],
        approx_distinct=False,
        quantiles=(),
    )
    return p.select("column", "n_rows", "n_nulls", "n_distinct", "min_repr", "max_repr")


def q_profile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quantile profile (audit mode) on integer-valued columns,
    where linear interpolation at rank p*(n-1) is IEEE-exact and thus
    hash-comparable across engines; float columns use the
    percentile_approx scale path (sketch-bounded, not oracle-able)."""
    li = _t(spark, sf_dir, "lineitem")
    p = profile(
        li,
        columns=["l_quantity", "l_linenumber", "l_orderkey"],
        approx_distinct=False,
        quantiles=(0.25, 0.5, 0.75),
        exact_quantiles=True,
    )
    return p.select(
        "column",
        "n_rows",
        F.col("quantiles")[0].alias("q25"),
        F.col("quantiles")[1].alias("q50"),
        F.col("quantiles")[2].alias("q75"),
    )


def q_winsorize_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail clipping at exact p05/p95 (integer-valued column, exact
    percentile; 6-dp rounding absorbs the last-ulp interpolation
    difference between engines — the operator itself clips unrounded)."""
    from evalidate_spark.operators.table_checks import winsorize

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    out = winsorize(li, "l_quantity", 0.05, 0.95, exact=True)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(F.col("l_quantity_winsorized"), 6).alias("clipped"),
    )


def q_suggested_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint suggestion: profile lineitem once and emit
    the rule spec the data already satisfies (required / type / allowed /
    size rows) — exact-distinct audit mode so the decision boundaries are
    replayable in SQL.  The spec round-trips: suggestions_to_spec →
    validate → zero violations (tests/test_table_ops.py)."""
    from evalidate_spark.operators.suggest import suggest_constraints

    li = _t(spark, sf_dir, "lineitem")
    return suggest_constraints(
        li,
        columns=["l_returnflag", "l_linestatus", "l_linenumber", "l_quantity"],
        max_allowed=8,
        approx_distinct=False,
    )


def q_profile_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental profiling via mergeable states: lineitem is split into
    two disjoint ingestion increments, each scanned ONCE into a one-row
    state (counts + typed min/max + HLL sketch), and the states fold into
    the full-table profile without rescanning the data.  The oracled
    projection is the exactly-mergeable fields; the sketch-merge estimate
    is asserted in pytest (DuckDB cannot replay DataSketches HLL)."""
    from evalidate_spark.operators.table_checks import (
        merge_profile_states,
        profile_state,
    )

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linenumber", "l_quantity", "l_shipdate"]
    inc0 = profile_state(
        li.where("pmod(coalesce(l_orderkey, -1), 2) = 0"), cols, "inc0"
    )
    inc1 = profile_state(
        li.where("pmod(coalesce(l_orderkey, -1), 2) = 1"), cols, "inc1"
    )
    merged = merge_profile_states(inc0.unionByName(inc1))
    return merged.select("column", "n_rows", "n_nulls", "min_repr", "max_repr")


def q_check_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop nightly data-quality report: engine rule violations,
    uniqueness, referential, and span-structure checks folded to one
    (check_id, n_violations, status) row each."""
    from evalidate_spark.operators.table_checks import check_suite

    return check_suite(
        [
            ("doc_rules", q_validate_documents(spark, sf_dir)),
            ("events_user_unique", q_uniqueness_events_user(spark, sf_dir)),
            ("lineitem_supplier_ref", q_referential_lineitem_supplier(spark, sf_dir)),
            ("span_structure", q_span_structure(spark, sf_dir)),
            # round-3 session-5 members: relationship, skew, and decode
            # health — each contributes its VIOLATING rows only
            ("fd_violations", q_functional_deps(spark, sf_dir).filter(~F.col("holds"))),
            ("hot_keys", q_skew_report(spark, sf_dir).filter(F.col("is_hot"))),
            (
                "encoding_damage",
                q_encoding_anomalies(spark, sf_dir).filter(~F.col("clean")),
            ),
            # round-3 session-15 members: interleaving-order and
            # media-alignment health over the span construction
            (
                "span_grammar",
                q_span_grammar(spark, sf_dir).filter(~F.col("grammar_ok")),
            ),
            ("uncaptioned_media", q_caption_check(spark, sf_dir)),
            # round-3 session-16 members: provenance and key health on
            # the RAW tables (no composed feeds — a suite member must
            # reflect the corpus, not a constructed scenario)
            (
                "lang_conflicts",
                dedup.dup_lang_mismatch(_t(spark, sf_dir, "documents")),
            ),
            ("key_imbalance", _raw_key_imbalance(spark, sf_dir)),
            ("id_collisions", _raw_id_collisions(spark, sf_dir)),
        ]
    )


def _raw_key_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evalidate_spark.operators.table_checks import partition_balance

    return partition_balance(
        _t(spark, sf_dir, "events"), "user_id", 32
    ).filter(~F.col("balanced"))


def _raw_id_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evalidate_spark.operators.table_checks import id_collisions

    # uncapped: the suite member FILTERS on benign, and a filter applied
    # after a top-1000 cap would drop non-benign ids outside the top-N
    # (the oracle is uncapped) — max_ids=None keeps count parity exact
    return id_collisions(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        ["text", "lang", "source"],
        max_ids=None,
    ).filter(~F.col("benign"))


def q_uniqueness_events_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return uniqueness_violations(ev, "user_id")


def q_referential_lineitem_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 2 == 0)
    bad = referential_violations(li, "l_suppkey", dim, "s_suppkey", broadcast_dim=True)
    return bad.select("l_orderkey", "l_linenumber", "l_suppkey")


def q_referential_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated referential check — the big-dimension scale path: a
    Column-expression Bloom filter of the dim keys broadcasts instead of
    the dim itself, definitely-absent rows skip the anti-join entirely,
    and only the might-contain remainder shuffles.  EXACT by construction
    (no false negatives), so it shares the plain referential oracle."""
    from evalidate_spark.operators.table_checks import referential_violations_bloom

    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 2 == 0)
    bad = referential_violations_bloom(
        li, "l_suppkey", dim, "s_suppkey", m_bits=1 << 16, k_hashes=5
    )
    return bad.select("l_orderkey", "l_linenumber", "l_suppkey")


def q_uniqueness_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite natural-key uniqueness: (user_id, event_type) pairs seen
    more than once — the multi-column face of the uniqueness check."""
    ev = _t(spark, sf_dir, "events")
    return uniqueness_violations(ev, ["user_id", "event_type"])


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers on the events value column (exact quartiles
    for the oracle; the production default is the GK sketch)."""
    from evalidate_spark.operators.table_checks import iqr_outliers

    ev = _t(spark, sf_dir, "events")
    return iqr_outliers(ev, "value", k=1.5, exact=True).select("event_id", "value")


def q_column_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent md5-sum content fingerprint per documents
    column — the k-tiny-rows table-version comparison; the decimal sum
    is replayed exactly in DuckDB (hex-prefix fold to a 60-bit int,
    HUGEINT sum) and emitted as two int64 halves (divmod 2^62) so the
    gate never canonicalizes a >int64 numeric."""
    from evalidate_spark.operators.table_checks import column_fingerprints

    d = _t(spark, sf_dir, "documents")
    return column_fingerprints(
        d, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel / modified-z-score outliers on the events value column
    (exact medians for the oracle; the production default is the GK
    sketch) — the 50%-breakdown companion to the Tukey fence."""
    from evalidate_spark.operators.table_checks import mad_outliers

    ev = _t(spark, sf_dir, "events")
    return mad_outliers(ev, "value", t=3.5, exact=True).select("event_id", "value")


def q_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, value) — the
    multi-dimensional data-skipping layout: range-partitioning by this
    key co-locates rows that are close in BOTH dimensions, so parquet
    min/max stats prune scans filtered on either column.  Pure shift/or
    codegen exprs; the full bit-interleave is replayed in DuckDB."""
    from evalidate_spark.sources import zorder_bounds, zorder_key

    ev = _t(spark, sf_dir, "events")
    bounds = zorder_bounds(ev, ["user_id", "value"])
    return ev.crossJoin(F.broadcast(bounds)).select(
        "event_id", zorder_key(["user_id", "value"], bits=8).alias("zkey")
    )


def _zorder_sql(bits: int = 8) -> str:
    """DuckDB twin of zorder_key over events (user_id, value)."""
    size = 1 << bits
    cells = []
    for j, c in enumerate(("user_id", "value")):
        span = f"(CASE WHEN b.__hi{j} > b.__lo{j} THEN b.__hi{j} - b.__lo{j} ELSE 1.0 END)"
        cells.append(
            f"least({size - 1}, greatest(0, cast(floor((cast({c} AS double) - b.__lo{j})"
            f" / {span} * {size}) AS bigint)))"
        )
    terms = []
    for b in range(bits):
        for j in range(2):
            terms.append(f"(((c{j} >> {b}) & 1) << {b * 2 + j})")
    return f"""
WITH b AS (
  SELECT min(cast(user_id AS double)) AS __lo0, max(cast(user_id AS double)) AS __hi0,
         min(cast(value AS double)) AS __lo1, max(cast(value AS double)) AS __hi1
  FROM events
), c AS (
  SELECT event_id,
         (user_id IS NULL OR value IS NULL) AS has_null,
         {cells[0]} AS c0, {cells[1]} AS c1
  FROM events, b
)
SELECT event_id,
       CASE WHEN has_null THEN NULL ELSE {" | ".join(terms)} END AS zkey
FROM c
"""


def q_histogram_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return histogram_df(ev, "value", bins=10)


# ------------------------------------------------------- span HOF checks
def _derived_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic interleaved text+media spans derived from the flat
    documents table (input_hint shape) — same construction is expressed in
    the DuckDB oracles, so violations are exactly predictable."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    span0 = F.struct(
        F.when(i % 17 == 0, F.lit("meta")).otherwise(F.lit("text")).alias("kind"),
        F.col("text").alias("text"),
        F.when(i % 13 == 0, F.concat(F.lit("m-"), (i % 50).cast("string"))).alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    span1 = F.struct(
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("m-"), (i % 30).cast("string")).alias("media_ref"),
        F.col("n_chars").cast("int").alias("offset"),
    )
    span2 = F.struct(
        F.lit("text").alias("kind"),
        F.substring(F.col("text"), 1, 10).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.when(i % 11 == 0, F.col("n_chars") - 5)
        .otherwise(F.col("n_chars") + 5)
        .cast("int")
        .alias("offset"),
    )
    return d.select(i.alias("doc_id"), F.array(span0, span1, span2).alias("spans"))


def q_span_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_structure_violations(_derived_spans(spark, sf_dir))


def q_span_refs_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _derived_spans(spark, sf_dir)
    refs = media_refs(docs)
    catalog = spark.range(20).select(
        F.concat(F.lit("m-"), F.col("id").cast("string")).alias("media_ref")
    )
    bad = referential_violations(refs, "media_ref", catalog, "media_ref", broadcast_dim=True)
    return bad.select("doc_id", "media_ref")


def q_span_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved render: the span sequence flattened back to linear text
    (offset order, ``<media:REF>`` inline placeholders) — the
    post-validation step a training pipeline feeds to tokenization.  Pure
    per-row HOF map, no shuffle."""
    from evalidate_spark.operators.spans import reconstruct_text

    return reconstruct_text(_derived_spans(spark, sf_dir))


def q_span_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality stats over the RENDERED interleaved doc — reconstruct the
    span sequence to linear text (media placeholders inline), then count
    tokens/chars and the media density per doc: the pre-tokenization
    audit of the interleaved corpus.  Still one fused per-row projection
    (render + counters), zero shuffles."""
    from evalidate_spark.functions.text import tokens
    from evalidate_spark.operators.spans import reconstruct_text

    r = reconstruct_text(_derived_spans(spark, sf_dir))
    spans_total = F.col("n_text_spans") + F.col("n_media_spans")
    return r.select(
        "doc_id",
        F.size(tokens(F.col("rendered"))).cast("long").alias("n_tokens"),
        F.length("rendered").cast("long").alias("n_chars"),
        F.when(
            spans_total > 0,
            F.expr("n_media_spans * 10000L div greatest(n_text_spans + n_media_spans, 1L)"),
        ).otherwise(F.lit(0)).cast("long").alias("media_density_bp"),
    )


def q_partition_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-unit pass/fail + row metrics (north rule: "per-partition
    pass/fail ... per-partition lineage + metrics rows") over a
    deterministic unit key, so the manifest is reproducible across cluster
    sizes; predicate-only compile, one tiny aggregate."""
    from evalidate_spark.fastpath import keyed_verdicts

    docs = _t(spark, sf_dir, "documents")
    unit = (
        F.when(F.col("doc_id").isNull(), F.lit(-1))
        .otherwise(F.col("doc_id") % 8)
        .cast("long")
    )
    return keyed_verdicts(docs, _doc_rules(), unit)


def q_violation_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule triage sample: 2 example violations per rule_id, chosen
    by md5-hash rank of the offending id (a deterministic spread, not
    scan-order first-N) — output stays O(#rules × 2) however bad the
    table is."""
    from evalidate_spark.operators import table_checks

    docs = _t(spark, sf_dir, "documents")
    v = validate(docs, _doc_rules(), id_cols=["doc_id"]).violations
    return table_checks.violation_examples(
        v.select("doc_id", "rule_seq", "rule_id", "key_path", "message"),
        per_rule=2,
    )


def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table freshness: newest event's epoch seconds, lag behind an
    explicit as-of instant, and a within-24h verdict — the "is data
    arriving?" probe, one partial-combined max() at any scale."""
    from evalidate_spark.operators import table_checks

    ev = _t(spark, sf_dir, "events")
    return table_checks.freshness(
        ev, "ts", "2024-01-31 12:00:00", max_lag_hours=24
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher repetition signals (top-2/3-gram char coverage,
    duplicated-5-gram char coverage, integer bp) — one fused projection,
    zero shuffles; the per-doc degenerate-repetition gate."""
    from evalidate_spark.functions import text

    return text.repetition_signals(
        _t(spark, sf_dir, "documents"), top_ns=(2, 3), dup_n=5
    )


# The documents contract, written as the JSON Schema a real data producer
# would publish.  Maps via spec_json.schema_to_rules onto the SAME rule
# semantics as _doc_rules(): property order fixes rule_seq, required+NULL
# fires presence, and the extra type validators can never fire on a typed
# parquet column — so the flagship oracle doubles as the importer's gate.
DOC_JSON_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "title": "document",
    "type": "object",
    "required": ["doc_id", "text", "lang", "source", "n_chars"],
    "properties": {
        "doc_id": {"type": "integer"},
        "text": {"type": "string", "minLength": 50, "maxLength": 500},
        "lang": {"enum": ALLOWED_LANGS},
        "source": {"type": "string", "pattern": SOURCE_RE},
        "n_chars": {"type": "integer", "minimum": 60, "maximum": 400},
    },
}


def q_jsonschema_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validate documents against a draft-07 JSON Schema data contract:
    schema → spec_json.schema_to_rules → the same fused validation pass.
    Hash-gated against the hand-built flagship oracle, proving the
    importer reproduces the exact rule semantics."""
    from evalidate_spark.spec_json import schema_to_rules

    docs = _t(spark, sf_dir, "documents")
    res = validate(docs, schema_to_rules(DOC_JSON_SCHEMA), id_cols=["doc_id"])
    return res.violations.select(
        "doc_id", "rule_seq", "rule_id", "key_path", "message"
    )


def q_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event-volume anomaly vs the mean of all other days —
    stalled/flooded-feed detection; one tiny count shuffle + a broadcast
    totals crossJoin, integer-div bp math."""
    from evalidate_spark.operators import table_checks

    return table_checks.rate_anomalies(
        _t(spark, sf_dir, "events"), "ts", bucket_s=86400
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus line dedup WITH text rewrite: multi-line docs are
    built as text\\nlang\\nsource, so the lang/source lines are corpus
    boilerplate (dropped everywhere) while unique text lines survive —
    count pass + rewrite pass, the two-scan shape of a global rewrite."""
    from evalidate_spark.functions import dedup

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"), F.col("lang"), F.lit("\n"), F.col("source")
        ).alias("text"),
    )
    return dedup.line_dedup(d)


def q_lang_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion: marker-hit argmax guess
    vs the lang column, counted per combination — the metadata audit
    for per-language quotas; projection + one tiny groupBy."""
    from evalidate_spark.functions import text

    return text.lang_agreement(_t(spark, sf_dir, "documents"))


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity privacy audit over the (lang, source) quasi-identifier
    combination — re-identifiable small groups counted in one groupBy +
    one tiny aggregate."""
    from evalidate_spark.operators import table_checks

    return table_checks.k_anonymity(
        _t(spark, sf_dir, "documents"), ["lang", "source"], k=5
    )


def q_value_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top value-shape classes per column (digits→9, lower→a, upper→A,
    non-ASCII→u, runs collapsed) — mixed-format discovery over the
    documents contract columns; one scan, counts shuffle on the tiny
    (column × shape) space."""
    from evalidate_spark.operators import table_checks

    return table_checks.value_shapes(
        _t(spark, sf_dir, "documents"), ["lang", "source"], top_k=5
    )


def q_group_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type column completeness vs pooled-others baseline —
    which feed stopped sending a field; one groupBy shuffle + broadcast
    totals, integer-div bp math."""
    from evalidate_spark.operators import table_checks

    return table_checks.group_completeness(
        _t(spark, sf_dir, "events"), "event_type", ["user_id", "value", "props"]
    )


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Unicode script mix (Latin/Cyrillic/Greek/Arabic/CJK char
    counts + mixed-script flag) — the homoglyph-spam signal; pure
    regexp_replace projection, zero shuffles."""
    from evalidate_spark.functions import text

    return text.script_profile(_t(spark, sf_dir, "documents"))


def q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column health: one row of integer counters (NULL/empty/
    wrong-width/NaN-Inf/zero-norm vectors + observed width envelope) —
    the gate a vector corpus passes before any ANN/dedup stage.  ONE
    partial-combined aggregate; vectors never shuffle."""
    from evalidate_spark.operators import table_checks

    emb = _t(spark, sf_dir, "embeddings")
    return table_checks.embedding_health(emb, "embedding", expected_dim=64)


def q_embedding_health_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest-wave embedding health
    (`table_checks.embedding_health_trend`): the same integer counters
    as `embedding_health` plus `n_valid` (the full scoring contract —
    non-NULL, dim-64, every element finite), sliced into 5 id-range
    waves.  The WHEN report: a NaN burst confined to one wave is an
    encoder deploy, a rising wrong-dim tail is a model-version mix —
    invisible in the corpus-global one-row report.  Pure integer
    outputs; one wave-keyed groupBy, vectors never shuffle."""
    from evalidate_spark.operators import table_checks

    emb = _t(spark, sf_dir, "embeddings")
    return table_checks.embedding_health_trend(
        emb, "embedding", "vec_id", expected_dim=64, n_waves=5
    )


def q_rule_firing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-coverage report: violations per rule_id + distinct offending
    docs — the spec-lint signal (a rule that never fires is dead weight;
    one that fires on every doc is probably miswritten).  ``n_docs``
    follows SQL COUNT(DISTINCT) semantics: NULL-id rows contribute to
    ``n_violations`` but not ``n_docs`` (identical in both engines)."""
    docs = _t(spark, sf_dir, "documents")
    v = validate(docs, _doc_rules(), id_cols=["doc_id"]).violations
    return v.groupBy("rule_id").agg(
        F.count(F.lit(1)).alias("n_violations"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def q_ngram_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated n-gram stats per doc (substring-dedup proxy,
    Lee et al. 2022)."""
    docs = _t(spark, sf_dir, "documents")
    return text.ngram_dup_stats(docs, k=3, min_docs=2)


def q_rule_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rule_or branching: first passing alternative wins; on all-fail the
    member errors are deduped and joined with ' or ' in reverse trial order
    (evalidate.erl:251-265)."""
    docs = _t(spark, sf_dir, "documents")
    rules = [
        Rule(key="doc_id"),
        RuleOr(rules=[
            Rule(key="lang", validators=[Allowed(["en", "es"])]),
            Rule(key="lang", validators=[Regexp("^(de|fr)$")]),
        ]),
    ]
    res = validate(docs, rules, id_cols=["doc_id"])
    return res.violations.select("doc_id", "rule_seq", "rule_id", "message")


def q_lib_validators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library validators (evalidate_lib.hrl layer) on the gate: email /
    UUID-v4 / binary-integer-with-bounds checks over derived columns."""
    from evalidate_spark import lib

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("source"), F.lit("@example.com")))
        .otherwise(F.col("source"))
        .alias("email"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("A1B2C3D4-E5F6-4A7B-8C9D-0E1F2A3B4C5D"),
        )
        .otherwise(F.lit("not-a-uuid"))
        .alias("uid"),
        F.col("n_chars").cast("string").alias("count_str"),
    )
    rules = [
        Rule(key="doc_id"),
        Rule(key="email", validators=[lib.v_email()]),
        Rule(key="uid", validators=[lib.v_uuid_v4()]),
        Rule(key="count_str", validators=[lib.v_binary_integer(60, 400)]),
    ]
    res = validate(d, rules, id_cols=["doc_id"])
    return res.violations.select("doc_id", "rule_id", "message")


def q_converters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converter layer on the gate: to_int parse, Each(lowercase) over a
    derived token array, filter_duplicates order-preserving dedupe."""
    from evalidate_spark.spec import Each

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("string").alias("n_str"),
        F.split(F.upper(F.col("text")), " ").alias("toks_lower"),
        F.split(F.col("text"), " ").alias("toks_uniq"),
    )
    rules = [
        Rule(key="doc_id"),
        Rule(key="n_str", converter="to_int"),
        Rule(key="toks_lower", converter=Each("lowercase")),
        Rule(key="toks_uniq", converter="filter_duplicates"),
    ]
    clean = validate(d, rules, id_cols=["doc_id"]).clean
    return clean.select(
        "doc_id",
        F.col("n_str").alias("n_int"),
        F.concat_ws(" ", "toks_lower").alias("lower_join"),
        F.concat_ws(" ", "toks_uniq").alias("uniq_join"),
    )


def q_validate_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second full rule-set gate over a different table shape (part):
    integer type, anchored regexp, allowed set, int + double size bounds —
    one fused projection, depth-first rule_seq."""
    part = _t(spark, sf_dir, "part")
    rules = [
        Rule(key="p_partkey", validators=[Type("integer")]),
        Rule(key="p_brand", validators=[Regexp("^Brand#[0-9]+$")]),
        Rule(key="p_type", validators=[Allowed(["ECONOMY", "STANDARD", "MEDIUM", "SMALL"])]),
        Rule(key="p_size", validators=[Size(5, 45)]),
        Rule(key="p_retailprice", validators=[Size(900, 990)]),
    ]
    res = validate(part, rules, id_cols=["p_partkey"])
    return res.violations.select("p_partkey", "rule_seq", "rule_id", "message")


def q_nation_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensional rollup through an explicit broadcast join (nation ⋈
    region, 25×5 rows — the join-strategy face of the referential family)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


def q_zipped_rulesets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 zipped rule-sets dispatch (evalidate.erl:44-46): rule-set 0
    validates even docs (allowed-lang), rule-set 1 odd docs (text size) —
    one fused projection, per-row when/otherwise dispatch."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "rsid", (F.col("doc_id") % 2).cast("int")
    )
    rs0 = [Rule(key="doc_id"), Rule(key="lang", validators=[Allowed(["en", "es"])])]
    rs1 = [Rule(key="doc_id"), Rule(key="text", validators=[Size(50, 400)])]
    res = validate_zipped(docs, [rs0, rs1], "rsid", id_cols=["doc_id"])
    return res.violations.select("doc_id", "rule_id", "message")


def q_bare_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare single-value validation (evalidate.erl:51-52) distributed over a
    value column: keyless Size rule, violations keyed 'none'."""
    d = _t(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("value"))
    rule = Rule(validators=[Size(50, 400)], converter="lowercase")
    res = validate_values(d, rule, "value", id_cols=["doc_id"])
    return res.violations.select("doc_id", "key_path", "message")


def q_rule_and_on_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rule_and with on_error override (evalidate.erl:87-95; suite
    :1665-1701): any member failure is replaced by the single on_error
    message."""
    docs = _t(spark, sf_dir, "documents")
    rules = [
        Rule(key="doc_id"),
        RuleAnd(
            rules=[
                Rule(key="lang", validators=[Allowed(ALLOWED_LANGS)]),
                Rule(key="n_chars", validators=[Size(60, 400)]),
            ],
            on_error="lang/n_chars combo is invalid",
        ),
    ]
    res = validate(docs, rules, id_cols=["doc_id"])
    return res.violations.select("doc_id", "rule_id", "message")


def q_deprecated_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deprecated presence (evalidate.erl:123-124; suite :738-815): key
    PRESENT → violation."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.col("source")).alias("legacy"),
    )
    rules = [Rule(key="doc_id"), Rule(key="legacy", presence="deprecated")]
    res = validate(docs, rules, id_cols=["doc_id"])
    return res.violations.select("doc_id", "message")


def q_nested_childs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """childs over a real nested struct column with dotted parent key paths
    (evalidate.erl:145-155,267-279; suite :941-1138 — 'Key 'k.nk' is
    required')."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct(
            F.col("lang").alias("tag"),
            F.when(F.col("doc_id") % 7 != 0, F.col("source")).alias("nk"),
        ).alias("k"),
    )
    rules = [
        Rule(key="doc_id"),
        Rule(key="k", childs=[Rule(key="tag"), Rule(key="nk")]),
    ]
    res = validate(docs, rules, id_cols=["doc_id"])
    return res.violations.select("doc_id", "key_path", "message")


def q_password(spark: SparkSession, sf_dir: str) -> DataFrame:
    """?V_PASSWORD with the exact thrown messages (evv.erl:197-223; suite
    :1652,:1656)."""
    from evalidate_spark import lib

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit("Short1!"))
        .when(F.col("doc_id") % 3 == 1, F.lit("nouppercase1!"))
        .otherwise(F.lit("GoodPassw0rd!"))
        .alias("pw"),
    )
    rules = [Rule(key="doc_id"), Rule(key="pw", validators=[lib.v_password()])]
    res = validate(d, rules, id_cols=["doc_id"])
    return res.violations.select("doc_id", "message")


def q_custom_validator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom fun/1 validator via the Arrow pandas-UDF protocol
    (evv.erl:62-73): (False, msg) → false-kind violation.  The predicate is
    deliberately SQL-expressible so DuckDB can oracle the UDF path."""
    docs = _t(spark, sf_dir, "documents")

    def min_len(v):
        return True if v is not None and len(v) >= 50 else (False, "too short for corpus")

    rules = [
        Rule(key="doc_id"),
        Rule(key="text", validators=[CustomValidator(min_len, name="min_len")]),
    ]
    res = validate(docs, rules, id_cols=["doc_id"])
    return res.violations.select("doc_id", "message")


# --------------------------------------------------- training-data ops
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.token_count_bpe(F.col("text")).cast("long").alias("n_tokens_bpe"),
    )


# Fixed, literal BPE training corpus: the driver's oracle SQL must embed
# the SAME vocabulary as the Spark query, and oracle_sql() has no sf_dir —
# so the driver query learns from this pinned corpus (the general
# learn-from-any-DataFrame path is exercised in pytest instead).
_BPE_TRAIN = (
    "the quick brown fox jumps over the lazy dog near the river bank",
    "spark table scan filter join group agg window sort merge batch stream",
    "data value part row column line customer order query hash fast slow",
    "a small big table the part data window the row a window data a scan",
    "stream batch group order count sum value key agg row scan slow fast",
)


def _bpe_fixed_vocab():
    from collections import Counter

    from evalidate_spark.functions.bpe import learn_bpe, vocab_from_merges

    wc = Counter(w for s in _BPE_TRAIN for w in s.split())
    return vocab_from_merges(wc, learn_bpe(wc, 60))


def q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL vocab-merge tokenization: BPE merges learned (driver-side,
    deterministic) from the pinned corpus above, applied Arrow-batched via
    greedy longest-match — oracled by a DuckDB recursive CTE over the same
    literal vocabulary."""
    from evalidate_spark.functions import bpe

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return bpe.token_counts_bpe(d, _bpe_fixed_vocab())


def q_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics as integer basis points (exact cross-engine compare)."""
    m = text.quality_metrics(_t(spark, sf_dir, "documents"))
    return m.select(
        "doc_id",
        "n_chars_q",
        "n_tokens",
        F.floor(F.col("stopword_ratio") * 10_000).cast("long").alias("stop_bp"),
        F.floor(F.col("uniq_token_ratio") * 10_000).cast("long").alias("uniq_bp"),
    )


def q_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.fingerprint(F.col("text")).alias("fp"))


def q_lang_marker_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.lang_marker_counts(d).drop("text")


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigrams (occurrences desc, ngram-asc tiebreak) — the
    corpus-aggregation face of the text stack."""
    return text.top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=20)


def q_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold Bernoulli sample (12.5%) — a pure
    filter with NO shuffle and no RNG state: membership is defined by
    md5(salt||id), so it's reproducible across runs, engines, and
    partitionings, and samples nest across fractions."""
    from evalidate_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.sample_deterministic(d, 0.125).select("doc_id", "lang")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language quota sample (40 docs/lang) by salted-hash rank
    — the corpus-balancing selection op; one shuffle on the stratum."""
    from evalidate_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.sample_stratified(d, "lang", quota=40).select(
        "doc_id", "lang", "source"
    )


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (epoch 1, 8 shards): every doc gets a
    (shard, pos) read coordinate from md5(salt:epoch:id) — the trainer's
    pseudo-random order, bit-reproducible across runs/engines/cluster
    sizes, unlike orderBy(rand()).  One exchange (the per-shard rank
    window); shards stay task-sized because md5 spreads ids uniformly."""
    from evalidate_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.shuffle_plan(d, n_shards=8, epoch=1)


def q_file_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout audit: per-table file count + row total from
    sources.file_stats (binaryFile status listing for sizes — no content
    read — plus a footer-only row count).  The oracle pins n_files=1 via
    the fixture contract (TESTDATA.md single-file tables; hostile tables
    are coalesce(1)); the multi-file path and the small-file compaction
    verdict are pinned in pytest against DuckDB read_parquet(filename=
    true) on a deliberately fragmented table."""
    from evalidate_spark import sources

    parts = []
    for t in ("documents", "lineitem", "events"):
        st = sources.file_stats(spark, f"{sf_dir}/{t}.parquet", with_rows=True)
        parts.append(
            st.agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("n_rows").alias("total_rows"),
            ).select(F.lit(t).alias("tbl"), "n_files", "total_rows")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing: concatenate docs per language shard
    in doc_id order, cut every 512 tokens, roll up (n_docs, seq_tokens)
    per sequence — window + groupBy sharing one shard shuffle."""
    from evalidate_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.pack_sequences(d, budget=512, shard_col="lang")


def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score per doc (mean NLL in integer milli-nats,
    add-0.1 smoothing, self-trained on the corpus) — the perplexity-style
    quality filter; per-term integer flooring makes the float path
    summation-order-free and DuckDB-replayable."""
    d = _t(spark, sf_dir, "documents")
    return text.lm_scores(d)


def q_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: the highest-unique-token-ratio docs
    whose running token total stays within 10k tokens — a distributed
    two-pass prefix sum (range shuffle + broadcast slice offsets), never
    a single-task global window."""
    from evalidate_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    # let-bound single evaluation of the token array (score + count read
    # the same split tree; see quality_topk for the same pattern)
    s = F.element_at(
        F.transform(
            F.array(text.tokens(F.col("text"))),
            lambda tk: F.when(
                F.size(tk) > 0,
                F.struct(
                    F.size(tk).cast("long").alias("n_tokens"),
                    F.floor(F.size(F.array_distinct(tk)) / F.size(tk) * 10_000)
                    .cast("long")
                    .alias("uniq_bp"),
                ),
            ),
        ),
        1,
    )
    scored = d.withColumn("__s", s).select(
        "doc_id",
        F.col("__s").getField("uniq_bp").alias("uniq_bp"),
        F.col("__s").getField("n_tokens").alias("n_tokens"),
    )
    return sampling.select_until_budget(
        scored, budget=10_000, score_col="uniq_bp", count_col="n_tokens",
        num_ranges=16,
    )


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/holdout split (25% holdout): duplicate clusters
    from the same chain pairs as dup_clusters, every cluster member gets
    the split of its canonical representative via md5 hex threshold."""
    from evalidate_spark.functions import dedup, sampling

    d = _t(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % 10 < 3)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    cl = dedup.duplicate_clusters(pairs)
    return sampling.split_by_cluster(
        d.select("doc_id"), cl, holdout_fraction=0.25
    ).select("doc_id", "cluster", "split")


def q_multiway_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test carve-out (12.5% + 12.5%): the k-way
    split over the same duplicate clusters as leakage_split — splits
    occupy contiguous md5 hash intervals so the oracle replays the CASE
    chain verbatim."""
    from evalidate_spark.functions import dedup, sampling

    d = _t(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % 10 < 3)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    cl = dedup.duplicate_clusters(pairs)
    return sampling.split_multiway(
        d.select("doc_id"), cl, {"test": 0.125, "val": 0.125}
    ).select("doc_id", "cluster", "split")


def q_inclusion_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-candidate discovery over the TPC-H-ish join graph: containment
    of each child column's distinct values in its candidate parent —
    true FKs (lineitem→part/supplier, supplier→nation, nation→region), a
    reversed pair, and a nonsense pair that discovery must reject."""
    from evalidate_spark.operators.table_checks import inclusion_deps

    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re_ = _t(spark, sf_dir, "region")
    ev = _t(spark, sf_dir, "events")
    return inclusion_deps([
        ("lineitem.l_suppkey->supplier.s_suppkey", li, "l_suppkey", su, "s_suppkey"),
        ("supplier.s_suppkey->lineitem.l_suppkey", su, "s_suppkey", li, "l_suppkey"),
        ("nation.n_regionkey->region.r_regionkey", na, "n_regionkey", re_, "r_regionkey"),
        ("region.r_regionkey->nation.n_regionkey", re_, "r_regionkey", na, "n_regionkey"),
        ("events.user_id->supplier.s_suppkey", ev, "user_id", su, "s_suppkey"),
        ("nation.n_nationkey->region.r_regionkey", na, "n_nationkey", re_, "r_regionkey"),
    ])


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation (basis points) over lineitem's three
    numeric measures in ONE raw-moment aggregate — all six moments per
    pair from a single scan, replayed verbatim by the oracle."""
    from evalidate_spark.operators.table_checks import correlation_matrix

    li = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample without replacement: 100 docs
    with inclusion odds ∝ n_chars, from one md5-derived priority key per
    row and a TakeOrdered top-k — the weighted-mixture selection step,
    replayed row-for-row by the oracle's ORDER BY ... LIMIT."""
    from evalidate_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.weighted_sample(d, 100, "n_chars").select(
        "doc_id", "lang", "n_chars"
    )


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup APPLY step: keep one representative (min doc_id) per
    first-5-token prefix fingerprint, everything else drops — aggregate
    then LEFT SEMI join so the doc payload never rides the shuffle."""
    from evalidate_spark.functions import dedup

    d = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    # NULL text → NULL key (≡ SQL md5(NULL)), never md5('') which would
    # merge missing-text docs with genuinely empty ones
    key = F.when(
        F.col("text").isNotNull(), F.md5(F.concat_ws(" ", F.slice(toks, 1, 5)))
    )
    return dedup.distinct_by_fingerprint(d, key=key).select(
        "doc_id", "lang", "n_chars"
    )


def q_dedup_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survival accounting under the SAME keep rule as
    `dedup_corpus` (min doc_id per first-5-token prefix fingerprint,
    NULL-text pass-through): docs in / docs kept / survival ratio plus
    char weight per source — the cross-source cannibalisation report a
    pipeline owner reads after dedup.  One map-side-combinable aggregate
    over (fp, id, source, chars); the doc payload never moves and there
    is no semi-join back against the corpus."""
    from evalidate_spark.functions import dedup

    d = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    key = F.when(
        F.col("text").isNotNull(), F.md5(F.concat_ws(" ", F.slice(toks, 1, 5)))
    )
    return dedup.dedup_attrition(
        d, group_col="source", key=key, weight_col="n_chars"
    )


def q_resolve_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup apply: same first-5-token fingerprint groups
    as dedup_corpus, but keep the LONGEST member (n_chars as the quality
    score, min-id tiebreak) — one map-side-combinable aggregate, no
    corpus window."""
    from evalidate_spark.functions import dedup

    d = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    key = F.when(
        F.col("text").isNotNull(), F.md5(F.concat_ws(" ", F.slice(toks, 1, 5)))
    )
    return dedup.resolve_duplicates(d, "n_chars", key=key).select(
        "doc_id", "lang", "n_chars"
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-eval contamination screen: corpus docs sharing ≥2 distinct
    3-token shingles with a ~1% benchmark slice.  Benchmark shingles
    broadcast; the corpus never shuffles until the tiny pair count."""
    from evalidate_spark.functions.dedup import contamination

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return contamination(d, bench, min_shared=2)


def q_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-domain cap: keep the 20 longest docs per source
    (n_chars desc, doc_id tiebreak) so no single crawled site dominates
    the training mix."""
    from evalidate_spark.functions.sampling import cap_per_key

    d = _t(spark, sf_dir, "documents")
    return cap_per_key(d, "source", cap=20, order_col="n_chars").select(
        "doc_id", "source", "n_chars"
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: odd doc_ids arrive as today's batch
    and dedup within themselves AND against the fingerprint index of the
    already-ingested corpus (even doc_ids) — the corpus payload is never
    rescanned, only its index.  Prefix-fingerprint key (the corpus has no
    full-text dups; same collision construction as `exact_dup_groups`)."""
    from evalidate_spark.functions import dedup

    d = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    key = F.when(
        F.col("text").isNotNull(), F.md5(F.concat_ws(" ", F.slice(toks, 1, 5)))
    )
    index = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(key.alias("fp"))
        .filter(F.col("fp").isNotNull())
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % 2 == 1)
    unique, delta = dedup.incremental_dedup(batch, index, key=key)
    return unique.select("doc_id")


def q_normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalisation (NFC + control strip + whitespace
    collapse) — the pre-fingerprint cleaning pass, Arrow-batched."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", text.normalize_text(F.col("text")).alias("norm_text")
    )


def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministically synthesized crawl URLs
    (scheme/host case, www., default ports, fragments, tracking params,
    param order, trailing slash — every fold exercised); the oracle states
    the expected canonical in CLOSED FORM, independent of the regex
    pipeline."""
    from evalidate_spark.functions import web

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    # pmod keeps the case selector in [0,3] for negative ids, matching the
    # oracle's ((doc_id % 4) + 4) % 4
    m = F.pmod(i, 4)
    k = F.pmod(i, 7).cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("HTTP://WWW.Site"), k,
               F.lit(".COM:80/a/b/?utm_source=x&z=1&a=2#frag")))
        .when(m == 1, F.concat(F.lit("https://sub.site"), k, F.lit(".com:443/p"),
              i.cast("string"), F.lit("/")))
        .when(m == 2, F.concat(F.lit("https://site"), k,
              F.lit(".com/path?b=2&a=1&fbclid=abc")))
        .otherwise(F.concat(F.lit("not a url "), i.cast("string")))
    )
    return web.canonical_urls(docs.select("doc_id", url.alias("url")))


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff audit: old = docs with id%4 != 0, new = docs with
    id%4 != 1 where every 5th doc's text gained a ' v2' suffix — yields
    all four statuses (added/removed/changed/unchanged) from one table."""
    from evalidate_spark.functions import dedup

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 4 != 0)
    edited = F.when(
        F.col("text").isNotNull() & (F.col("doc_id") % 5 == 0),
        F.concat(F.col("text"), F.lit(" v2")),
    ).otherwise(F.col("text"))
    new = d.filter(F.col("doc_id") % 4 != 1).withColumn("text", edited)
    return dedup.corpus_diff(old, new)


def q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flatten the per-source mix at alpha=0.5: kept counts
    ∝ sqrt(|source|), smallest source kept whole, hash-rank selection
    (quota math is sqrt-only so DuckDB replays it bit-for-bit)."""
    from evalidate_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.rebalance_mixture(d, "source", alpha=0.5).select(
        "doc_id", "source"
    )


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop corpus health report (tall integer metrics; exact-distinct
    audit mode so DuckDB can replay the fingerprint count)."""
    d = _t(spark, sf_dir, "documents")
    return text.corpus_report(d, exact_distinct=True)


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal with ``delim=' '`` (corpus-driven
    stopword pruning): segments in ≥50% of docs are dropped, the rest of
    each text is reconstructed in order.  The shipped corpus's core vocab
    all exceeds the threshold, so this heavily exercises the
    cleaned-to-empty reconstruction path (vs NULL for missing text)."""
    d = _t(spark, sf_dir, "documents")
    return text.remove_frequent_segments(d, delim=" ", min_doc_frac=0.5)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: URL/email/phone detection counts + the redacted text
    (byte-exact vs the SQL oracle), over documents with deterministically
    injected PII (1 in 7 docs), plus the repeated-bigram quality signal."""
    d = _t(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" mail bob"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("@example.com see https://ex.io/a"),
            F.col("doc_id").cast("string"),
            F.lit(" call +4915512345678"),
        ),
    ).otherwise(F.col("text"))
    t2 = d.select("doc_id", injected.alias("t"))
    c = text.pii_counts(F.col("t"))
    return t2.select(
        "doc_id",
        c.getField("n_url").alias("n_url"),
        c.getField("n_email").alias("n_email"),
        c.getField("n_phone").alias("n_phone"),
        text.redact_pii(F.col("t")).alias("redacted"),
        text.repetition_ratio_bp(F.col("t")).alias("rep_bp"),
    )


def q_chunked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window document chunking (64-token windows, stride 48 →
    16-token overlap) — RAG/pretraining prep; sequence/slice exprs + one
    explode, no UDF, no shuffle."""
    return text.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, stride=48
    )


def q_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 docs by unique-token ratio (id tiebreak) — the
    group-wise selection step after quality scoring; one window shuffle."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    # uniq ratio computed directly (the full quality_metrics projection
    # would also pay BPE/stopword/punct work this query never reads);
    # token array let-bound so the split tree appears once
    uniq_bp = F.element_at(
        F.transform(
            F.array(text.tokens(F.col("text"))),
            lambda tk: F.when(
                F.size(tk) > 0,
                F.floor(
                    F.size(F.array_distinct(tk)) / F.size(tk) * 10_000
                ).cast("long"),
            ),
        ),
        1,
    )
    ranked = d.filter(F.col("doc_id").isNotNull()).select(
        "lang", "doc_id", uniq_bp.alias("uniq_bp")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("uniq_bp").desc(), F.col("doc_id").asc()
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("lang", "doc_id", "uniq_bp", "rank")
    )


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup groups keyed on the first-5-token prefix fingerprint
    (the corpus has no full-text dups; the prefix key exercises the same
    hash-groupBy plan with real collisions)."""
    d = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    key = F.when(
        F.col("text").isNotNull(), F.md5(F.concat_ws(" ", F.slice(toks, 1, 5)))
    )
    return (
        d.select(key.alias("prefix_fp"))
        .filter(F.col("prefix_fp").isNotNull())  # NULL texts are not dups
        .groupBy("prefix_fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-token-shingle Jaccard on a deterministic candidate list
    (docs (i, i+1) for i % 50 == 0) — the verify stage of near-dup."""
    d = _t(spark, sf_dir, "documents")
    cand = (
        d.select(F.col("doc_id").alias("id_a"))
        .filter(F.col("id_a") % 50 == 0)
        .withColumn("id_b", F.col("id_a") + 1)
    )
    return dedup.jaccard_pairs(d, cand, shingle_k=3)


def q_ssjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs shingle-Jaccard >= 0.8 self-join via prefix
    filtering (``dedup.ssjoin_pairs``, PPJoin family): rare-first global
    shingle ordering, prefix-token candidate join + size filter, exact
    array_intersect verification — zero false negatives, so the
    brute-force DuckDB oracle is a true ground-truth check of the whole
    filter chain."""
    return dedup.ssjoin_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8, shingle_k=3
    )


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-QA probe: measured recall/precision of the (16-hash, 8-band)
    md5 MinHash-LSH pipeline against the EXACT ssjoin ground truth at
    Jaccard >= 0.8 — the "is this LSH config good enough for this
    corpus?" answer, one row, reproducible in both engines."""
    return dedup.lsh_recall_report(
        _t(spark, sf_dir, "documents"),
        threshold=0.8,
        num_hashes=16,
        bands=8,
        hash_fn="md5",
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over duplicate pairs (iterative min-label
    propagation) → (id, cluster_id).  Deterministic chain pairs
    (i — i+1 for i % 10 < 3) give 4-node components; the DuckDB oracle
    resolves the same components with a recursive CTE."""
    ids = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % 10 < 3)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return dedup.duplicate_clusters(pairs)


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — how big do near-dup groups get
    (the dedup-savings / pathological-boilerplate signal): cluster sizes
    from the same chain-pair components as `dup_clusters`, rolled up to
    (cluster_size, n_clusters, n_docs).  Two tiny aggregates over the
    O(clustered docs) component table."""
    clusters = q_dup_clusters(spark, sf_dir)
    per = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        per.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )


def q_near_dedup_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survival after CLUSTER-based near-dedup: the same
    deterministic chain-pair clusters as `dup_clusters` / `leakage_split`
    (oracle-replayable via recursive CTE), one representative (min id)
    kept per cluster, unclustered docs survive.  Composes
    `duplicate_clusters` → `cluster_attrition`; the corpus payload never
    moves — two id-keyed joins on the slim (id, source, chars)
    projection and one group-sized aggregate."""
    from evalidate_spark.functions import dedup

    d = _t(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % 10 < 3)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    cl = dedup.duplicate_clusters(pairs)
    return dedup.cluster_attrition(d, cl, weight_col="n_chars")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for 5 probe vectors (ranked on the
    6-dp-rounded similarity + id tiebreak → cross-engine stable)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(emb, probes, k=3)


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over int8-quantised embeddings: per-vector symmetric scalar
    quantisation (4-8× smaller working set), dequantise, exact cosine
    top-3 — the storage/compute dial for trillion-vector corpora, with
    the whole quantise→dequantise→score→rank path replayed in DuckDB."""
    emb = _t(spark, sf_dir, "embeddings")
    qd = similarity.quantize_embeddings(emb)
    deq = qd.select(
        "vec_id",
        similarity.dequantize(F.col("embedding_q"), F.col("emb_scale")).alias(
            "embedding"
        ),
    )
    probes = deq.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(deq, probes, k=3)


def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality filter: the 5 vectors per label FARTHEST
    from their own label's mean centroid (lowest cosine — mislabeled /
    off-topic / corrupted samples).  One map-side-combined centroid
    aggregate (O(labels·dim) state), broadcast back, pure-Column cosine,
    one window rank per label; ranked on the 6-dp-rounded cosine with an
    id tiebreak for cross-engine stability.  Testdata embeddings are
    dim-64 (the oracle replays the elementwise mean at that width)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.centroid_outliers(emb, dim=64, k=5)


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) over the events stream —
    the windowed-operator family: per-user lag + running session count,
    rolled up to per-session bounds on exact microseconds (timezone-free
    NTZ arithmetic — no session conf involved)."""
    from evalidate_spark.operators.sessions import session_bounds

    return session_bounds(_t(spark, sf_dir, "events"), gap_minutes=30)


def q_asof_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) feature join — each event is joined to the
    latest PRIOR day's per-user rollup (count + max value), the
    leakage-proof join training pipelines need.  Implemented as ONE
    union+window shuffle, never a non-equi join (operators/asof.py);
    everything runs in epoch-micros bigints so the query is
    timezone-free by construction."""
    from evalidate_spark.operators.asof import asof_join
    from evalidate_spark.operators.sessions import _micros

    DAY = 86_400_000_000
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "user_id", _micros(ev, "ts").alias("t_us"), "value"
    )
    feat = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy(
            "user_id", F.floor(F.col("t_us") / F.lit(DAY)).alias("__d")
        )
        .agg(F.count(F.lit(1)).alias("n_prev"), F.max("value").alias("max_prev"))
        .select(
            "user_id",
            ((F.col("__d") + 1) * F.lit(DAY)).alias("eff_us"),
            "n_prev",
            "max_prev",
        )
    )
    out = asof_join(
        e.drop("value"), feat, "user_id", "t_us", "eff_us", ["n_prev", "max_prev"]
    )
    return out.select(
        "event_id",
        "user_id",
        "t_us",
        F.col("__asof_ts").cast("bigint").alias("eff_us"),
        F.col("n_prev").cast("bigint").alias("n_prev"),
        "max_prev",
    )


def q_drift_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift (PSI + total-variation over category frequencies):
    baseline = even-user events, top-3 categories + __other__ rollup."""
    ev = _t(spark, sf_dir, "events")
    return drift_categorical(
        ev, ev.filter(F.col("user_id") % 2 == 0), ["event_type"], top_k=3
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the similarity scale path) made hash-checkable: probing
    every cell (nprobe = n_centroids) is exactly brute force — same
    rounding, same id tiebreak — so the brute-force SQL oracles the IVF
    machinery (assignment, probe-cell routing, per-query top-k)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(
        emb, probes, k=3, n_centroids=8, nprobe=8, sample_n=1_000_000
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates via random-hyperplane LSH, with an
    EXACT oracle: the corpus is unioned with an id-shifted copy of itself,
    so the true ≥0.999-cosine pair set is precisely the injected duplicates
    (random Gaussian vectors never reach 0.999 by chance), and identical
    vectors always share every sign bucket — LSH recall is provably 1.0 on
    this construction, making the approximate path hash-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    dup = emb.withColumn("vec_id", F.col("vec_id") + 100000)
    # explicit max_bucket enforces the construction's precondition (recall
    # 1.0 needs no bucket truncated); with 8 planes → 256 buckets, the cap
    # comfortably exceeds any bucket's load at the gate SFs
    pairs = dedup.embedding_near_dups(
        emb.union(dup), threshold=0.999, planes=8, max_bucket=8192, dim=64
    )
    return pairs.select("id_a", "id_b", "cosine")


def q_srp_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SRP-LSH over embeddings with the md5-keyed INTEGER-EXACT
    hash family (`similarity.srp_candidates_md5`) — the embedding twin
    of `minhash_pairs_md5`: plane weights, sign bits, banding, bucket
    pairing, and the exact-cosine filter all replay bit-for-bit in
    DuckDB (int64 dots of round(x·10^6) against md5-derived [-1000,1000]
    planes — no float summation-order hazard).  The corpus is unioned
    with a 1.01-scaled id-shifted copy: positive scaling preserves every
    sign bit, so each injected twin collides in BOTH bands (n_bands = 2,
    32 planes → two 16-sign-bit bands, cosine 1.0), while random
    Gaussian pairs must match all 16 sign bits of a band and then
    survive the ≥0.9 exact-cosine gate."""
    from evalidate_spark.functions.similarity import srp_candidates_md5

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    dup = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.01).cast("float")
        ).alias("embedding"),
        "label",
    )
    return srp_candidates_md5(
        emb.select("vec_id", "embedding", "label").union(dup),
        n_planes=32,
        bands=2,
        dim=64,
        max_bucket=1024,
        min_cosine=0.9,
    )


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wave-over-wave embedding-distribution drift
    (`similarity.embedding_drift`): per id-range ingest wave, the cosine
    between its integer-exact centroid and the previous wave's — how a
    silent encoder swap or domain shift surfaces in a 10^12-row vector
    column.  Per-dim sums are round(x·10^6) int64 (order-independent),
    centroids floor-divide, only the final cosine is float (round 6) —
    the whole pipeline replays in DuckDB."""
    from evalidate_spark.functions.similarity import embedding_drift

    return embedding_drift(
        _t(spark, sf_dir, "embeddings"), dim=64, n_waves=5
    )


def q_centroid_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable embedding-centroid states
    (`similarity.embedding_centroid_state` + `merge_centroid_states`):
    the scan-once-forever incremental companion to `embedding_drift` —
    per-increment (n_vecs, per-dim int64 sums) states fold without ever
    rescanning history, same stance as the HLL/KLL/Theta families.
    The query emits the even-id and odd-id increment states plus their
    merged fold; the oracle recomputes all three from scratch, so the
    merge arithmetic itself is hash-gated (merged ≡ one-shot is
    additionally pinned in pytest)."""
    from evalidate_spark.functions.similarity import (
        embedding_centroid_state,
        merge_centroid_states,
    )

    emb = _t(spark, sf_dir, "embeddings")
    even = embedding_centroid_state(emb.filter(F.col("vec_id") % 2 == 0))
    odd = embedding_centroid_state(emb.filter(F.col("vec_id") % 2 == 1))
    merged = merge_centroid_states(even.union(odd))
    states = (
        even.select(F.lit("even").alias("part"), "n_vecs", "sums")
        .union(odd.select(F.lit("odd").alias("part"), "n_vecs", "sums"))
        .union(merged.select(F.lit("merged").alias("part"), "n_vecs", "sums"))
    )
    # GATE SHAPE: the driver canonicalizer cannot sort array cells
    # (round-4 red: `sums: array<bigint>` → pandas `unhashable type:
    # 'list'`), so the 64-dim state flattens to scalar
    # (part, n_vecs, dim, sum_val) rows — 1-based dim matching the
    # oracle's generate_series ordinality.  3 parts × 64 dims = 192 rows.
    return states.select(
        "part", "n_vecs", F.posexplode("sums").alias("dim", "sum_val")
    ).select(
        "part",
        "n_vecs",
        (F.col("dim") + 1).cast("int").alias("dim"),
        F.col("sum_val").cast("long").alias("sum_val"),
    )


def q_embedding_dedup_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE embedding-dedup pipeline as one hash-gated query — the
    vector twin of `minhash_dedup_attrition`: corpus + 1.01-scaled twin
    injection → integer-exact md5 SRP-LSH candidates → exact-cosine
    filter → connected components (`duplicate_clusters`) → min-id
    representative per component → per-label survival report
    (`cluster_attrition`).  Every stage replays in DuckDB (the
    srp_pairs_md5 CTE + recursive-CTE components + the attrition
    rollup), so the hash gate covers raw vectors to business report
    end-to-end."""
    from evalidate_spark.functions import dedup
    from evalidate_spark.functions.similarity import srp_candidates_md5

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id").isNotNull())
    valid = emb.filter(F.col("embedding").isNotNull())
    twins = valid.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.01).cast("float")
        ).alias("embedding"),
        "label",
    )
    corpus = emb.select("vec_id", "embedding", "label").union(twins)
    pairs = srp_candidates_md5(
        corpus, n_planes=32, bands=2, dim=64, max_bucket=1024, min_cosine=0.9
    )
    cl = dedup.duplicate_clusters(pairs.select("id_a", "id_b"))
    return dedup.cluster_attrition(
        corpus, cl, group_col="label", id_col="vec_id"
    )


def q_incremental_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-increment EMBEDDING dedup from states alone — the vector
    twin of `incremental_minhash`: history increments store only their
    packed SRP sign-bit signatures (`similarity.srp_state`), and the new
    increment (which carries 1.01-scaled twins of historical vectors —
    scaling preserves every sign bit) dedups against ALL history via
    band-key bit arithmetic + a bipartite bucket join
    (`srp_dedup_against_state`) — no historical embedding is ever
    rescanned, and similarity is the exact integer bit-agreement share.
    Signature, banding, join, and hamming all replay in DuckDB."""
    from evalidate_spark.functions.similarity import (
        srp_dedup_against_state,
        srp_state,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    vid = F.col("vec_id")
    old = srp_state(emb.filter(vid % 3 == 1), "u0").unionByName(
        srp_state(emb.filter(vid % 3 == 2), "u1")
    )
    twins = emb.filter((vid % 25 == 0) & (vid % 3 != 0)).select(
        (vid + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.01).cast("float")
        ).alias("embedding"),
        "label",
    )
    new = srp_state(
        emb.filter(vid % 3 == 0)
        .select("vec_id", "embedding", "label")
        .union(twins),
        "u2",
    )
    return srp_dedup_against_state(new, old, n_planes=32, bands=2)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-pairwise) with an EXACT oracle via the same
    duplicate-injection construction as embedding_near_dups: the corpus
    plus an id-shifted copy of itself.  Injected pairs are identical
    vectors, and cosine cell assignment is scale-invariant, so every
    true >=0.999 pair provably shares a cell — the clustered approximate
    path returns exactly the brute-force answer, which DuckDB replays."""
    emb = _t(spark, sf_dir, "embeddings")
    dup = emb.withColumn("vec_id", F.col("vec_id") + 100000)
    kept = dedup.semantic_dedup(
        emb.union(dup),
        threshold=0.999,
        n_centroids=8,
        dim=64,
        max_cell=1_000_000,  # construction precondition: no cell truncated
    )
    return kept.select("vec_id", "label")


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule verdicts over documents — integer
    cross-multiplied thresholds so every count and verdict replays
    bit-for-bit in DuckDB (min_words lowered to 5: the synthetic docs
    are short, and a mixed pass/fail population exercises every rule)."""
    from evalidate_spark.functions.text import gopher_rules

    # stopword presence re-targeted at the synthetic corpus vocabulary so
    # the gate sees a mixed pass/fail population across every rule
    return gopher_rules(
        _t(spark, sf_dir, "documents"),
        min_words=5,
        stopwords=("the", "a", "value", "table", "data", "row", "key", "scan"),
    )


GOPHER_FUNNEL_ORDER = (
    "no_text",
    "word_count",
    "mean_word_len",
    "alpha_words",
    "symbol_ratio",
    "bullet_lines",
    "ellipsis_lines",
    "stopwords",
)


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative quality-filter funnel: the `gopher_rules` verdicts
    applied in a fixed stage order — per stage, documents surviving
    rules 1..k and documents the stage dropped.  One aggregate over the
    per-doc verdict table (k disjointness sums fused in a single pass) +
    a constant-size explode."""
    from evalidate_spark.functions.text import filter_funnel

    return filter_funnel(q_gopher_rules(spark, sf_dir), GOPHER_FUNNEL_ORDER)


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page cleaning over documents: page-level lorem-ipsum/brace
    drops, line-level terminal-punctuation + min-words + javascript
    rules — counts, cleaned text, and keep verdict all replayed in
    DuckDB (the synthetic corpus has no terminal punctuation, so the
    hostile corpus carries the kept-line variety)."""
    from evalidate_spark.functions.text import c4_filters

    return c4_filters(_t(spark, sf_dir, "documents"))


def q_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the two quality filters (gopher doc-level
    vs C4 line-level keep verdicts): the agreement matrix plus
    chance-corrected agreement in integer bp.  Each side is the already
    oracled per-doc verdict projection; one equi-join on the unique
    doc_id (NULL ids drop on both sides, SQL semantics) feeds ONE
    4-counter aggregate — nothing but five longs ever shuffles after
    the join."""
    from evalidate_spark.operators.table_checks import verdict_agreement

    g = q_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("flag_a")
    )
    c = q_c4_filters(spark, sf_dir).select(
        "doc_id", F.col("keep_doc").alias("flag_b")
    )
    return verdict_agreement(g.join(c, "doc_id"))


def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney ROC AUC of the linear classifier's
    milli-logit ranking against the gopher rule-filter verdict as the
    label — "does the model filter order documents the way the rule
    filter judges them?".  Rank statistics come from score-GROUP counts
    (one map-side-combined groupBy), so the ordered window only ever
    sees the distinct-score table — no global per-row rank at any
    scale."""
    from evalidate_spark.functions.classifier import ranking_auc

    s = q_classifier_scores(spark, sf_dir).select("doc_id", "logit_milli")
    lab = q_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("label")
    )
    return ranking_auc(s.join(lab, "doc_id"), "logit_milli", "label")


# single source of truth for the classifier driver query; the oracle's
# VALUES table mirrors it literally (keep in lockstep)
CLASSIFIER_W = {
    "the": -40,
    "a": -20,
    "value": 250,
    "table": 120,
    "data": 180,
    "row": -300,
    "key": 90,
    "scan": -150,
}


def q_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear bag-of-words quality classifier over
    documents — integer milli-unit weights, mean-normalized logit,
    threshold verdict.  Map-literal strategy: a pure per-row projection,
    zero shuffle (plan-asserted in tests/test_classifier.py)."""
    from evalidate_spark.functions.classifier import classifier_scores

    return classifier_scores(
        _t(spark, sf_dir, "documents"),
        CLASSIFIER_W,
        bias_milli=50,
        threshold_milli=0,
    )


def q_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate functional dependencies across nation and events: the
    relationship half of constraint suggestion.  n_nationkey→n_name must
    hold (key), n_regionkey→n_name must not (5 nations per region);
    event_id→user_id holds, user_id→event_type does not."""
    from evalidate_spark.operators.suggest import functional_dependencies

    nat = functional_dependencies(
        _t(spark, sf_dir, "nation"),
        [("n_nationkey", "n_name"), ("n_regionkey", "n_name")],
    )
    ev = functional_dependencies(
        _t(spark, sf_dir, "events"),
        [("event_id", "user_id"), ("user_id", "event_type")],
    )
    return nat.unionByName(ev)


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set overlap between two document slices (doc_id%3 ∈
    {0,1} vs {1,2}) — |A|, |B|, intersection, union, Jaccard without a
    join.  Exact (hence hash-checkable) below the sketch's 4096-key
    retention; tolerance-tested beyond it in tests/test_overlap.py."""
    from evalidate_spark.operators.table_checks import overlap_estimate

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    m = F.pmod(F.col("doc_id"), F.lit(3))
    return overlap_estimate(
        d.filter(m.isin(0, 1)), d.filter(m.isin(1, 2)), "doc_id"
    )


def q_profile_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment anomaly alerting from profile states alone: events
    split into 4 ingests by user, ingest #3 deliberately degraded
    (values < 2 nulled, simulating an upstream regression) — the
    detector flags its null-rate jump without rescanning any data."""
    from evalidate_spark.operators.table_checks import (
        profile_anomalies,
        profile_state,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    m = F.pmod(F.col("user_id"), F.lit(4))
    states = None
    for i in range(4):
        sl = ev.filter(m == i)
        if i == 3:
            sl = sl.withColumn(
                "value", F.when(F.col("value") >= 2.0, F.col("value"))
            )
        st = profile_state(sl, ["value"], f"inc{i}")
        states = st if states is None else states.unionByName(st)
    return profile_anomalies(states)


def q_quantile_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile states: events split into two increments,
    each sketched once, folded without rescan.  The driver-checked
    fields (count / min / max through the sketch fold) are exact by
    KLL's contract; the quantile estimates themselves are
    tolerance-asserted in tests/test_quantile_states.py (randomized
    compaction makes them hash-unstable by nature)."""
    from evalidate_spark.operators.table_checks import (
        merge_quantile_states,
        quantile_state,
    )

    ev = _t(spark, sf_dir, "events")
    inc = [
        quantile_state(
            ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == i), ["value"], f"inc{i}"
        )
        for i in (0, 1)
    ]
    merged = merge_quantile_states(inc[0].unionByName(inc[1]))
    return merged.select("column", "n_values", "min_val", "max_val")


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→prose extraction per document (script/style/comment bodies
    dropped, block closers to newlines, tags stripped, core entities
    decoded, whitespace collapsed) + token count of the extract — pure
    regexp chain, zero shuffle, one regex syntax for Java and RE2."""
    from evalidate_spark.functions.text import html_to_text, token_count

    ex = html_to_text(F.col("text"))
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            ex.alias("extracted"),
            F.coalesce(token_count(ex), F.lit(0)).alias("n_tokens"),
        )
    )


def q_encoding_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-health counters per document: U+FFFD replacement chars,
    stray control bytes, latin-1 mojibake digraphs, and a clean verdict —
    pure regexp_count projection (zero shuffle)."""
    from evalidate_spark.functions.text import encoding_anomalies

    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", encoding_anomalies(F.col("text")).alias("e"))
        .select("doc_id", "e.*")
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter shares for the engine's own shuffle keys (events
    user_id + event_type): exact counts, integer-basis-point shares,
    deterministic value-ascending tiebreak, TakeOrdered plan."""
    from evalidate_spark.operators.table_checks import skew_report

    return skew_report(
        _t(spark, sf_dir, "events"), ["user_id", "event_type"], top_k=10
    )


def q_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per column (lineitem flag/status/quantity):
    constant-vs-informative-vs-key diagnostic, NULL as its own category,
    shuffle-free ``log2(n) − Σ c·log2 c / n`` identity mirrored exactly
    by the oracle."""
    from evalidate_spark.operators.table_checks import column_entropy

    return column_entropy(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus", "l_quantity"],
    )


# Shared check config for q_check_expressions and its oracle — any edit
# changes BOTH sides (the oracle SQL is generated from these strings, so
# each predicate must parse identically in Spark SQL and DuckDB).
CHECK_EXPRESSIONS = {
    "qty_bounds": "l_quantity >= 1 AND l_quantity <= 50",
    "qty_le_30": "l_quantity <= 30",
    "discount_range": "l_discount >= 0 AND l_discount <= 0.1",
    "price_positive": "l_extendedprice > 0",
    "flag_domain": "l_returnflag IN ('A','N','R')",
    "status_domain": "l_linestatus IN ('F','O')",
    "ship_year": "year(l_shipdate) >= 1992",
    "price_vs_qty": "l_extendedprice >= l_quantity",
}

VIOLATION_CHECKS = {
    "qty_le_49": "l_quantity <= 49",
    "flag_domain": "l_returnflag IN ('A','N','R')",
    "status_domain": "l_linestatus IN ('F','O')",
}


def q_check_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style row-level table constraints (``check_expressions``):
    eight cross-column SQL predicates over lineitem evaluated in ONE scan
    (one conditional sum per check inside a single aggregate), NULL
    predicate = failure, integer-bp pass rate."""
    from evalidate_spark.operators.table_checks import check_expressions

    return check_expressions(_t(spark, sf_dir, "lineitem"), CHECK_EXPRESSIONS)


def q_expression_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level violation rows for expression checks
    (``expression_violations``): one output row per (failing row × failed
    check), computed in one scan with no explosion of passing rows."""
    from evalidate_spark.operators.table_checks import expression_violations

    return expression_violations(
        _t(spark, sf_dir, "lineitem"),
        VIOLATION_CHECKS,
        ["l_orderkey", "l_linenumber"],
    )


def q_sequence_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence integrity (``sequence_anomalies``):
    duplicate sequence numbers, timestamps regressing as event_id
    advances, and >48 h gaps — one window keyed by user, exact-µs
    arithmetic shared with the sessionizer."""
    from evalidate_spark.operators.sessions import sequence_anomalies

    return sequence_anomalies(
        _t(spark, sf_dir, "events"), max_gap_us=48 * 3600 * 1_000_000
    )


def q_null_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise null co-occurrence over the documents columns
    (``null_correlation``): columns going null TOGETHER flag a broken
    upstream extractor; all pair counters in one scan / one aggregate,
    pure int64 arithmetic."""
    from evalidate_spark.operators.table_checks import null_correlation

    return null_correlation(
        _t(spark, sf_dir, "documents"), ["text", "lang", "source", "n_chars"]
    )


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pair mutual information (``mutual_information``): the
    quantitative sibling of functional-dependency discovery — one joint
    groupBy per pair, entropies + MI derived from the tiny joint table via
    the same ln-identity as column_entropy."""
    from evalidate_spark.operators.table_checks import mutual_information

    return mutual_information(
        _t(spark, sf_dir, "lineitem"),
        [("l_returnflag", "l_linestatus"), ("l_linenumber", "l_returnflag")],
    )


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit (Benford) audit of lineitem price and
    quantity (``benford``): multiplicative prices trend Benford, the
    uniform synthetic quantity column doesn't — digit extraction via
    exact integer stringification, never float log10/formatting."""
    from evalidate_spark.operators.table_checks import benford

    return benford(
        _t(spark, sf_dir, "lineitem"), ["l_extendedprice", "l_quantity"], scale=2
    )


def q_uniqueness_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-increment key uniqueness from mergeable Theta states
    (``uniqueness_state`` / ``merge_uniqueness_states``): events split
    into two increments by event_id parity — user_id keys recur across
    both halves (cross_unit_keys > 0) while event_id keys don't.
    lg_k=15 keeps the sketches in exact mode at gate scale, so the
    DuckDB oracle is plain COUNT(DISTINCT) arithmetic."""
    from evalidate_spark.operators.table_checks import (
        merge_uniqueness_states,
        uniqueness_state,
    )

    ev = _t(spark, sf_dir, "events")
    cols = ["user_id", "event_id"]
    # != 0 + IS NULL: sign-safe parity split that loses no rows
    s0 = uniqueness_state(ev.filter("event_id % 2 = 0"), cols, "u0", lg_k=15)
    s1 = uniqueness_state(
        ev.filter("event_id % 2 != 0 OR event_id IS NULL"), cols, "u1", lg_k=15
    )
    return merge_uniqueness_states(s0.unionByName(s1), lg_k=15)


def q_cardinality_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relationship-cardinality audit supplier ← lineitem
    (``cardinality_check``): childless suppliers, orphan line items,
    fan-out min/max — counts meet at the key join, each table scanned
    once."""
    from evalidate_spark.operators.table_checks import cardinality_check

    return cardinality_check(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        "l_suppkey",
        "s_suppkey",
    )


def q_hotkey_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable heavy-hitter states (``hotkey_state`` / Count-Min +
    exact per-increment candidates): events split into two increments by
    user parity, sketched separately, folded through Spark's own JVM
    CountMinSketch merge — estimates at this cardinality are exact and
    DETERMINISTIC (fixed seed), so the DuckDB oracle is the true
    count."""
    from evalidate_spark.operators.table_checks import (
        hotkey_state,
        merge_hotkey_states,
    )

    ev = _t(spark, sf_dir, "events")
    # != 0 (not = 1): Spark's % is negative for negative operands, so an
    # "odd" test of = 1 would drop negative-user rows from BOTH halves
    s1 = hotkey_state(ev.filter("user_id % 2 = 0"), ["event_type"], "u0")
    s2 = hotkey_state(
        ev.filter("user_id % 2 != 0 OR user_id IS NULL"), ["event_type"], "u1"
    )
    return merge_hotkey_states(spark, s1.unionByName(s2), top_k=5)


def q_group_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language drift vs the whole corpus (``group_drift``):
    the "which feed went bad" check — one data shuffle, everything else
    on the tiny (source × lang) counts table; same 9-dp/eps/floor-bp
    arithmetic as drift_categorical."""
    from evalidate_spark.operators.table_checks import group_drift

    return group_drift(
        _t(spark, sf_dir, "documents"), "source", "lang", top_k=3
    )


def q_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI/KS drift (integer basis points): even-user events as baseline vs
    the full stream."""
    ev = _t(spark, sf_dir, "events")
    return drift_df(ev, ev.filter(F.col("user_id") % 2 == 0), ["value", "user_id"])


def q_drift_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bin) PSI/KS drift — bucket edges are the
    baseline's own decile cut points (sketch-friendly; exact mode here so
    DuckDB quantile_cont can replay them bit-for-bit on integer-valued
    columns).  Current = drifted low-quantity slice, plus an
    independent even-orderkey slice as a stability control."""
    from evalidate_spark.operators.table_checks import drift_quantile

    li = _t(spark, sf_dir, "lineitem")
    drifted = drift_quantile(
        li.filter(F.col("l_quantity") <= 25), li, ["l_quantity"], exact=True
    ).select(F.lit("drifted").alias("slice"), "column", "psi_bp", "ks_bp")
    stable = drift_quantile(
        li.filter(F.col("l_orderkey") % 2 == 0), li, ["l_quantity"], exact=True
    ).select(F.lit("stable").alias("slice"), "column", "psi_bp", "ks_bp")
    return drifted.unionAll(stable)


def q_minhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash-LSH pipeline — signature → banding → bucket cap →
    pair generation — with an md5-keyed hash family so every stage is
    replayable in DuckDB (xxhash64 is not; md5 is in both engines).
    It shares the `_bucket_pairs` tail with the xxhash64 family
    (`minhash_candidates`, rows-only as `minhash_pairs`), so that tail is
    hash-checked end-to-end by the driver."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_candidates_md5(d, num_hashes=16, bands=8)


def q_minhash_dedup_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE near-dedup pipeline as one hash-gated query: raw text →
    md5-keyed MinHash signatures → LSH banding → candidate pairs →
    connected components (`duplicate_clusters`) → min-id representative
    per component → per-source survival report (`cluster_attrition`).
    Every stage is replayed by the DuckDB oracle (the minhash_pairs_md5
    CTE + recursive-CTE components + the attrition rollup), so the
    driver's hash gate covers raw text to business report end-to-end."""
    from evalidate_spark.functions import dedup

    d = _t(spark, sf_dir, "documents")
    cand = dedup.minhash_candidates_md5(d, num_hashes=16, bands=8)
    cl = dedup.duplicate_clusters(cand.select("id_a", "id_b"))
    return dedup.cluster_attrition(d, cl, weight_col="n_chars")


def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-increment near-dup state: the corpus is ingested as three
    increments (doc_id mod 3); the last increment is deduped against the
    two historical ones reading ONLY their stored MinHash signatures —
    the 10^12-doc shape where historical text is never rescanned.  The
    md5 hash family makes signature, banding, the bipartite bucket join,
    and the slot-match Jaccard estimate all replayable in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    st = lambda pred, inc: dedup.minhash_state(  # noqa: E731
        d.filter(pred), inc, num_hashes=16, hash_fn="md5"
    )
    old = st(did % 3 == 1, "u0").unionByName(st(did % 3 == 2, "u1"))
    new = st(did % 3 == 0, "u2")
    return dedup.dedup_against_state(new, old, bands=8, num_hashes=16)


# -------------------------------------------- rows-only (no SQL oracle)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (xxhash64 not available in DuckDB —
    rows-only check; exact-Jaccard verification is oracled separately)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_candidates(d, num_hashes=32, bands=16)


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", dedup.simhash64(F.col("text")).alias("simhash"))


def q_simhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SimHash pipeline — shingling → per-bit majority vote →
    16-bit-chunk bucketing → capped pair generation → exact Hamming —
    with an md5-keyed hash family so every stage is replayable in DuckDB
    (same pattern as `minhash_pairs_md5`; the xxhash64 family, which runs
    the same Arrow-batched vote, stays rows-only as `simhash_docs`).
    DuckDB rebuilds the signature bit-for-bit from md5 + arithmetic
    shifts, including the wrapping bit-63 sign bit."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_candidates_md5(d)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over the deterministic
    synthetic media table.  Decode is REAL for every image format in the
    table — baseline JPEG (pure-numpy T.81 codec), PNG (stdlib zlib),
    BMP — plus PCM WAV audio and MJPEG/DIB AVI video (header probe).
    No SQL oracle (payload decode isn't SQL-expressible); codecs are
    verified independently in pytest."""
    return multimodal.extract_features(multimodal.synth_media(spark, 200))


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: MJPEG / uncompressed-DIB AVI payloads are
    decoded frame-by-frame (pure-numpy T.81 JPEG + DIB codecs,
    ``functions/avi.py``) and sampled on a 250 ms grid — 1→N ``mapInPandas``
    expansion, frame bytes never leave the executors.  No SQL oracle (video
    decode isn't SQL-expressible); the codec and the sha-per-frame contract
    are verified independently in pytest (``TestAviCodec``,
    ``test_frame_sample_real``)."""
    media = multimodal.synth_media(spark, 120)
    return multimodal.frame_sample(media, every_ms=250).orderBy(
        "media_ref", "ts_ms"
    )


def q_media_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode-derivable projection of `media_features`: per payload the
    REAL decoded dimensions / duration / sample rate (baseline-JPEG, PNG,
    BMP pixels; WAV headers+samples; AVI stream probe; MP4 ISO-BMFF box
    walk — the header-only path for the dominant compressed container,
    flagged decoded=false since its frames stay opaque).  Every value is
    a closed-form function of the deterministic generator's id scheme, so
    a SQL oracle replays the expected dims from the formula — the decode
    path itself enters the driver's hash gate (payload sha/RMS stay in
    the rows-only `media_features` superset)."""
    feats = multimodal.extract_features(
        multimodal.synth_media(spark, 200, mp4_videos=True)
    )
    return feats.select(
        "media_ref", "media_kind", "width", "height",
        "duration_ms", "sample_rate", "decoded",
    )


def q_media_format_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte container sniff vs declared kind over the synthetic
    media table — the decode-free 100 TB media gate.  The generator's id
    scheme fixes every TRUE container (image variant (i//3)%3 rotates
    png/bmp/jpeg; audio is WAV; video rotates MJPEG-AVI / DIB-AVI /
    ISO-BMFF MP4), so the oracle enumerates the expected sniff results
    in closed form and any mis-identified magic sequence — including
    the 'ftyp'-at-offset-4 MP4 sniff and the video↔mp4 kind allowance
    — hash-fails."""
    m = multimodal.synth_media(spark, 200, mp4_videos=True)
    return multimodal.media_format_check(m).select(
        "media_ref", "media_kind", "sniffed", "format_ok"
    )


def q_container_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep container-metadata probe over the synthetic media table
    (`multimodal.probe_containers`): MP4 box-tree walk (codec fourcc,
    track layout) and AVI RIFF-header walk (mjpg/dib, stream count)
    without decoding a frame — the codec-inventory audit a 100 TB media
    column needs before planning any decode pass.  Every field is
    closed-form in the generator's id scheme (video rotation mjpg-avi /
    dib-avi / avc1-mp4, one video stream, no audio), so the whole probe
    enters the hash gate."""
    m = multimodal.synth_media(spark, 120, mp4_videos=True)
    return multimodal.probe_containers(m)


def q_video_frame_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The structural projection of `video_frames`: REAL AVI frame sampling
    (MJPEG + uncompressed-DIB decode) on a 250 ms grid, minus the
    SQL-inexpressible frame sha.  Sample index, resolved frame index,
    timestamp, and true frame dims are all closed-form in the generator's
    id scheme (n_frames = 2 + (i//3) % 3 at 4 fps), so the oracle replays
    the full 1→N expansion contract — every video present, every grid
    point emitted, every frame decoded at its true size."""
    media = multimodal.synth_media(spark, 120)
    return multimodal.frame_sample(media, every_ms=250).select(
        "media_ref", "sample_ix", "frame_ix", "ts_ms",
        "width", "height", "decoded",
    )


def q_trailing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free trailing-window feature generation
    (``sessions.trailing_window_features``): per event, the same user's
    event count / value sum / error count over the preceding hour — one
    hash-by-user shuffle, one sort, three sibling RANGE-frame aggregates
    evaluated in a single window pass.  NULL-ts rows pass through with
    NULL features (the sessionize contract)."""
    from evalidate_spark.operators.sessions import trailing_window_features

    return trailing_window_features(_t(spark, sf_dir, "events"), window_s=3600)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (``text.tfidf_top_terms``): one
    explode, two aggregates sharing the (id, term) shuffle, a vocab join,
    a single-row broadcast for n_docs, and a per-doc window.  The top-k
    window orders by the 6-dp-ROUNDED score (term-asc tiebreak) so the
    selected set is engine-independent — mathematically-equal scores from
    different (tf, df) pairs (2·ln2 = ln4) would otherwise order
    nondeterministically across engines."""
    return text.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


# Fixed literal query-term set: oracle_sql() takes no parameters, so the
# driver query and its DuckDB oracle must agree on the terms up front.
_BM25_TERMS = ("customer", "merge", "the", "vector")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 documents by BM25 against a fixed 4-term query
    (``text.bm25_topk``): explode-free — one let-bound token projection
    for (dl, tf_t...), one bounded corpus-stats row (N, avgdl, df_t)
    collected and re-inlined as literals, TakeOrdered top-k.  Two pruned
    scans, zero data shuffles."""
    return text.bm25_topk(
        _t(spark, sf_dir, "documents"), list(_BM25_TERMS), k=15
    )


def q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-container near-duplicate IMAGE detection: perceptual dHash
    (map-only Arrow stage over real decoded pixels — JPEG/PNG/BMP) banded
    through the capped Hamming bucketing shared with SimHash
    (``functions/perceptual.py``).  The corpus injects a PNG transcode of
    every image, so the true near-dup set is EXACTLY one Hamming-0 pair
    per image — a construction oracle (see ``ORACLE['image_near_dups']``)
    gates recall AND precision through the real JPEG/PNG/BMP decode path;
    hash properties are pytest-verified (``tests/test_perceptual.py``)."""
    media = multimodal.synth_media(spark, 90)
    images = media.filter(F.col("media_kind") == "image")
    copies = perceptual.transcode_images(images, "png").withColumn(
        "media_ref", F.concat(F.col("media_ref"), F.lit("::png"))
    )
    return perceptual.image_near_dups(
        images.unionByName(copies), max_hamming=6
    ).orderBy("id_a", "id_b")


def q_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO detection: 65-log-band spectral fingerprint
    (gain / resample / duration invariant, ``functions/perceptual.py``)
    over real decoded WAV samples, banded through the shared capped
    Hamming bucketing.  The corpus injects a 0.25×-gain re-encode of every
    audio row — the true near-dup set is exactly one Hamming-0 pair per
    audio (gain cancels in the per-band energy ranks), gated end-to-end by
    the construction oracle ``ORACLE['audio_near_dups']``; invariances and
    separation are pytest-verified (``TestSpechash``, ``TestAudioNearDups``)."""
    media = multimodal.synth_media(spark, 60)
    audio = media.filter(F.col("media_kind") == "audio")
    copies = perceptual.audio_gain(audio, gain=0.25).withColumn(
        "media_ref", F.concat(F.col("media_ref"), F.lit("::q"))
    )
    return perceptual.audio_near_dups(
        audio.unionByName(copies), max_hamming=1
    ).orderBy("id_a", "id_b")


def q_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO detection via frame-level perceptual hashes:
    decode AVI frames (map-only Arrow stage — one 8-byte dHash per frame
    leaves), band through the shared capped Hamming bucketing, roll up
    matched frames per video pair.  The corpus injects an MJPEG transcode
    of every DIB video — the true near-dup set is exactly one
    score-1.0 pair per video (smooth gradients survive JPEG quantisation
    frame-for-frame), gated by the construction oracle
    ``ORACLE['video_near_dups']``; separation pytest-verified
    (``TestVideoNearDups``)."""
    media = multimodal.synth_smooth_videos(spark, 12)
    copies = perceptual.transcode_video(media, "mjpeg", quality=88).withColumn(
        "media_ref", F.concat(F.col("media_ref"), F.lit("::mj"))
    )
    return perceptual.video_near_dups(
        media.unionByName(copies), max_hamming=7, min_shared=0.99
    ).orderBy("id_a", "id_b")


def q_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution over part names ∪ injected one-char-deleted
    typo copies: prefix blocking (one equi-join shuffle), deterministic
    md5-ordered block cap, length-bound prune, Levenshtein ≤ 2 verify.
    Every injected typo deletes a char PAST the 4-char block prefix, so
    each (original, copy) pair is a guaranteed candidate at dist 1 unless
    the block cap drops it — and the oracle replays blocking, cap, and
    distance exactly, so the contract is row-for-row."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    typos = p.filter(
        (F.col("p_partkey") % 7 == 0) & (F.length("p_name") >= 10)
    ).select(
        (F.col("p_partkey") + 10000000).alias("p_partkey"),
        F.expr(
            "concat(substring(p_name, 1, cast(5 + p_partkey % 4 AS int)), "
            "substring(p_name, cast(7 + p_partkey % 4 AS int), length(p_name)))"
        ).alias("p_name"),
    )
    return dedup.fuzzy_matches(
        p.unionByName(typos), "p_partkey", "p_name",
        max_dist=2, block_len=4, cap=50,
    )


def q_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (CCNet/Dolma heuristic) per doc:
    zlib deflate size vs raw UTF-8 size in integer bp, repetitive/random
    flags.  One Arrow-batched pandas UDF, map-only (no shuffle).  DuckDB
    has no deflate, so the oracle inlines zlib sizes precomputed over
    the deterministic corpora as a content-hash-keyed VALUES table
    (``_compression_quality_oracle``) — full hash gate; the byte-level
    contract is additionally pinned in tests/test_compression.py."""
    d = _t(spark, sf_dir, "documents")
    return text.compression_signals(d)


def q_cooccurring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori co-occurrence mining: top-30 token pairs supported by
    ≥300 docs.  Pass-1 document-frequency prune (downward closure),
    deterministic per-doc cap BEFORE collect, explode-free HOF pair
    generation, TakeOrdered on (count desc, pair).  The oracle replays
    both passes and the cap; its pair join runs on the capped rows, so
    every stage is hash-gated."""
    d = _t(spark, sf_dir, "documents")
    return text.cooccurring_pairs(
        d, min_support=300, top_k=30, max_tokens_per_doc=30
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease class per doc from exact integer counts (words,
    sentence-terminator runs, vowel-group syllables); every class
    threshold a cross-multiplied integer comparison — no float ever
    crosses the engine boundary.  One fused projection, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    return text.readability(d)


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules from the frequent pairs: integer-div
    confidence (never a float), cross-multiplied lift flag against the
    basket-universe size, TakeOrdered on (conf desc, rule).  Every stage
    of the a-priori pipeline plus the rule step is DuckDB-replayed."""
    d = _t(spark, sf_dir, "documents")
    return text.association_rules(
        d, min_support=300, min_conf_bp=5000, top_k=30, max_tokens_per_doc=30
    )


def q_suppress_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry repeat-suppression verdict per event: kept=false iff the
    previous same-user event (ts, event_id order) has the same event_type
    within one hour.  One shuffle + one sort; NULL-ts/key/value contracts
    replayed verbatim (see operators/sessions.py:suppress_repeats)."""
    from evalidate_spark.operators.sessions import suppress_repeats

    e = _t(spark, sf_dir, "events")
    return suppress_repeats(
        e, key_cols=("user_id",), ts_col="ts", value_col="event_type",
        window_s=3600,
    ).select("event_id", "user_id", "event_type", "kept")


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-regression diff (``reconcile.table_diff``): orders vs a
    deterministically mutated version — keys %97==0 removed, %89==0
    repriced+reprioritised, %101==0 re-added under key+10^8.  One
    full-outer join; empty diff = the green gate."""
    from evalidate_spark.operators.reconcile import table_diff

    o = _t(spark, sf_dir, "orders")
    kept = o.filter(F.col("o_orderkey") % 97 != 0)
    changed = F.col("o_orderkey") % 89 == 0
    after = kept.withColumn(
        "o_totalprice",
        F.when(changed, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    ).withColumn(
        "o_orderpriority",
        F.when(changed, F.lit("9-RECHECK")).otherwise(F.col("o_orderpriority")),
    )
    added = o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
    )
    return table_diff(o, after.unionByName(added), ["o_orderkey"]).select(
        "o_orderkey", "change", "changed_cols"
    )


def q_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounting-identity reconciliation (``reconcile.reconcile_sums``):
    Σ line-item extendedprice per order vs the stored o_totalprice, in
    exact decimal(38,2) — order-independent sums, so the mismatch report
    can't flap with parallelism.  Top-200 biggest absolute diffs
    (deterministic: |diff| desc, key asc)."""
    from evalidate_spark.operators.reconcile import reconcile_sums

    out = reconcile_sums(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
        "l_extendedprice",
        "o_totalprice",
        scale=2,
    )
    # GATE SHAPE: decimal(38,2) exceeds the driver canon's int64-safe
    # numeric envelope (precision 38 renders engine-divergently past
    # int64); emit exact centi-units as bigint instead — ×100 is lossless
    # on a scale-2 decimal, and order totals keep centi values far below
    # 2^63.  The internal operator stays full-precision decimal.
    return (
        out.filter(F.col("diff").isNotNull())
        .orderBy(F.abs(F.col("diff")).desc(), F.col("o_orderkey").asc())
        .limit(200)
        .select(
            "o_orderkey",
            "n_fact_rows",
            (F.col("fact_sum") * 100).cast("long").alias("fact_sum_c"),
            (F.col("stored_value") * 100).cast("long").alias("stored_value_c"),
            (F.col("diff") * 100).cast("long").alias("diff_c"),
            "matched",
        )
    )


def q_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction (``reconcile.changelog_compact``): the latest event
    per user by (ts, event_id), with users whose latest event is an
    'error' dropped (delete-marker semantics).  One shuffle + one
    window with partial top-1 pushdown."""
    from evalidate_spark.operators.reconcile import changelog_compact

    e = _t(spark, sf_dir, "events")
    return changelog_compact(
        e.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()),
        ["user_id"],
        ["ts", "event_id"],
        op_col="event_type",
        delete_ops=("error",),
    ).select("user_id", "event_id", "event_type")


def q_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record merge (``reconcile.survivorship``) over exact-dup
    clusters (cluster id = min doc_id per duplicated text): survivor by
    (n_chars desc, doc_id asc), ``lang``/``source`` filled with the
    first non-NULL in the same order."""
    from evalidate_spark.operators.reconcile import survivorship

    d = _t(spark, sf_dir, "documents")
    dup = (
        d.filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("__cl"), F.count(F.lit(1)).alias("__n")
        )
        .filter(F.col("__n") >= 2)
    )
    clusters = (
        d.join(dup, "text")
        .select(
            F.col("doc_id").alias("id"),
            F.col("__cl").cast("string").alias("cluster_id"),
        )
    )
    out = survivorship(
        d,
        clusters,
        "doc_id",
        precedence=[
            F.col("n_chars").desc_nulls_last(),
            F.col("doc_id").asc(),
        ],
        fill_cols=["lang", "source"],
    )
    return out.select(
        "cluster_id", "n_members", "doc_id", "lang", "source", "n_chars"
    )


def q_promo_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless point-in-interval join (``asof.range_join`` bucketed
    plan): orders whose date falls inside any 14-day promo window
    (promos = orders with key %499==0, deterministic).  The bucket
    equi-join replaces the broadcast-nested-loop a naive non-equi join
    degenerates to; counts per promo."""
    from evalidate_spark.operators.asof import range_join

    o = _t(spark, sf_dir, "orders")
    promos = o.filter(F.col("o_orderkey") % 499 == 0).select(
        F.col("o_orderkey").alias("promo_id"),
        F.col("o_orderdate").alias("p_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 14 DAYS")).alias("p_end"),
    )
    hits = range_join(
        o.select("o_orderkey", "o_orderdate"),
        promos,
        "o_orderdate",
        "p_start",
        "p_end",
        value_cols=["promo_id"],
        bucket=14 * 86400,
    )
    return (
        hits.groupBy("promo_id")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("promo_id")
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (``behavior.funnel_steps``)
    signup→view→click→purchase: each step anchored at the entity's
    earliest qualifying time for the previous step (strict sequence,
    ties inclusive); conversions in integer bp."""
    from evalidate_spark.operators.behavior import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"),
        ["signup", "view", "click", "purchase"],
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (``behavior.cohort_retention``): users
    grouped by first-activity epoch-week, active-user counts per week
    offset, retention in integer bp — pure integer epoch math, no
    calendar."""
    from evalidate_spark.operators.behavior import cohort_retention

    return cohort_retention(
        _t(spark, sf_dir, "events"), period_s=7 * 86400
    ).orderBy("cohort_bucket", "period_offset")


def q_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day exact distinct actives per day
    (``behavior.rolling_active_users``): the sliding distinct is made
    exact WITHOUT a sketch by exploding each distinct (user, day) pair
    into the <=7 days it covers — the explode multiplies the
    already-reduced pair table, never raw events, and the day spine /
    max-day clamp come from a broadcast 1-row bounds aggregate."""
    from evalidate_spark.operators.behavior import rolling_active_users

    return rolling_active_users(
        _t(spark, sf_dir, "events"), window_buckets=7
    ).orderBy("bucket")


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build from the event changelog
    (``reconcile.scd2_intervals``): per user, consecutive duplicate
    event_type rows are collapsed and each CHANGE becomes a half-open
    validity interval with a version ordinal and an is_current flag —
    one hash shuffle, both windows on the same key."""
    from evalidate_spark.operators.reconcile import scd2_intervals

    return scd2_intervals(
        _t(spark, sf_dir, "events"),
        ["user_id"], ["event_type"], "ts", ["event_id"],
    ).select(
        "user_id", "event_type", "valid_from_us", "valid_to_us",
        F.col("version_ix").cast("int").alias("version_ix"), "is_current",
    )


def q_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gap profile (``sessions.gap_stats``):
    min / exact-order-statistic p50+p90 / max / integer-mean of the µs
    gaps between consecutive events — one entity shuffle, two sorts,
    no percentile sketch (exact lower order statistics keep the result
    engine-stable)."""
    from evalidate_spark.operators.sessions import gap_stats

    return gap_stats(_t(spark, sf_dir, "events"))


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the linear classifier's milli-logit vs the
    gopher rule-filter verdict (``classifier.calibration_bins``): ten
    equal-width integer score bins, per-bin observed positive rate in
    bp — the calibration complement of ``classifier_auc``'s ranking
    check.  One broadcast bounds row + one map-side-combined groupBy."""
    from evalidate_spark.functions.classifier import calibration_bins

    s = q_classifier_scores(spark, sf_dir).select("doc_id", "logit_milli")
    lab = q_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("label")
    )
    return calibration_bins(
        s.join(lab, "doc_id"), "logit_milli", "label", n_bins=10
    )


def q_rate_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-window mean-shift changepoint scan over the daily event
    rate (``table_checks.rate_changepoints``): each day's trailing-3-day
    volume vs its leading-3-day volume, on a densified bucket spine
    (silent days count — a stall IS a shift).  The ordered window runs
    over the post-aggregate bucket table only."""
    from evalidate_spark.operators.table_checks import rate_changepoints

    return rate_changepoints(
        _t(spark, sf_dir, "events"), bucket_s=86400, lookback=3,
        shift_bp=2000,
    )


def q_completeness_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null-rate trend (``table_checks.completeness_trend``):
    exact integer least-squares slope of the daily null rate — "is this
    column silently going null?".  The testdata carries no NULLs, so the
    query derives a deterministic null pattern (value < 20 masked) the
    oracle replays; every column's null count folds into ONE bucket
    groupBy."""
    from evalidate_spark.operators.table_checks import completeness_trend

    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.when(F.col("value") >= 20.0, F.col("value"))
    )
    return completeness_trend(
        ev, ["value", "event_type"], bucket_s=86400
    )


def q_order_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands coverage merge (``asof.interval_islands``): each
    order opens a closed 7-day activity interval per customer; islands
    are the maximal merged activity windows — cumulative-max island
    detection (correct when a long interval swallows later short ones),
    one key shuffle, the roll-up reuses the window partitioning."""
    from evalidate_spark.operators.asof import interval_islands
    from evalidate_spark.operators.sessions import _micros

    orders = _t(spark, sf_dir, "orders")
    od_us = _micros(orders, "o_orderdate")
    o = orders.select(
        "o_custkey",
        od_us.alias("s"),
        (od_us + F.lit(604800000000)).alias("e"),
    )
    return interval_islands(o, ["o_custkey"], "s", "e")


def q_fuzzy_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 entity links from the fuzzy candidate pairs
    (``dedup.mutual_best_matches`` over ``fuzzy_matches`` output): a
    pair survives iff each side is the other's single best candidate
    (dist asc, neighbor-id tie-break) — record linkage's mutual-nearest
    conflict resolution; every id appears in at most one link."""
    from evalidate_spark.functions.dedup import mutual_best_matches

    return mutual_best_matches(
        q_fuzzy_matches(spark, sf_dir).select("id_a", "id_b", "dist")
    )


def q_resampled_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular daily grid with last-observation-carried-forward
    (``sessions.resample_locf``): per user, one row per day from the
    user's first event to the corpus max day, valued at the latest
    observation in or before it (event_id pins within-bucket ties) —
    the irregular-events → as-of feature-grid step.  One
    map-side-combined (user, day) reduce, a lead() window over the
    reduced set, and a grid-cardinality sequence explode."""
    from evalidate_spark.operators.sessions import resample_locf

    return resample_locf(
        _t(spark, sf_dir, "events"),
        ["user_id"],
        "ts",
        ["value"],
        step_s=86400,
        tiebreak_cols=["event_id"],
    )


def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-concentration report over the documents mix
    (``table_checks.concentration_profile``): char-weight inequality
    across sources as exact-integer Gini / HHI / top-share basis
    points — the "is one domain 40% of the mix?" gate on a training
    blend.  Group reduce, single-partition rank over group cardinality,
    one final 1-row aggregate."""
    from evalidate_spark.operators.table_checks import concentration_profile

    return concentration_profile(
        _t(spark, sf_dir, "documents"), "source", "n_chars"
    )


def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-agreement noise detection
    (``similarity.knn_label_agreement``): each labelled embedding scored
    by the fraction of its 5 exact cosine neighbours sharing its label
    (6-dp-rounded, id tie-break — engine-stable); ``suspect`` below
    50% agreement.  Wilson-editing for labelled training corpora; the
    default path is the broadcast-probe exact top-k, the documented
    scale path feeds IVF candidates through the same roll-up."""
    return similarity.knn_label_agreement(
        _t(spark, sf_dir, "embeddings"), k=5
    )


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (``behavior.transition_matrix``): consecutive-pair counts
    with exact-int row-conditional probability bp and a rare-transition
    flag; one entity-keyed window shuffle, then type²-cardinality
    aggregates with a broadcast per-prev roll-up.  Same-timestamp ties
    pinned by event_id."""
    from evalidate_spark.operators.behavior import transition_matrix

    return transition_matrix(
        _t(spark, sf_dir, "events"), tiebreak_cols=["event_id"]
    )


def q_pair_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair graph degree triage (``dedup.pair_graph_degrees``)
    over the n-gram Jaccard candidate pairs: distinct-neighbour degree
    per doc with a hub flag — the pre-clustering gate that keeps one
    boilerplate template from swallowing the corpus in
    ``duplicate_clusters``.  Hub threshold 2 here (tiny candidate set);
    production default 100."""
    from evalidate_spark.functions.dedup import pair_graph_degrees

    return pair_graph_degrees(
        q_jaccard_pairs(spark, sf_dir).select("id_a", "id_b"),
        hub_min_degree=2,
    )


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (``table_checks.l_diversity``): every
    event_type group must cover ≥3 distinct users — the disclosure
    k-anonymity misses (a group whose members all share one sensitive
    value leaks it without re-identification).  Same single-shuffle
    shape as k_anonymity with an exact in-group distinct."""
    from evalidate_spark.operators import table_checks

    return table_checks.l_diversity(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", l=3
    )


def q_window_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join (``asof.interval_overlap_join``):
    odd-keyed vs even-keyed order activity windows (7 days) per
    customer — which pairs of order windows coexist, with exact overlap
    bounds.  Bucket-grid co-location (one equi-join on (key, cell)),
    distinct, exact-predicate re-verify — never a per-key cross join."""
    from evalidate_spark.operators.asof import interval_overlap_join
    from evalidate_spark.operators.sessions import _micros

    orders = _t(spark, sf_dir, "orders")
    us = _micros(orders, "o_orderdate")
    base = orders.select(
        "o_custkey",
        "o_orderkey",
        us.alias("s"),
        (us + F.lit(604800000000)).alias("e"),
    )
    lt = base.filter(F.col("o_orderkey") % 2 == 1).withColumnRenamed(
        "o_orderkey", "okey_a"
    )
    rt = base.filter(F.col("o_orderkey") % 2 == 0).withColumnRenamed(
        "o_orderkey", "okey_b"
    )
    return interval_overlap_join(
        lt, rt, on="o_custkey", left_id="okey_a", right_id="okey_b",
        left_start="s", left_end="e", right_start="s", right_end="e",
    )


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy roll-up (``olap.rollup_report``): doc counts and char
    weight by (lang, source), by lang, and overall in ONE aggregate —
    SQL ROLLUP with the standard grouping_id bitmask disambiguating
    rolled-up NULLs from genuine NULL dimension values."""
    from evalidate_spark.operators.olap import rollup_report

    return rollup_report(
        _t(spark, sf_dir, "documents"), ["lang", "source"], "n_chars"
    )


def q_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source × language cross-tab (``olap.pivot_matrix``) with a PINNED
    language domain — one groupBy with conditional aggregates (no
    distinct pre-scan), static output schema; languages outside the pin
    (and NULL) count toward no column."""
    from evalidate_spark.operators.olap import pivot_matrix

    return pivot_matrix(
        _t(spark, sf_dir, "documents"),
        "source",
        "lang",
        ["de", "en", "es", "fr", "zh", "zz"],
    )


def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware rate anomalies
    (``table_checks.seasonal_anomalies``): each hourly bucket scored
    against the mean of the other buckets sharing its hour-of-day phase
    (period 24) — densified spine, per-phase totals broadcast back,
    decimal-widened integer bp; nothing ordered at event cardinality."""
    from evalidate_spark.operators import table_checks

    return table_checks.seasonal_anomalies(
        _t(spark, sf_dir, "events"), bucket_s=3600, period=24,
        spike_bp=8000, drop_bp=5000,
    )


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON-column extraction
    (``semistructured.json_extract_typed``): pull ``k`` out of the
    events ``props`` bag as a real bigint with the three-state
    ``json_ok`` flag (parsed / malformed / cell-was-NULL) — pure
    JVM-side from_json projection, no UDF, no shuffle."""
    from evalidate_spark.functions.semistructured import json_extract_typed

    return json_extract_typed(
        _t(spark, sf_dir, "events"), "props", "k bigint",
        keep=["event_id"],
    )


def _grammar_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length deterministic span arrays (1–5 spans per doc,
    kind pattern a pure function of doc_id) — richer kind SEQUENCES than
    ``_derived_spans``'s fixed three, so the grammar check has real
    variety to chew on.  NULL doc_id → NULL spans (the no-spans
    contract).  The same construction is written closed-form in the
    DuckDB oracle."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    n = (F.lit(1) + F.pmod(i, F.lit(5))).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda j: F.struct(
            F.when(
                (F.pmod(i, F.lit(23)) == 0) & (j == n - 1), F.lit("junk")
            )
            .when(F.pmod(i + j * j, F.lit(3)) == 0, F.lit("media"))
            .otherwise(F.lit("text"))
            .alias("kind"),
            F.when(
                ~((F.pmod(i, F.lit(23)) == 0) & (j == n - 1))
                & ~(F.pmod(i + j * j, F.lit(3)) == 0),
                F.concat(F.lit("w"), j.cast("string")),
            ).alias("text"),
            F.when(
                ~((F.pmod(i, F.lit(23)) == 0) & (j == n - 1))
                & (F.pmod(i + j * j, F.lit(3)) == 0),
                F.concat(F.lit("m-"), F.pmod(i + j, F.lit(30)).cast("string")),
            ).alias("media_ref"),
            (j * 10).cast("int").alias("offset"),
        ),
    )
    return d.select(i.alias("doc_id"), spans.alias("spans"), "source")


def q_span_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-sequence grammar verdicts (``spans.span_grammar``): each
    doc's span kinds folded to a one-char signature (explode-free HOF +
    array_join) and matched against the interleaving policy "opens with
    text, then any text/media mix" (``^t[tm]*$``) — the cross-element
    ordering rule the reference's per-element list mapping cannot see.
    Unknown kinds become '?' and fail; ``max_media_run`` exposes
    back-to-back media even when the grammar passes.  One fused
    projection, no shuffle."""
    from evalidate_spark.operators.spans import span_grammar

    return span_grammar(_grammar_spans(spark, sf_dir), grammar="^t[tm]*$")


def q_span_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-template mining (`spans.span_templates`): docs sharing
    one span-kind skeleton are one extractor template — the layout-level
    boilerplate report over the interleaved corpus.  Same explode-free
    signature fold as span_grammar, then a template-cardinality groupBy
    + broadcast total + deterministic top-k; the oracle replays the
    deterministic span construction and the whole rollup."""
    from evalidate_spark.operators.spans import span_templates

    return span_templates(_grammar_spans(spark, sf_dir), min_docs=2, top_k=50)


def q_template_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wave-over-wave span-template drift (`spans.template_drift`):
    TVD between consecutive ingest waves' layout distributions plus
    never-seen-template share — the extractor-swap tripwire, completing
    the drift triad (text: vocab_drift, vectors: embedding_drift,
    layout: this).  Single template-keyed shuffle, exact int-bp
    arithmetic, one-aggregate transition rollup."""
    from evalidate_spark.operators.spans import template_drift

    return template_drift(_grammar_spans(spark, sf_dir), n_waves=5)


def q_template_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-attribution matrix (`spans.template_source_matrix`): which
    source emits which span-layout template, with each cell's exact
    integer-bp share of its own feed — the WHO to template_drift's WHEN.
    One (source × template)-cardinality groupBy + broadcast totals."""
    from evalidate_spark.operators.spans import template_source_matrix

    return template_source_matrix(_grammar_spans(spark, sf_dir), min_docs=2)


def q_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join fan-out audit (``table_checks.join_fanout``): projected
    output cardinality of the events ⋈ events self-join on user_id —
    per-key n_left·n_right products computed from the two key
    HISTOGRAMS (the join itself never runs), top-20 keys by projected
    output with integer-bp share of the total and the many-to-many
    flag.  The "will this shuffle explode?" gate to run before any
    100 TB join."""
    from evalidate_spark.operators.table_checks import join_fanout

    ev = _t(spark, sf_dir, "events")
    return join_fanout(ev, ev, "user_id", top_k=20)


def q_pair_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair graph shape report (``dedup.pair_graph_stats``)
    over the supplier co-listing graph (suppliers sharing an order —
    exactly the bucket-co-membership shape LSH pair generation emits):
    exact node/edge/triangle/wedge counts and the global clustering
    coefficient in integer bp.  High closure → tight dup cliques, safe
    to merge transitively; low closure → chains and hubs, triage first.
    Edges come from a deterministic 1/20 order subset: the full
    co-listing graph over only ~1k suppliers is near-complete (every
    node a hub), which is exactly the graph the operator's max_degree
    cap exists to refuse — the thinned subset keeps the triangle count
    exact AND meaningful."""
    from evalidate_spark.functions.dedup import pair_graph_stats

    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_suppkey").isNotNull()
        & (F.pmod(F.col("l_orderkey"), F.lit(20)) == 0)
    )
    a = li.select("l_orderkey", F.col("l_suppkey").alias("id_a")).distinct()
    b = li.select("l_orderkey", F.col("l_suppkey").alias("id_b")).distinct()
    edges = a.join(b, "l_orderkey").filter(F.col("id_a") < F.col("id_b"))
    return pair_graph_stats(edges.select("id_a", "id_b"))


def q_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile profile of l_extendedprice
    (``table_checks.equifreq_profile``): exact per-bucket
    (n_rows, min, max) for 10 target-equal buckets via the two-level
    histogram plan — value-coherent ties, NEVER a global ntile window
    (that moves every row to one task).  The heavy-tail drift primitive
    equi-width histograms miss."""
    from evalidate_spark.operators.table_checks import equifreq_profile

    return equifreq_profile(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", k=10
    )


def q_props_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON key-occurrence profile
    (``semistructured.json_key_profile``): which keys a property bag
    actually holds and how often, with `__null__`/`__malformed__`
    pseudo-keys keeping the report single-grain — the pre-flight for the
    typed extraction (`props_extract`) and for writing presence rules
    over semi-structured columns.  The bag here is constructed
    deterministically from documents (conditional keys + a malformed
    slice + NULL cells), so the oracle replays the counts closed-form."""
    from evalidate_spark.functions.semistructured import json_key_profile

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    js = (
        F.when(i.isNull(), F.lit(None).cast("string"))
        .when(F.pmod(i, F.lit(31)) == 0, F.lit("{broken"))
        .otherwise(
            F.to_json(
                F.struct(
                    F.col("n_chars").alias("len"),
                    F.when(F.pmod(i, F.lit(2)) == 0, F.col("lang")).alias(
                        "lang"
                    ),
                    F.when(F.pmod(i, F.lit(3)) == 0, F.col("source")).alias(
                        "src"
                    ),
                    F.when(F.pmod(i, F.lit(5)) == 0, i).alias("id"),
                )
            )
        )
    )
    return json_key_profile(d.select(js.alias("props")), "props")


def q_rule_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule co-firing matrix (``suggest.rule_cooccurrence``): which
    rules fire on the SAME documents, with exact integer-bp Jaccard of
    the two doc sets — the spec-lint signal per-rule totals can't see
    (overlap ≈ 10000 bp ⇒ redundant pair).  Distinct (doc, rule) once;
    the pair join fans out by rules-per-doc², bounded by the rule-set
    size, not the corpus."""
    from evalidate_spark.operators.suggest import rule_cooccurrence

    docs = _t(spark, sf_dir, "documents")
    v = validate(docs, _doc_rules(), id_cols=["doc_id"]).violations
    return rule_cooccurrence(v)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment (``dedup.containment_pairs``) on
    the deterministic candidate list: |A∩B| div |A| and div |B| in exact
    integer bp — the SUBSET-dup signal Jaccard misses (a tweet quoted in
    an article is ~0 Jaccard but 10000 bp contained).  Same id-keyed
    join shape as jaccard_pairs; NULL text folds to the empty set and a
    NULL (vacuous) containment."""
    from evalidate_spark.functions.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents")
    cand = (
        d.select(F.col("doc_id").alias("id_a"))
        .filter(F.col("id_a") % 2 == 0)
        .withColumn("id_b", F.col("id_a") + 1)
    )
    return containment_pairs(d, cand, shingle_k=3)


def q_caption_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncaptioned-media alignment check
    (``spans.caption_proximity_violations``): every media span must have
    a text span within 10 offset units — the interleaved-corpus rule
    that catches figures ripped from their paragraphs.  Explode-free
    nested HOF (transform + exists) in one fused projection; violations
    replay closed-form from the deterministic span construction."""
    from evalidate_spark.operators.spans import caption_proximity_violations

    return caption_proximity_violations(
        _grammar_spans(spark, sf_dir), max_distance=10
    )


def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector simplified silhouette
    (``similarity.centroid_silhouette``) against a pinned centroid slice
    (vec_id % 199 == 0): nearest/runner-up cosine (6-dp rounds, id
    tiebreaks) and the cosine-distance silhouette — crisp vs boundary
    vs mis-sharded assignment quality for an embedding partition.  No
    float aggregation: every row is a pure function of one vector and
    the centroid set."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(
        F.col("vec_id").isNotNull()
        & (F.pmod(F.col("vec_id"), F.lit(199)) == 0)
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == 64)
    )
    return similarity.centroid_silhouette(emb, cents, dim=64)


def q_magnitude_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-of-magnitude histogram of events.value
    (``table_checks.magnitude_profile``): exact integer digit buckets
    (no float log10) split by sign — the unit-mix-up detector (ms in a
    seconds column is a second mode 3 digits up).  One tiny groupBy +
    broadcast total."""
    from evalidate_spark.operators.table_checks import magnitude_profile

    return magnitude_profile(_t(spark, sf_dir, "events"), "value")


def q_ts_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-precision audit of events.ts
    (``table_checks.ts_granularity``): one exact-count row — midnight /
    zero-second / zero-micros shares in integer bp.  A 100%-midnight
    "timestamp" is a date in disguise; partial shares flag mixed-feed
    truncation that breaks sessionization and as-of joins silently."""
    from evalidate_spark.operators.table_checks import ts_granularity

    return ts_granularity(_t(spark, sf_dir, "events"), "ts")


def q_schema_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract check (``table_checks.schema_conformance``) of
    the documents table against a contract with one deliberate
    narrowing (n_chars int vs actual bigint) and one absent column —
    every status branch exercised.  Driver-side metadata only (no scan);
    the oracle pins the contracted outcome literally, so the gate
    verifies the engine reads the ACTUAL parquet schema correctly."""
    from evalidate_spark.operators.table_checks import schema_conformance

    return schema_conformance(
        _t(spark, sf_dir, "documents"),
        {
            "doc_id": "bigint",
            "text": "string",
            "lang": "string",
            "n_chars": "int",
            "quality_score": "double",
        },
    )


def q_rule_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule violation-rate drift (``suggest.rule_drift``): the
    even-doc_id slice as baseline vs the whole corpus as current (the
    drift_events convention) — distinct offending docs · 10000 div
    slice rows, exact ints, full outer over rules so silenced and new
    rules both surface.  The "new batch breaks rule X twice as often"
    alert."""
    from evalidate_spark.operators.suggest import rule_drift

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    )
    bv = validate(base, _doc_rules(), id_cols=["doc_id"]).violations
    cv = validate(docs, _doc_rules(), id_cols=["doc_id"]).violations
    return rule_drift(
        bv, cv, base_rows=base.count(), cur_rows=docs.count(), alert_bp=500
    )


def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-balance report (``classifier.class_balance``) over the
    embeddings labels: exact counts, int-bp shares, and
    inverse-frequency class weights as exact scaled integers (no float
    aggregation).  NULL labels surface as their own row but never shape
    the weights — an unlabeled slice is a labelling defect, not a
    class."""
    from evalidate_spark.functions.classifier import class_balance

    return class_balance(_t(spark, sf_dir, "embeddings"), "label")


def q_lsh_threshold_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-Jaccard calibration histogram
    (``dedup.lsh_threshold_hist``): the md5 MinHash-LSH candidates
    binned by exact-integer Jaccard (``(inter · 20) div union`` from
    shingle-set sizes — no float bucketing) into 20 buckets of 500 bp.
    The report that picks the dedup threshold from the real candidate
    distribution instead of folklore."""
    from evalidate_spark.functions.dedup import lsh_threshold_hist

    d = _t(spark, sf_dir, "documents")
    cand = dedup.minhash_candidates_md5(d, num_hashes=16, bands=8).select(
        "id_a", "id_b"
    )
    return lsh_threshold_hist(d, cand, shingle_k=3, bins=20)


def q_category_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-set churn (``table_checks.category_churn``) of
    event_type between the even-user slice (baseline) and the whole
    stream: WHICH enum values appeared / vanished / persist — the
    explicit complement to the PSI/TVD drift scores, and the upstream
    alert every allowed-list rule wants.  NULL is a real category."""
    from evalidate_spark.operators.table_checks import category_churn

    ev = _t(spark, sf_dir, "events")
    base = ev.filter(
        F.col("user_id").isNotNull()
        & (F.pmod(F.col("user_id"), F.lit(2)) == 0)
    )
    return category_churn(base, ev, "event_type")


def q_media_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-asset reuse report (``spans.media_reuse``) over the
    derived interleaved spans: per asset, citing spans and DISTINCT
    citing docs — the planning input for media dedup / broadcast-vs-
    fetch shard layout."""
    from evalidate_spark.operators.spans import media_reuse

    return media_reuse(_derived_spans(spark, sf_dir))


def q_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair dedup arbitration (``dedup.dedup_verdicts``): exact
    fingerprint / shingle Jaccard / directional containment combined
    into one priority decision (exact → near → contained → distinct) —
    the last step between candidate generation and cluster-or-drop.
    All signals exact-integer; everything at candidate cardinality."""
    from evalidate_spark.functions.dedup import dedup_verdicts

    d = _t(spark, sf_dir, "documents")
    cand = (
        d.select(F.col("doc_id").alias("id_a"))
        .filter(F.col("id_a") % 2 == 0)
        .withColumn("id_b", F.col("id_a") + 1)
    )
    return dedup_verdicts(d, cand, shingle_k=3)


def q_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-extent overlap check (``spans.span_overlap_violations``)
    over the derived spans: a text span occupies [offset,
    offset+len(text)), so the next offset-sorted span must start at or
    after that end — double-extraction detection beyond monotonicity.
    One fused sort+zip projection, sparse explode; the oracle replays
    the same construction relationally (rows + window, null-safe doc
    grouping)."""
    from evalidate_spark.operators.spans import span_overlap_violations

    return span_overlap_violations(_derived_spans(spark, sf_dir))


def q_aggregate_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style aggregate constraint suite
    (``table_checks.aggregate_checks``): table-level bounds — average
    quantity, minimum row count, distinct-supplier floor, a
    cross-multiplied null-rate ceiling — verified in ONE aggregation
    pass; NULL results fail.  The check strings are written
    cross-multiplied so the identical SQL replays exactly in DuckDB."""
    from evalidate_spark.operators.table_checks import aggregate_checks

    return aggregate_checks(
        _t(spark, sf_dir, "lineitem"),
        {
            "qty_avg_sane": "avg(l_quantity) BETWEEN 10 AND 40",
            "rows_min": "count(*) >= 1000",
            "suppliers_min": "count(DISTINCT l_suppkey) >= 50",
            "price_null_rate": "sum(CASE WHEN l_extendedprice IS NULL "
            "THEN 1 ELSE 0 END) * 10000 <= 100 * count(*)",
        },
    )


def q_sample_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling QA gate (``table_checks.sample_fidelity``): the 25%
    deterministic hash sample of events vs the population — per
    equi-width value bucket, share difference in exact integer bp with
    a skew flag.  A bucket drifting means the id space correlates with
    the value and the sample silently biases downstream training."""
    from evalidate_spark.functions import sampling
    from evalidate_spark.operators.table_checks import sample_fidelity

    ev = _t(spark, sf_dir, "events")
    samp = sampling.sample_deterministic(ev, 0.25, id_col="event_id")
    return sample_fidelity(ev, samp, "value", bins=10)


def q_dedup_cell_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup distribution-distortion audit
    (``table_checks.categorical_fidelity``): embedding-space cells
    (nearest pinned centroid, the cluster_silhouette assignment) of ALL
    docs vs the docs SURVIVING quality-aware dedup — per cell, share
    diff in exact int bp.  Did dedup hollow out one semantic cell?  The
    embedding-side check that contents survived, not just counts."""
    from evalidate_spark.operators.table_checks import categorical_fidelity

    assign = q_cluster_silhouette(spark, sf_dir).select(
        "vec_id", "cluster_id"
    )
    kept = q_resolve_duplicates(spark, sf_dir).select("doc_id")
    samp = assign.join(
        kept, assign["vec_id"] == kept["doc_id"], "left_semi"
    )
    return categorical_fidelity(assign, samp, "cluster_id", max_diff_bp=100)


def q_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket-occupancy telemetry over the md5 MinHash head
    (same signature/banding as minhash_pairs_md5): uncapped vs capped
    candidate-pair volume per band — the tuning table that says whether a
    banding scheme survives the corpus BEFORE the pair join runs.  Costs
    only the (band, h) groupBy the pair stage pays anyway."""
    d = _t(spark, sf_dir, "documents")
    return dedup.lsh_band_stats(d, num_hashes=16, bands=8)


def q_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking — the third candidate family next to
    LSH and prefix-filter ssjoin: docs sorted by a 16-char normalised key
    inside 2-char prefix blocks, each compared to its 2 successors, exact
    distinct-token Jaccard verified in-plan.  Rank windows run PARTITIONED
    per block (never a global single-task sort); candidate volume is
    n·window flat."""
    d = _t(spark, sf_dir, "documents")
    return dedup.snm_pairs(d, window=2, block_chars=2, key_chars=16)


def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-inflation curve: corpus char mass by exact-duplicate
    multiplicity bucket (1 / 2 / 3-10 / >10) with the excess chars dedup
    would remove keeping min-id survivors — one fingerprint shuffle plus
    a four-row rollup."""
    d = _t(spark, sf_dir, "documents")
    return dedup.dup_inflation(d)


def q_novelty_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-novelty decay across ingest order (five equal doc_id
    ranges as the arrival timeline): per wave, the share of docs whose
    fingerprint already appeared on an earlier doc — the measured case
    for incremental dedup."""
    d = _t(spark, sf_dir, "documents")
    return dedup.novelty_trend(d, n_buckets=5)


def q_vocab_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency spectrum (types + occurrence mass per
    occurrence bucket): hapax/OOV pressure vs head mass, the
    tokenizer-planning table.  Word-count shuffle + 4-row rollup."""
    d = _t(spark, sf_dir, "documents")
    return text.vocab_spectrum(d)


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-fertility report: chars per whitespace token
    and word-piece fertility in exact centi-units — the conversion table
    from a char-metered corpus to a training-token budget.  One fused
    projection into one groupBy(lang)."""
    d = _t(spark, sf_dir, "documents")
    return text.token_fertility(d, group_col="lang")


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-contamination matrix: distinct content
    fingerprints shared between every source pair, with per-side doc
    counts — the feed-provenance audit (a feed mirroring another shows up
    as one hot cell).  Self-join runs on the (source, fp)-collapsed
    table, so fan-out is bounded by #sources², never docs².  The shipped
    corpus has no cross-source dups, so the driver row composes a
    deterministic 'mirror' feed (every 7th doc re-sourced) — the gate
    then checks real overlap cells, not an empty result."""
    d = _t(spark, sf_dir, "documents")
    mirror = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "source", F.lit("mirror")
    )
    return dedup.source_overlap_matrix(d.unionByName(mirror))


def q_dup_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups whose members disagree on the lang tag
    (identical content, different labels — at least one is wrong, and
    every such group poisons per-language mixture weights).  Two-level
    aggregate: (fp, lang) counts first, so no collect ever holds a
    mega-group.  The driver row injects a mislabeled twin of every 11th
    doc (lang='xx') so the gate checks real conflict groups."""
    d = _t(spark, sf_dir, "documents")
    twin = d.filter(F.col("doc_id") % 11 == 0).withColumn("lang", F.lit("xx"))
    return dedup.dup_lang_mismatch(d.unionByName(twin))


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wave-over-wave vocabulary drift (5 doc_id-range ingest waves):
    TVD between consecutive waves' unigram distributions plus new-token
    share, exact int bp — one token-keyed shuffle computes every
    transition (no per-wave rescan)."""
    d = _t(spark, sf_dir, "documents")
    return text.vocab_drift(d, n_waves=5)


def q_length_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest-wave exact doc-length quantile profile
    (``group_quantiles``): is doc length collapsing wave over wave?
    Exact interpolated percentiles per wave — the audit twin of the KLL
    sketch path for the 10^12-row table."""
    from evalidate_spark.operators.table_checks import group_quantiles

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    lim = d.agg(
        F.greatest(
            F.max(F.greatest(F.col("doc_id"), F.lit(0))) + 1, F.lit(1)
        ).alias("__m")
    )
    waved = d.crossJoin(F.broadcast(lim)).select(
        F.expr("least(4L, greatest(doc_id, 0) * 5L DIV __m)")
        .cast("string")
        .alias("wave"),
        "n_chars",
    )
    return group_quantiles(waved, "wave", "n_chars")


def q_catalog_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-side referential view (``dim_coverage``): how much of
    the media catalog is actually referenced by the interleaved spans —
    dead-asset share plus the distinct dangling-ref count, one row.  The
    reverse of span_refs_dangling's fact-side rows; refs collapse to
    distinct keys before one broadcast join pair."""
    from evalidate_spark.operators.table_checks import dim_coverage

    refs = media_refs(_derived_spans(spark, sf_dir))
    catalog = spark.range(20).select(
        F.concat(F.lit("m-"), F.col("id").cast("string")).alias("media_ref")
    )
    return dim_coverage(refs, "media_ref", catalog, "media_ref",
                        broadcast_refs=True)


def q_blocking_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-family complementarity report: the md5 MinHash-LSH pair
    set vs the sorted-neighborhood pair set on the same corpus —
    ``(family ∈ lsh_only/snm_only/both, n_pairs)``.  The methodological
    answer to "does SNM add recall over LSH here": pairs normalise to
    (lo, hi), full-outer join, one 3-row rollup.  Costs the two candidate
    pipelines themselves; the join runs on candidate cardinality only."""
    d = _t(spark, sf_dir, "documents")
    lsh = (
        dedup.minhash_candidates_md5(d, num_hashes=16, bands=8)
        .select(F.col("id_a").alias("lo"), F.col("id_b").alias("hi"))
        .distinct()
        .withColumn("__l", F.lit(True))
    )
    snm = (
        dedup.snm_pairs(d, window=2)
        .select(
            F.least("id_a", "id_b").alias("lo"),
            F.greatest("id_a", "id_b").alias("hi"),
        )
        .distinct()
        .withColumn("__s", F.lit(True))
    )
    j = lsh.join(snm, ["lo", "hi"], "full_outer")
    row = j.agg(
        F.sum((F.col("__l").isNotNull() & F.col("__s").isNull()).cast("long"))
        .cast("long")
        .alias("lsh_only"),
        F.sum((F.col("__s").isNotNull() & F.col("__l").isNull()).cast("long"))
        .cast("long")
        .alias("snm_only"),
        F.sum((F.col("__l").isNotNull() & F.col("__s").isNotNull()).cast("long"))
        .cast("long")
        .alias("both"),
    )
    fams = F.array(
        *[
            F.struct(F.lit(k).alias("family"), F.col(k).alias("n_pairs"))
            for k in ("lsh_only", "snm_only", "both")
        ]
    )
    return row.select(F.explode(fams).alias("f")).select("f.*")


def q_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest-wave quality-flag trend: share of too-short (<10
    tokens) and repetitive (distinct/total token ratio < 0.5) docs per
    doc_id-range wave, exact int bp — quality filters wired into the
    ingest-monitoring axis.  One fused projection (let-bound token
    array), one 5-row groupBy."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    lim = d.agg(
        F.greatest(
            F.max(F.greatest(F.col("doc_id"), F.lit(0))) + 1, F.lit(1)
        ).alias("__m")
    )
    per = F.element_at(
        F.transform(
            F.array(text.tokens(F.col("text"))),
            lambda tk: F.struct(
                F.size(tk).cast("long").alias("nt"),
                F.size(F.array_distinct(tk)).cast("long").alias("dt"),
            ),
        ),
        1,
    )
    waved = d.crossJoin(F.broadcast(lim)).select(
        F.expr("least(4L, greatest(doc_id, 0) * 5L DIV __m)")
        .cast("int")
        .alias("wave"),
        F.coalesce(per["nt"], F.lit(0)).alias("__nt"),
        F.coalesce(per["dt"], F.lit(0)).alias("__dt"),
    )
    return waved.groupBy("wave").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            "sum(CAST(__nt < 10 AS LONG)) * 10000L DIV count(1)"
        )
        .cast("long")
        .alias("short_bp"),
        F.expr(
            "sum(CAST(2 * __dt < __nt AS LONG)) * 10000L DIV count(1)"
        )
        .cast("long")
        .alias("repetitive_bp"),
    )


def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-encoding advisor: per column, exact distinct share and
    average stringified width — the dictionary-encode / partition-key /
    schema-prune decision table for the 100 TB layout.  Exact
    countDistinct audit mode (the HLL profile is the at-scale default)."""
    from evalidate_spark.operators.table_checks import encoding_advisor

    d = _t(spark, sf_dir, "documents")
    return encoding_advisor(d, ["doc_id", "lang", "source", "text"])


def q_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle/file sizing advisor: per table, deterministic byte
    estimate from the schema (fixed primitive widths + actual string
    lengths) and the recommended partition count at 128 MB — the number
    ``spark.sql.shuffle.partitions`` should derive from, not a
    cluster-wide constant.  One single-pass aggregate per table
    (documents + events: the two tables whose schema the hostile
    fixture shares, since the oracle's byte formula is schema-derived)."""
    from evalidate_spark.operators.table_checks import partition_advisor

    parts = [
        partition_advisor(_t(spark, sf_dir, t), t)
        for t in ("documents", "events")
    ]
    return parts[0].unionByName(parts[1])


def q_lang_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise token top-k (per-language top-5 with exact counts and
    in-group share): the per-group heavy-hitter view where a single
    broken feed surfaces that the global top-k drowns.  One word-count
    shuffle + one group-keyed window; ties break token-ascending."""
    d = _t(spark, sf_dir, "documents")
    return text.lang_top_tokens(d, top_k=5)


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall operating-point curve of the linear classifier's
    milli-logit against the gopher verdict label — one row per distinct
    score via cumulative sums over the distinct-score table only (the
    ranking_auc scale shape); AUC says the ordering is good, this says
    where to cut it."""
    from evalidate_spark.functions.classifier import pr_curve

    s = q_classifier_scores(spark, sf_dir).select("doc_id", "logit_milli")
    lab = q_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("label")
    )
    return pr_curve(s.join(lab, "doc_id"), "logit_milli", "label")


def q_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-shuffle balance audit for two candidate keys: a good key
    (events.user_id — many values, even buckets) next to a bad one
    (documents.lang — 5 values into 32 buckets ⇒ mostly-empty tasks and
    collision stragglers).  Catches medium-key COLLISIONS that the
    per-value skew_report can't see; NULL keys reported separately (the
    classic silent partition-0 straggler)."""
    from evalidate_spark.operators.table_checks import partition_balance

    a = partition_balance(_t(spark, sf_dir, "events"), "user_id", 32).select(
        F.lit("events.user_id").alias("key"), "*"
    )
    b = partition_balance(_t(spark, sf_dir, "documents"), "lang", 32).select(
        F.lit("documents.lang").alias("key"), "*"
    )
    return a.unionByName(b)


def q_id_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-collision triage: for every duplicated doc_id, benign
    re-ingest (identical content) vs REAL collision (same id, different
    content).  The shipped corpus has unique ids, so the driver row
    composes two deterministic re-ingest feeds — every 9th doc verbatim
    (benign) and every 15th with edited text (collision) — so the gate
    checks both verdicts."""
    from evalidate_spark.operators.table_checks import id_collisions

    d = _t(spark, sf_dir, "documents")
    benign = d.filter(F.col("doc_id") % 9 == 0)
    coll = d.filter(F.col("doc_id") % 15 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    )
    u = d.unionByName(benign).unionByName(coll)
    return id_collisions(u, "doc_id", ["text", "lang", "source"])


def q_group_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type freshness against the same explicit as-of instant
    as the table-level probe: a healthy global max hides a feed that
    died yesterday whenever any other feed still writes — this makes
    each feed carry its own lag.  One map-side-combined groupBy."""
    from evalidate_spark.operators.table_checks import group_freshness

    return group_freshness(
        _t(spark, sf_dir, "events"), "ts", "event_type",
        as_of="2024-01-31 12:00:00", max_lag_hours=24.0,
    )


def q_dispersion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type overdispersion (Fano factor) of events-per-user in
    exact centi-units — the load-shape diagnostic between skew_report
    (single hot values) and partition_balance (bucket collisions): here
    the skew is distributional.  One (type, user) groupBy + a
    type-cardinality rollup."""
    from evalidate_spark.operators.table_checks import dispersion_profile

    return dispersion_profile(
        _t(spark, sf_dir, "events"), "event_type", "user_id"
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI (per-pair ln-then-floor milli
    units, the lm_scores technique): multiword expressions and glued
    boilerplate markers.  One corpus explode into a pinned bigram-count
    table; marginals and scoring derive from it."""
    d = _t(spark, sf_dir, "documents")
    return text.pmi_collocations(d, min_count=2, top_k=20)


def q_dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape statistics of the md5-LSH candidate graph itself — the
    pre-clustering health check pointed at the DEDUP pipeline: high
    closure means tight dup cliques (transitive merging is safe), low
    closure means chains/hub sprays (route through degree triage
    first).  Composes the full LSH pipeline with pair_graph_stats; the
    oracle replays both end-to-end."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidates_md5(d, num_hashes=16, bands=8).select(
        "id_a", "id_b"
    )
    return dedup.pair_graph_stats(pairs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full rule-set validation pass over sf0.001 documents."""
    return q_validate_documents(spark, DEFAULT_SF)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- driver window: the first 50 entries are the curated
        # correctness window — one representative per SURVEY.md §2
        # family plus former reds and the newest flagship composites,
        # so the driver — not the builder's own gate — certifies them.
        # Round-5 rotation: the float-scoring family under its new
        # non-finite contract (ann_topk, quantized_topk, label_noise,
        # cluster_silhouette, embedding_near_dups, embedding_health),
        # the Arrow-SRP incremental pair (incremental_srp,
        # embedding_dedup_attrition), the Arrow-minhash band telemetry
        # (lsh_band_stats), and the reshaped reconcile_totals; former
        # reds (sessions, column_fingerprints, centroid_states) stay
        # pinned until a driver round certifies them green
        # (tests/test_gate_contract.py enforces this).
        # Order past 50 is not significant. ---
        "validate_documents": q_validate_documents,
        "clean_documents": q_clean_documents,
        "optional_default": q_optional_default,
        "profile_lineitem": q_profile_lineitem,
        "uniqueness_events_user": q_uniqueness_events_user,
        "referential_lineitem_supplier": q_referential_lineitem_supplier,
        "zorder_events": q_zorder_events,
        "reconcile_totals": q_reconcile_totals,
        "check_suite": q_check_suite,
        "embedding_health": q_embedding_health,
        "profile_incremental": q_profile_incremental,
        "ann_topk": q_ann_topk,
        "column_fingerprints": q_column_fingerprints,
        "quantized_topk": q_quantized_topk,
        "histogram_events_value": q_histogram_events_value,
        "span_structure": q_span_structure,
        "partition_verdicts": q_partition_verdicts,
        "rule_firing_stats": q_rule_firing_stats,
        "label_noise": q_label_noise,
        "rule_or": q_rule_or,
        "lib_validators": q_lib_validators,
        "converters": q_converters,
        "token_counts_bpe": q_token_counts_bpe,
        "cluster_silhouette": q_cluster_silhouette,
        "embedding_near_dups": q_embedding_near_dups,
        "zipped_rulesets": q_zipped_rulesets,
        "bare_values": q_bare_values,
        "rule_and_on_error": q_rule_and_on_error,
        "deprecated_keys": q_deprecated_keys,
        "nested_childs": q_nested_childs,
        "custom_validator": q_custom_validator,
        "incremental_srp": q_incremental_srp,
        "shard_plan": q_shard_plan,
        "sessions": q_sessions,
        "asof_features": q_asof_features,
        "embedding_dedup_attrition": q_embedding_dedup_attrition,
        "jsonschema_validate": q_jsonschema_validate,
        "minhash_pairs_md5": q_minhash_pairs_md5,
        "minhash_dedup_attrition": q_minhash_dedup_attrition,
        "ssjoin_pairs": q_ssjoin_pairs,
        "semantic_dedup": q_semantic_dedup,
        "lsh_band_stats": q_lsh_band_stats,
        "gopher_rules": q_gopher_rules,
        "classifier_auc": q_classifier_auc,
        "lm_scores": q_lm_scores,
        "container_probe": q_container_probe,
        "srp_pairs_md5": q_srp_pairs_md5,
        "embedding_health_trend": q_embedding_health_trend,
        "centroid_states": q_centroid_states,
        "span_templates": q_span_templates,
        # --- beyond the driver window (still gate-checked locally) ---
        "embedding_drift": q_embedding_drift,
        "sampled_docs": q_sampled_docs,
        "template_source_matrix": q_template_source_matrix,
        "scd2_history": q_scd2_history,
        "password": q_password,
        "stratified_sample": q_stratified_sample,
        "violation_examples": q_violation_examples,
        "token_counts": q_token_counts,
        "span_refs_dangling": q_span_refs_dangling,
        "referential_bloom": q_referential_bloom,
        "uniqueness_composite": q_uniqueness_composite,
        "mad_outliers": q_mad_outliers,
        "multiway_split": q_multiway_split,
        "weighted_sample": q_weighted_sample,
        "correlation_matrix": q_correlation_matrix,
        "span_reconstruct": q_span_reconstruct,
        "ngram_dup_spans": q_ngram_dup_spans,
        "fingerprint_documents": q_fingerprint_documents,
        "top_ngrams": q_top_ngrams,
        "validate_part": q_validate_part,
        "nation_region_rollup": q_nation_region_rollup,
        "file_health": q_file_health,
        "packed_sequences": q_packed_sequences,
        "budget_selection": q_budget_selection,
        "leakage_split": q_leakage_split,
        "dedup_corpus": q_dedup_corpus,
        "contamination": q_contamination,
        "pii_redaction": q_pii_redaction,
        "boilerplate_removal": q_boilerplate_removal,
        "corpus_report": q_corpus_report,
        "domain_caps": q_domain_caps,
        "incremental_dedup": q_incremental_dedup,
        "mixture_rebalance": q_mixture_rebalance,
        "corpus_diff": q_corpus_diff,
        "canonical_urls": q_canonical_urls,
        "normalized_docs": q_normalized_docs,
        "chunked_docs": q_chunked_docs,
        "quality_topk": q_quality_topk,
        "exact_dup_groups": q_exact_dup_groups,
        "dup_clusters": q_dup_clusters,
        "near_dedup_attrition": q_near_dedup_attrition,
        "jaccard_pairs": q_jaccard_pairs,
        "lsh_recall": q_lsh_recall,
        "iqr_outliers": q_iqr_outliers,
        "ivf_topk": q_ivf_topk,
        "lang_marker_counts": q_lang_marker_counts,
        "filter_funnel": q_filter_funnel,
        "c4_filters": q_c4_filters,
        "filter_agreement": q_filter_agreement,
        "classifier_scores": q_classifier_scores,
        "functional_deps": q_functional_deps,
        "skew_report": q_skew_report,
        "column_entropy": q_column_entropy,
        "check_expressions": q_check_expressions,
        "expression_violations": q_expression_violations,
        "sequence_anomalies": q_sequence_anomalies,
        "group_drift": q_group_drift,
        "hotkey_topk": q_hotkey_topk,
        "cardinality_suppliers": q_cardinality_suppliers,
        "uniqueness_incremental": q_uniqueness_incremental,
        "null_correlation": q_null_correlation,
        "mutual_information": q_mutual_information,
        "benford": q_benford,
        "encoding_anomalies": q_encoding_anomalies,
        "quantile_states": q_quantile_states,
        "corpus_overlap": q_corpus_overlap,
        "resolve_duplicates": q_resolve_duplicates,
        "profile_anomalies": q_profile_anomalies,
        "html_extract": q_html_extract,
        "drift_events": q_drift_events,
        "drift_quantile": q_drift_quantile,
        "drift_event_types": q_drift_event_types,
        "inclusion_deps": q_inclusion_deps,
        "centroid_outliers": q_centroid_outliers,
        "profile_quantiles": q_profile_quantiles,
        "fuzzy_matches": q_fuzzy_matches,
        "compression_quality": q_compression_quality,
        "cooccurring_pairs": q_cooccurring_pairs,
        "readability": q_readability,
        "association_rules": q_association_rules,
        "suppress_repeats": q_suppress_repeats,
        "table_diff": q_table_diff,
        "winsorize_quantity": q_winsorize_quantity,
        "changelog_compact": q_changelog_compact,
        "survivorship": q_survivorship,
        "promo_attribution": q_promo_attribution,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "incremental_minhash": q_incremental_minhash,
        "dedup_attrition": q_dedup_attrition,
        "minhash_pairs": q_minhash_pairs,
        "simhash_docs": q_simhash_docs,
        "simhash_pairs_md5": q_simhash_pairs_md5,
        "media_features": q_media_features,
        "video_frames": q_video_frames,
        "media_dims": q_media_dims,
        "media_format_check": q_media_format_check,
        "video_frame_grid": q_video_frame_grid,
        "image_near_dups": q_image_near_dups,
        "audio_near_dups": q_audio_near_dups,
        "video_near_dups": q_video_near_dups,
        "tfidf_terms": q_tfidf_terms,
        "bm25_topk": q_bm25_topk,
        "trailing_features": q_trailing_features,
        "suggested_constraints": q_suggested_constraints,
        "repetition_signals": q_repetition_signals,
        "script_mix": q_script_mix,
        "rate_anomalies": q_rate_anomalies,
        "group_completeness": q_group_completeness,
        "value_shapes": q_value_shapes,
        "k_anonymity": q_k_anonymity,
        "dup_cluster_sizes": q_dup_cluster_sizes,
        "lang_agreement": q_lang_agreement,
        "line_dedup": q_line_dedup,
        "span_text_quality": q_span_text_quality,
        "rolling_actives": q_rolling_actives,
        "gap_profile": q_gap_profile,
        "calibration": q_calibration,
        "rate_changepoints": q_rate_changepoints,
        "completeness_trend": q_completeness_trend,
        "order_islands": q_order_islands,
        "fuzzy_links": q_fuzzy_links,
        "resampled_values": q_resampled_values,
        "source_concentration": q_source_concentration,
        "freshness": q_freshness,
        "transitions": q_transitions,
        "pair_degrees": q_pair_degrees,
        "l_diversity": q_l_diversity,
        "window_overlaps": q_window_overlaps,
        "corpus_rollup": q_corpus_rollup,
        "lang_matrix": q_lang_matrix,
        "seasonal_anomalies": q_seasonal_anomalies,
        "props_extract": q_props_extract,
        "span_grammar": q_span_grammar,
        "template_drift": q_template_drift,
        "props_keys": q_props_keys,
        "rule_cooccurrence": q_rule_cooccurrence,
        "containment_pairs": q_containment_pairs,
        "caption_check": q_caption_check,
        "quality_documents": q_quality_documents,
        "magnitude_profile": q_magnitude_profile,
        "ts_granularity": q_ts_granularity,
        "schema_conformance": q_schema_conformance,
        "rule_drift": q_rule_drift,
        "class_balance": q_class_balance,
        "lsh_threshold_hist": q_lsh_threshold_hist,
        "category_churn": q_category_churn,
        "media_reuse": q_media_reuse,
        "dedup_verdicts": q_dedup_verdicts,
        "span_overlap": q_span_overlap,
        "aggregate_checks": q_aggregate_checks,
        "sample_fidelity": q_sample_fidelity,
        "dedup_cell_fidelity": q_dedup_cell_fidelity,
        "join_fanout": q_join_fanout,
        "pair_triangles": q_pair_triangles,
        "price_deciles": q_price_deciles,
        "snm_pairs": q_snm_pairs,
        "dup_inflation": q_dup_inflation,
        "novelty_trend": q_novelty_trend,
        "vocab_spectrum": q_vocab_spectrum,
        "token_fertility": q_token_fertility,
        "source_overlap": q_source_overlap,
        "dup_lang_mismatch": q_dup_lang_mismatch,
        "vocab_drift": q_vocab_drift,
        "length_trend": q_length_trend,
        "catalog_coverage": q_catalog_coverage,
        "blocking_comparison": q_blocking_comparison,
        "quality_trend": q_quality_trend,
        "encoding_advisor": q_encoding_advisor,
        "partition_advisor": q_partition_advisor,
        "lang_top_tokens": q_lang_top_tokens,
        "pr_curve": q_pr_curve,
        "partition_balance": q_partition_balance,
        "id_collisions": q_id_collisions,
        "group_freshness": q_group_freshness,
        "dispersion_profile": q_dispersion_profile,
        "pmi_collocations": q_pmi_collocations,
        "dedup_graph_stats": q_dedup_graph_stats,
    }


_ALLOWED_REPR = '[<<"en">>,<<"es">>,<<"de">>,<<"fr">>]'

_STOPWORDS_SQL = "'the','and','of','to','a','in','is','that','it','for','on','with','as','this'"

def _cos_sql(a: str, b: str) -> str:
    """DuckDB twin of ``similarity.cosine``: explicit sqrt(dot)·sqrt(dot)
    denominator with the SAME zero/NULL-norm → 0.0 contract (DuckDB's
    ``list_cosine_similarity`` NaNs on zero vectors instead)."""
    na = f"sqrt(list_dot_product({a},{a}))"
    nb = f"sqrt(list_dot_product({b},{b}))"
    return (
        f"(CASE WHEN {na} * {nb} > 0 "
        f"THEN list_dot_product({a},{b}) / ({na} * {nb}) ELSE 0.0 END)"
    )


_SHINGLES_SQL = """list_distinct(list_transform(
    generate_series(1, greatest(len(string_split(text,' '))-2, 1)),
    i -> array_to_string(string_split(text,' ')[i:i+2],' ')))"""


def _drift_col_sql(col: str) -> str:
    """DuckDB twin of ``drift_df`` for one column: baseline = even-user
    events, current = all events, 10 equi-width bins over baseline bounds."""
    bb = (
        f"(SELECT min(cast({col} AS double)) AS lo, max(cast({col} AS double)) AS hi "
        f"FROM events WHERE user_id % 2 = 0 AND {col} IS NOT NULL)"
    )
    hist = lambda pred: f"""
      SELECT bucket, cnt / cast(sum(cnt) OVER () AS double) AS p FROM (
        SELECT least(9, greatest(0,
            cast(floor((cast({col} AS double) - bb.lo) / ((bb.hi - bb.lo) / 10)) AS int))) AS bucket,
          count(*) AS cnt
        FROM events, {bb} bb WHERE {pred} AND {col} IS NOT NULL GROUP BY 1)"""
    return f"""
SELECT '{col}' AS column,
  cast(floor(sum(psi_term) * 10000) AS bigint) AS psi_bp,
  cast(floor(max(ks_gap) * 10000) AS bigint) AS ks_bp
FROM (
  SELECT
    (greatest(pc,1e-6) - greatest(pb,1e-6)) * ln(greatest(pc,1e-6) / greatest(pb,1e-6)) AS psi_term,
    abs(sum(pb) OVER (ORDER BY bucket) - sum(pc) OVER (ORDER BY bucket)) AS ks_gap
  FROM (
    SELECT g.bucket, coalesce(b.p, 0.0) AS pb, coalesce(c.p, 0.0) AS pc
    FROM (SELECT unnest(generate_series(0, 9)) AS bucket) g
    LEFT JOIN ({hist("user_id % 2 = 0")}) b USING (bucket)
    LEFT JOIN ({hist("true")}) c USING (bucket)))"""

ORACLE = {
    "validate_documents": f"""
WITH v AS (
  SELECT doc_id, 2 AS rule_seq, 'rule:text' AS rule_id, 'text' AS key_path,
         CASE WHEN length(text) < 50
              THEN 'Value is not valid. Value''s byte_size is less than minimum allowed: 50'
              ELSE 'Value is not valid. Value''s byte_size is more than maximum allowed: 500' END AS message
  FROM documents WHERE length(text) < 50 OR length(text) > 500
  UNION ALL
  SELECT doc_id, 3, 'rule:lang', 'lang',
         'Value ''\\<\\<"' || lang || '"\\>\\>'' is not valid. Value is not in allowed list {_ALLOWED_REPR}'
  FROM documents WHERE lang NOT IN ('en','es','de','fr')
  UNION ALL
  SELECT doc_id, 4, 'rule:source', 'source',
         'Value ''' || source || ''' is not valid. Validation with regexp ''^src[0-9]$'' failed'
  FROM documents WHERE NOT regexp_matches(source, '^src[0-9]$')
  UNION ALL
  SELECT doc_id, 5, 'rule:n_chars', 'n_chars',
         CASE WHEN n_chars < 60
              THEN 'Value is not valid. Value''s limit is less than minimum allowed: 60'
              ELSE 'Value is not valid. Value''s limit is more than maximum allowed: 400' END
  FROM documents WHERE n_chars < 60 OR n_chars > 400
  -- presence: NULL ≡ missing key (reference semantics) → required violation
  UNION ALL
  SELECT doc_id, 1, 'rule:doc_id', 'doc_id', 'Key ''doc_id'' is required'
  FROM documents WHERE doc_id IS NULL
  UNION ALL
  SELECT doc_id, 2, 'rule:text', 'text', 'Key ''text'' is required'
  FROM documents WHERE text IS NULL
  UNION ALL
  SELECT doc_id, 3, 'rule:lang', 'lang', 'Key ''lang'' is required'
  FROM documents WHERE lang IS NULL
  UNION ALL
  SELECT doc_id, 4, 'rule:source', 'source', 'Key ''source'' is required'
  FROM documents WHERE source IS NULL
  UNION ALL
  SELECT doc_id, 5, 'rule:n_chars', 'n_chars', 'Key ''n_chars'' is required'
  FROM documents WHERE n_chars IS NULL
)
SELECT * FROM v
""",
    "clean_documents": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang, lower(source) AS source, n_chars
FROM documents
WHERE length(text) BETWEEN 50 AND 500
  AND lang IN ('en','es','de','fr')
  AND regexp_matches(source, '^src[0-9]$')
  AND n_chars BETWEEN 60 AND 400
""",
    "optional_default": """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 0 OR lang IS NULL THEN 'unknown'
            ELSE lang END AS maybe_lang
FROM documents
WHERE doc_id IS NOT NULL  -- required-violating rows are not clean
""",
    "profile_lineitem": """
SELECT 'l_orderkey' AS column, count(*) AS n_rows,
       count(*) - count(l_orderkey) AS n_nulls,
       count(DISTINCT l_orderkey) AS n_distinct,
       CAST(min(l_orderkey) AS VARCHAR) AS min_repr,
       CAST(max(l_orderkey) AS VARCHAR) AS max_repr
FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
       count(DISTINCT l_returnflag),
       CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
       count(DISTINCT l_shipdate),
       CAST(min(l_shipdate) AS VARCHAR), CAST(max(l_shipdate) AS VARCHAR)
FROM lineitem
""",
    "uniqueness_events_user": """
SELECT user_id, count(*) AS dup_count
FROM events WHERE user_id IS NOT NULL
GROUP BY user_id HAVING count(*) > 1
""",
    "referential_lineitem_supplier": """
SELECT l_orderkey, l_linenumber, l_suppkey
FROM lineitem
WHERE l_suppkey IS NOT NULL
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 2 = 0)
""",
    "histogram_events_value": """
WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events WHERE value IS NOT NULL)
SELECT LEAST(9, GREATEST(0, CAST(FLOOR((value - b.lo) / ((b.hi - b.lo) / 10)) AS INT))) AS bucket,
       count(*) AS n
FROM events, b WHERE value IS NOT NULL
GROUP BY 1
""",
    "span_structure": """
SELECT doc_id, 'span:kind_allowed' AS rule_id, 0 AS span_index,
       'span kind is not one of text|media' AS message
FROM documents WHERE doc_id % 17 = 0
UNION ALL
-- span0: 'meta' kind fails both arms; media_ref present on a text span;
-- NULL text on a text span
SELECT doc_id, 'span:kind_consistency', 0,
       'text/media_ref fields are inconsistent with span kind'
FROM documents WHERE doc_id % 13 = 0 OR doc_id % 17 = 0 OR text IS NULL
UNION ALL
-- span1 (media): ref 'm-'||(doc_id%30) is NULL exactly when doc_id is
SELECT doc_id, 'span:kind_consistency', 1,
       'text/media_ref fields are inconsistent with span kind'
FROM documents WHERE doc_id IS NULL
UNION ALL
-- span2 (text): substring of NULL text is NULL
SELECT doc_id, 'span:kind_consistency', 2,
       'text/media_ref fields are inconsistent with span kind'
FROM documents WHERE text IS NULL
UNION ALL
-- NULL n_chars → NULL offsets → comparison never flags
SELECT doc_id, 'span:offset_monotonic', 1, 'span offset decreases'
FROM documents WHERE doc_id % 11 = 0 AND n_chars IS NOT NULL
""",
    "span_refs_dangling": """
SELECT doc_id, 'm-' || CAST(doc_id % 50 AS VARCHAR) AS media_ref
FROM documents WHERE doc_id % 13 = 0 AND doc_id % 50 >= 20
UNION ALL
SELECT doc_id, 'm-' || CAST(doc_id % 30 AS VARCHAR)
FROM documents WHERE doc_id % 30 >= 20
""",
    "rule_or": """
SELECT doc_id, 2 AS rule_seq, 'rule_or' AS rule_id,
  'Value ''' || lang || ''' is not valid. Validation with regexp ''^(de|fr)$'' failed or Value ''\\<\\<"'
    || lang || '"\\>\\>'' is not valid. Value is not in allowed list [<<"en">>,<<"es">>]' AS message
FROM documents
WHERE lang NOT IN ('en','es') AND NOT regexp_matches(lang, '^(de|fr)$')
UNION ALL
-- NULL lang: both alternatives fail with the same required message,
-- which dedupes to a single clause before the ' or ' join
SELECT doc_id, 2, 'rule_or', 'Key ''lang'' is required'
FROM documents WHERE lang IS NULL
UNION ALL
SELECT doc_id, 1, 'rule:doc_id', 'Key ''doc_id'' is required'
FROM documents WHERE doc_id IS NULL
""",
    "lib_validators": """
WITH em AS (
  SELECT doc_id,
         CASE WHEN doc_id %% 3 = 0 THEN source || '@example.com'
              ELSE source END AS email
  FROM documents
)
SELECT doc_id, 'rule:email' AS rule_id, 'Value is not valid' AS message
FROM em WHERE email IS NOT NULL AND NOT regexp_matches(email, '%(email_re)s')
UNION ALL
SELECT doc_id, 'rule:email', 'Key ''email'' is required'
FROM em WHERE email IS NULL
UNION ALL
SELECT doc_id, 'rule:uid', 'Value is not valid'
FROM documents WHERE doc_id %% 4 <> 0 OR doc_id IS NULL
UNION ALL
SELECT doc_id, 'rule:count_str',
  CASE WHEN n_chars < 60
       THEN 'Value is not valid. Value''s limit is less than minimum allowed: 60'
       ELSE 'Value is not valid. Value''s limit is more than maximum allowed: 400' END
FROM documents WHERE n_chars < 60 OR n_chars > 400
UNION ALL
SELECT doc_id, 'rule:count_str', 'Key ''count_str'' is required'
FROM documents WHERE n_chars IS NULL
UNION ALL
SELECT doc_id, 'rule:doc_id', 'Key ''doc_id'' is required'
FROM documents WHERE doc_id IS NULL
""" % {"email_re": _lib.EMAIL_RE},
    "converters": """
SELECT doc_id, n_chars AS n_int, lower(text) AS lower_join,
  array_to_string(
    list_filter(string_split(text,' '),
                (x, i) -> list_position(string_split(text,' '), x) = i),
    ' ') AS uniq_join
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL AND n_chars IS NOT NULL
""",
    "token_counts": """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk
  FROM documents
)
SELECT doc_id,
  len(tk) AS n_tokens,
  cast(coalesce(list_sum(list_transform(tk, t -> ceil(length(t)/4.0))), 0) AS bigint) AS n_tokens_bpe
FROM tok WHERE tk IS NOT NULL
UNION ALL
SELECT doc_id, NULL, NULL FROM tok WHERE tk IS NULL
""",
    "quality_documents": """
WITH tok AS (
  SELECT doc_id, length(text) AS n_chars_q,
         list_filter(string_split(text,' '), x -> x <> '') AS tk
  FROM documents
)
SELECT doc_id, n_chars_q, len(tk) AS n_tokens,
  CASE WHEN len(tk) > 0 THEN cast(floor((len(list_filter(tk,
        t -> lower(t) IN (%s))) / cast(len(tk) AS double)) * 10000) AS bigint) END AS stop_bp,
  CASE WHEN len(tk) > 0 THEN cast(floor((len(list_distinct(tk))
        / cast(len(tk) AS double)) * 10000) AS bigint) END AS uniq_bp
FROM tok
""" % _STOPWORDS_SQL,
    "fingerprint_documents": """
SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL
       ELSE md5(coalesce(array_to_string(list_transform(
              list_filter(string_split(text,' '), x -> x <> ''),
              t -> lower(t)), ' '), '')) END AS fp
FROM documents
""",
    "lang_marker_counts": """
SELECT doc_id,
  len(list_filter(string_split(text,' '), t -> lower(t) IN ('the','and','of','to','a','in','is','that'))) AS en_hits,
  len(list_filter(string_split(text,' '), t -> lower(t) IN ('el','la','de','que','y','los','en','un'))) AS es_hits,
  len(list_filter(string_split(text,' '), t -> lower(t) IN ('der','die','und','das','ist','nicht','ein','zu'))) AS de_hits,
  len(list_filter(string_split(text,' '), t -> lower(t) IN ('le','la','les','de','et','un','est','que'))) AS fr_hits
FROM documents
""",
    "validate_part": """
SELECT p_partkey, 3 AS rule_seq, 'rule:p_type' AS rule_id,
  'Value ''\\<\\<"' || p_type || '"\\>\\>'' is not valid. Value is not in allowed list [<<"ECONOMY">>,<<"STANDARD">>,<<"MEDIUM">>,<<"SMALL">>]' AS message
FROM part WHERE p_type NOT IN ('ECONOMY','STANDARD','MEDIUM','SMALL')
UNION ALL
SELECT p_partkey, 4, 'rule:p_size',
  CASE WHEN p_size < 5
       THEN 'Value is not valid. Value''s limit is less than minimum allowed: 5'
       ELSE 'Value is not valid. Value''s limit is more than maximum allowed: 45' END
FROM part WHERE p_size < 5 OR p_size > 45
UNION ALL
SELECT p_partkey, 5, 'rule:p_retailprice',
  CASE WHEN p_retailprice < 900
       THEN 'Value is not valid. Value''s limit is less than minimum allowed: 900'
       ELSE 'Value is not valid. Value''s limit is more than maximum allowed: 990' END
FROM part WHERE p_retailprice < 900 OR p_retailprice > 990
UNION ALL
SELECT p_partkey, 2, 'rule:p_brand',
  'Value ''' || p_brand || ''' is not valid. Validation with regexp ''^Brand#[0-9]+$'' failed'
FROM part WHERE p_brand IS NOT NULL AND NOT regexp_matches(p_brand, '^Brand#[0-9]+$')
-- presence: NULL ≡ missing key → required violation (default presence)
UNION ALL
SELECT p_partkey, 1, 'rule:p_partkey', 'Key ''p_partkey'' is required'
FROM part WHERE p_partkey IS NULL
UNION ALL
SELECT p_partkey, 2, 'rule:p_brand', 'Key ''p_brand'' is required'
FROM part WHERE p_brand IS NULL
UNION ALL
SELECT p_partkey, 3, 'rule:p_type', 'Key ''p_type'' is required'
FROM part WHERE p_type IS NULL
UNION ALL
SELECT p_partkey, 4, 'rule:p_size', 'Key ''p_size'' is required'
FROM part WHERE p_size IS NULL
UNION ALL
SELECT p_partkey, 5, 'rule:p_retailprice', 'Key ''p_retailprice'' is required'
FROM part WHERE p_retailprice IS NULL
""",
    "nation_region_rollup": """
SELECT r_name, count(*) AS n_nations, min(n_name) AS first_nation
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    "zipped_rulesets": """
SELECT doc_id, 'rule:lang' AS rule_id,
  'Value ''\\<\\<"' || lang || '"\\>\\>'' is not valid. Value is not in allowed list [<<"en">>,<<"es">>]' AS message
FROM documents WHERE doc_id % 2 = 0 AND lang NOT IN ('en','es')
UNION ALL
SELECT doc_id, 'rule:text',
  CASE WHEN length(text) < 50
       THEN 'Value is not valid. Value''s byte_size is less than minimum allowed: 50'
       ELSE 'Value is not valid. Value''s byte_size is more than maximum allowed: 400' END
FROM documents WHERE doc_id % 2 = 1 AND (length(text) < 50 OR length(text) > 400)
UNION ALL
SELECT doc_id, 'rule:lang', 'Key ''lang'' is required'
FROM documents WHERE doc_id % 2 = 0 AND lang IS NULL
UNION ALL
SELECT doc_id, 'rule:text', 'Key ''text'' is required'
FROM documents WHERE doc_id % 2 = 1 AND text IS NULL
UNION ALL
-- NULL ruleset id: dispatch config-error (engine.py validate_zipped)
SELECT doc_id, 'ruleset_dispatch', 'No rule-set for rsid=NULL'
FROM documents WHERE doc_id IS NULL
""",
    "bare_values": """
SELECT doc_id, 'none' AS key_path,
  CASE WHEN length(text) < 50
       THEN 'Value is not valid. Value''s byte_size is less than minimum allowed: 50'
       ELSE 'Value is not valid. Value''s byte_size is more than maximum allowed: 400' END AS message
FROM documents WHERE length(text) < 50 OR length(text) > 400
UNION ALL
-- bare NULL value ≡ undefined: generic invalid (values.py NULL probe)
SELECT doc_id, 'none', 'Value is not valid'
FROM documents WHERE text IS NULL
""",
    "rule_and_on_error": """
SELECT doc_id, 'rule_and' AS rule_id, 'lang/n_chars combo is invalid' AS message
FROM documents
WHERE lang NOT IN ('en','es','de','fr') OR n_chars < 60 OR n_chars > 400
   OR lang IS NULL OR n_chars IS NULL  -- missing member key fails the AND
UNION ALL
SELECT doc_id, 'rule:doc_id', 'Key ''doc_id'' is required'
FROM documents WHERE doc_id IS NULL
""",
    "deprecated_keys": """
SELECT doc_id, 'Key ''legacy'' is deprecated' AS message
FROM documents WHERE doc_id % 5 = 0 AND source IS NOT NULL
UNION ALL
SELECT doc_id, 'Key ''doc_id'' is required'
FROM documents WHERE doc_id IS NULL
""",
    "nested_childs": """
SELECT doc_id, 'k.nk' AS key_path, 'Key ''k.nk'' is required' AS message
FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id, 'k.tag', 'Key ''k.tag'' is required'
FROM documents WHERE lang IS NULL
UNION ALL
SELECT doc_id, 'k.nk', 'Key ''k.nk'' is required'
FROM documents WHERE doc_id % 7 <> 0 AND source IS NULL
UNION ALL
SELECT doc_id, 'k.nk', 'Key ''k.nk'' is required'
FROM documents WHERE doc_id IS NULL
UNION ALL
SELECT doc_id, 'doc_id', 'Key ''doc_id'' is required'
FROM documents WHERE doc_id IS NULL
""",
    "password": """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'Password length must be at least 9 characters'
       ELSE 'Password must contain at least one uppercase, one lowercase, one special symbol and one numeric symbol' END AS message
FROM documents WHERE doc_id % 3 IN (0, 1)
UNION ALL
SELECT doc_id, 'Key ''doc_id'' is required'
FROM documents WHERE doc_id IS NULL
""",
    "custom_validator": """
SELECT doc_id, 'too short for corpus' AS message
FROM documents WHERE length(text) < 50
UNION ALL
SELECT doc_id, 'Key ''text'' is required'
FROM documents WHERE text IS NULL
UNION ALL
SELECT doc_id, 'Key ''doc_id'' is required'
FROM documents WHERE doc_id IS NULL
""",
    "exact_dup_groups": """
SELECT md5(array_to_string(string_split(text,' ')[1:5],' ')) AS prefix_fp, count(*) AS n_docs
FROM documents WHERE text IS NOT NULL GROUP BY 1 HAVING count(*) > 1
""",
    "trailing_features": """
WITH live AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, event_type
  FROM events WHERE ts IS NOT NULL
)
SELECT event_id, user_id, ts_us,
  CAST(count(*) OVER w AS BIGINT) AS n_w,
  round(sum(value) OVER w, 6) AS sum_value_w,
  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END) OVER w, 0)
       AS BIGINT) AS n_flag_w
FROM live
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
UNION ALL
SELECT event_id, user_id, NULL, NULL, NULL, NULL
FROM events WHERE ts IS NULL
""",
    "tfidf_terms": r"""
WITH live AS (SELECT doc_id, text FROM documents
              WHERE text IS NOT NULL AND doc_id IS NOT NULL),
tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
  FROM live
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), dfq AS (
  SELECT term, count(*) AS df_docs FROM tf GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM live
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df_docs), 6) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, tf, df_docs, tfidf FROM ranked WHERE rn <= 5
""",
    "top_ngrams": """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id, list_transform(
    generate_series(1, greatest(len(tk)-1, 1)),
    i -> array_to_string(tk[i:i+1],' ')) AS grams
  FROM tok
), occ AS (
  SELECT g AS ngram, count(*) AS occurrences
  FROM sh, unnest(sh.grams) AS t(g) WHERE g <> '' GROUP BY 1
), nd AS (
  SELECT g AS ngram, count(*) AS n_docs
  FROM (SELECT doc_id, unnest(list_distinct(grams)) AS g FROM sh)
  WHERE g <> '' GROUP BY 1
)
SELECT ngram, n_docs, occurrences FROM occ JOIN nd USING (ngram)
ORDER BY occurrences DESC, ngram ASC LIMIT 20
""",
    "dup_clusters": """
WITH RECURSIVE pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 < 3
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
)
SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
""",
    "jaccard_pairs": f"""
WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(cast(len(list_intersect(a.sh, b.sh)) AS double)
        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 50 = 0
""",
    "ann_topk": f"""
WITH e AS (
  SELECT vec_id, cast(embedding AS double[]) AS emb FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
    round({_cos_sql('c.emb', 'p.emb')}, 6) AS cosine
  FROM e c, e p WHERE p.vec_id < 5 AND len(c.emb) = len(p.emb))
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 3
""",
    "embedding_near_dups": f"""
WITH v AS (
  SELECT vec_id, cast(embedding AS double[]) AS emb FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
  UNION ALL
  SELECT vec_id + 100000, cast(embedding AS double[]) AS emb FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round({_cos_sql('a.emb', 'b.emb')}, 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round({_cos_sql('a.emb', 'b.emb')}, 6) >= 0.999
""",
    "drift_events": "%s UNION ALL %s" % (_drift_col_sql("value"), _drift_col_sql("user_id")),

    "drift_event_types": """
WITH bf AS (
  SELECT event_type AS cat, count(*) AS c FROM events
  WHERE user_id % 2 = 0 AND event_type IS NOT NULL GROUP BY 1
), top AS (
  SELECT cat FROM (
    SELECT cat, row_number() OVER (ORDER BY c DESC, cat ASC) AS rk FROM bf)
  WHERE rk <= 3
), cf AS (
  SELECT event_type AS cat, count(*) AS c FROM events
  WHERE event_type IS NOT NULL GROUP BY 1
), pb0 AS (
  SELECT CASE WHEN cat IN (SELECT cat FROM top) THEN cat ELSE '__other__' END AS cat,
         sum(c) AS c
  FROM bf GROUP BY 1
), pb AS (
  SELECT cat, round(c / cast(sum(c) OVER () AS double), 9) AS pb FROM pb0
), pc0 AS (
  SELECT CASE WHEN cat IN (SELECT cat FROM top) THEN cat ELSE '__other__' END AS cat,
         sum(c) AS c
  FROM cf GROUP BY 1
), pc AS (
  SELECT cat, round(c / cast(sum(c) OVER () AS double), 9) AS pc FROM pc0
), j AS (
  SELECT coalesce(pb.pb, 0.0) AS pb, coalesce(pc.pc, 0.0) AS pc
  FROM pb FULL OUTER JOIN pc USING (cat)
)
SELECT 'event_type' AS column,
  cast(floor(sum((greatest(pc,1e-6) - greatest(pb,1e-6))
                 * ln(greatest(pc,1e-6) / greatest(pb,1e-6))) * 10000) AS bigint) AS psi_bp,
  cast(floor(0.5 * sum(abs(pb - pc)) * 10000) AS bigint) AS tvd_bp
FROM j
""",
}


ORACLE["sessions"] = """
WITH s AS (
  SELECT user_id, epoch_us(ts) AS tus,
    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
             > 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS ns
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), t AS (
  SELECT user_id, tus,
    cast(sum(ns) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING)
         AS bigint) AS session_ix
  FROM s
)
SELECT user_id, session_ix, cast(count(*) AS bigint) AS n_events,
  cast(min(tus) AS bigint) AS t_start_us, cast(max(tus) AS bigint) AS t_end_us
FROM t GROUP BY 1, 2
"""

ORACLE["asof_features"] = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us, value FROM events
), daily AS (
  SELECT user_id, cast(floor(t_us / 86400000000.0) AS bigint) AS d,
         count(*) AS n_prev, max(value) AS max_prev
  FROM e WHERE user_id IS NOT NULL GROUP BY 1, 2
), feat AS (
  SELECT user_id, (d + 1) * 86400000000 AS eff_us, n_prev, max_prev FROM daily
)
SELECT e.event_id, e.user_id, e.t_us,
       f.eff_us AS eff_us,
       cast(f.n_prev AS bigint) AS n_prev,
       f.max_prev AS max_prev
FROM e ASOF LEFT JOIN feat f
  ON e.user_id = f.user_id AND e.t_us >= f.eff_us
WHERE e.t_us IS NOT NULL
UNION ALL
-- NULL-ts left rows pass through unmatched (engine contract); DuckDB's
-- ASOF would otherwise match them against the latest snapshot
SELECT event_id, user_id, t_us, NULL, NULL, NULL FROM e WHERE t_us IS NULL
"""

def _driftq_slice_sql(label: str, pred: str) -> str:
    """DuckDB twin of drift_quantile(exact=True) on l_quantity for one
    current-slice predicate: decile cuts from the FULL table (baseline),
    bucket = #cuts strictly below the value, identical PSI/KS ops."""
    probs = ",".join(repr(k / 10) for k in range(1, 10))
    hist = lambda pred_: f"""
      SELECT bucket, cnt / cast(sum(cnt) OVER () AS double) AS p FROM (
        SELECT len(list_filter(cu.qs, x -> cast(l_quantity AS double) > x)) AS bucket,
               count(*) AS cnt
        FROM lineitem, cuts cu WHERE ({pred_}) AND l_quantity IS NOT NULL GROUP BY 1)"""
    return f"""
SELECT '{label}' AS slice, 'l_quantity' AS column,
  cast(floor(sum(psi_term) * 10000) AS bigint) AS psi_bp,
  cast(floor(max(ks_gap) * 10000) AS bigint) AS ks_bp
FROM (
  SELECT
    (greatest(pc,1e-6) - greatest(pb,1e-6)) * ln(greatest(pc,1e-6) / greatest(pb,1e-6)) AS psi_term,
    abs(sum(pb) OVER (ORDER BY bucket) - sum(pc) OVER (ORDER BY bucket)) AS ks_gap
  FROM (
    SELECT g.bucket, coalesce(b.p, 0.0) AS pb, coalesce(c.p, 0.0) AS pc
    FROM (SELECT unnest(generate_series(0, 9)) AS bucket) g
    LEFT JOIN ({hist("true")}) b USING (bucket)
    LEFT JOIN ({hist(pred)}) c USING (bucket)))"""


ORACLE["drift_quantile"] = (
    "WITH cuts AS (SELECT quantile_cont(cast(l_quantity AS double), [%s]) AS qs "
    "FROM lineitem WHERE l_quantity IS NOT NULL) %s UNION ALL %s"
    % (
        ",".join(repr(k / 10) for k in range(1, 10)),
        _driftq_slice_sql("drifted", "l_quantity <= 25"),
        _driftq_slice_sql("stable", "l_orderkey % 2 = 0"),
    )
)

ORACLE["contamination"] = f"""
WITH d AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
b AS (SELECT doc_id AS bench_id, sh FROM d WHERE doc_id % 97 = 0)
SELECT d.doc_id, b.bench_id,
       cast(len(list_intersect(d.sh, b.sh)) AS bigint) AS n_shared
FROM d, b
WHERE d.doc_id != b.bench_id AND len(list_intersect(d.sh, b.sh)) >= 2
"""

ORACLE["pii_redaction"] = """
WITH t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0
         THEN text || ' mail bob' || cast(doc_id % 5 AS varchar)
              || '@example.com see https://ex.io/a' || cast(doc_id AS varchar)
              || ' call +4915512345678'
         ELSE text END AS t
  FROM documents
), tok AS (
  SELECT doc_id, t, list_filter(string_split(t, ' '), x -> x <> '') AS tk
  FROM t
), g AS (
  SELECT doc_id, t, tk,
    list_transform(
      generate_series(1, greatest(len(tk) - 1, 1)),
      i -> array_to_string(tk[i:i+1], ' ')) AS bg
  FROM tok
)
SELECT doc_id,
  cast(len(regexp_extract_all(t, 'https?://[^\\s]+')) AS bigint) AS n_url,
  cast(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS bigint) AS n_email,
  cast(len(regexp_extract_all(t, '\\+[0-9]{7,15}')) AS bigint) AS n_phone,
  regexp_replace(
    regexp_replace(
      regexp_replace(t, 'https?://[^\\s]+', '<URL>', 'g'),
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\\+[0-9]{7,15}', '<PHONE>', 'g') AS redacted,
  CASE WHEN t IS NULL THEN NULL
       WHEN len(tk) = 0 THEN 0
       ELSE cast(floor((1.0 - len(list_distinct(bg)) / cast(len(bg) AS double))
                       * 10000) AS bigint) END AS rep_bp
FROM g
"""

ORACLE["chunked_docs"] = """
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents WHERE text IS NOT NULL
), nz AS (
  SELECT * FROM d WHERE len(tk) > 0
), ix AS (
  SELECT doc_id, tk,
         unnest(generate_series(0,
           greatest(cast(ceil((len(tk) - 64) / 48.0) AS bigint), 0))) AS chunk_ix
  FROM nz
)
SELECT doc_id, chunk_ix,
  cast(len(tk[chunk_ix * 48 + 1 : chunk_ix * 48 + 64]) AS bigint) AS n_tokens,
  array_to_string(tk[chunk_ix * 48 + 1 : chunk_ix * 48 + 64], ' ') AS chunk
FROM ix
"""

ORACLE["quality_topk"] = """
WITH tok AS (
  SELECT lang, doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL
), q AS (
  SELECT lang, doc_id,
    CASE WHEN len(tk) > 0
         THEN cast(floor((len(list_distinct(tk)) / cast(len(tk) AS double))
                         * 10000) AS bigint) END AS uniq_bp
  FROM tok
)
SELECT lang, doc_id, uniq_bp, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY lang ORDER BY uniq_bp DESC, doc_id) AS rank
  FROM q)
WHERE rank <= 10
"""

ORACLE["sampled_docs"] = """
SELECT doc_id, lang FROM documents
WHERE substr(md5('v1' || cast(doc_id AS varchar)), 1, 8) < '20000000'
"""

ORACLE["stratified_sample"] = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substr(md5('v1' || cast(doc_id AS varchar)), 1, 8), doc_id
         ) AS rn
  FROM documents WHERE doc_id IS NOT NULL
) WHERE rn <= 40
"""

ORACLE["file_health"] = """
SELECT 'documents' AS tbl, cast(1 AS bigint) AS n_files,
       cast(count(*) AS bigint) AS total_rows FROM documents
UNION ALL
SELECT 'lineitem', 1, count(*) FROM lineitem
UNION ALL
SELECT 'events', 1, count(*) FROM events
"""

ORACLE["shard_plan"] = """
WITH h AS (
  SELECT doc_id,
    substr(md5('shuffle-v1:e1' || cast(doc_id AS varchar)), 1, 8) AS hx
  FROM documents WHERE doc_id IS NOT NULL
), v AS (
  SELECT doc_id, hx,
    cast(list_reduce(list_prepend('0', string_split(hx, '')),
      (acc, ch) -> cast(cast(acc AS bigint) * 16
                        + strpos('0123456789abcdef', ch) - 1 AS varchar))
      AS bigint) AS hv
  FROM h
)
SELECT doc_id, cast(hv % 8 AS int) AS shard,
  cast(row_number() OVER (PARTITION BY hv % 8 ORDER BY hx, doc_id)
       AS int) AS pos
FROM v
"""

ORACLE["packed_sequences"] = """
WITH d AS (
  SELECT lang AS shard, doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n
  FROM documents WHERE doc_id IS NOT NULL AND lang IS NOT NULL
), s AS (
  SELECT shard,
         cast(floor(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
              AS bigint) AS seq_ix,
         n
  FROM d
)
SELECT shard, seq_ix, cast(count(*) AS bigint) AS n_docs,
       cast(sum(n) AS bigint) AS seq_tokens
FROM s GROUP BY 1, 2
"""

ORACLE["lm_scores"] = """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), pr AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM tok, unnest(generate_series(1, len(tk) - 1)) AS g(i)
  WHERE len(tk) >= 2
), cb AS (
  SELECT w1, w2, count(*) AS cb FROM pr GROUP BY 1, 2
), cp AS (
  SELECT w1, count(*) AS cp FROM pr GROUP BY 1
), vv AS (
  SELECT count(DISTINCT w2) AS v FROM pr
), s AS (
  SELECT pr.doc_id,
    cast(floor(-ln((cb.cb + 0.1) / (cp.cp + 0.1 * vv.v)) * 1000) AS bigint) AS m
  FROM pr JOIN cb USING (w1, w2) JOIN cp USING (w1) CROSS JOIN vv
)
SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams,
       cast(floor(sum(m) / cast(count(*) AS double)) AS bigint) AS nll_milli
FROM s GROUP BY doc_id
"""

ORACLE["budget_selection"] = """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL
), q AS (
  SELECT doc_id, cast(len(tk) AS bigint) AS n_tokens,
    cast(floor((len(list_distinct(tk)) / cast(len(tk) AS double)) * 10000)
         AS bigint) AS uniq_bp
  FROM tok WHERE len(tk) > 0
), c AS (
  SELECT doc_id, uniq_bp, n_tokens,
    cast(sum(n_tokens) OVER (ORDER BY uniq_bp DESC, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
         AS cum_tokens
  FROM q
)
SELECT doc_id, uniq_bp, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 10000
"""

ORACLE["leakage_split"] = """
WITH RECURSIVE pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 < 3
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
), clusters AS (
  SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
)
SELECT d.doc_id,
  coalesce(c.cluster_id, d.doc_id) AS cluster,
  CASE WHEN substr(md5('split-v1'
            || cast(coalesce(c.cluster_id, d.doc_id) AS varchar)), 1, 8)
            < '40000000'
       THEN 'holdout' ELSE 'train' END AS split
FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id
WHERE d.doc_id IS NOT NULL
"""

ORACLE["multiway_split"] = """
WITH RECURSIVE pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 < 3
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
), clusters AS (
  SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
), hashed AS (
  SELECT d.doc_id,
    coalesce(c.cluster_id, d.doc_id) AS cluster,
    substr(md5('split-v1'
           || cast(coalesce(c.cluster_id, d.doc_id) AS varchar)), 1, 8) AS hx
  FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id
  WHERE d.doc_id IS NOT NULL
)
SELECT doc_id, cluster,
  CASE WHEN hx < '20000000' THEN 'test'
       WHEN hx < '40000000' THEN 'val'
       ELSE 'train' END AS split
FROM hashed
"""

def _incl_oracle(label: str, child: str, c: str, parent: str, p: str) -> str:
    return f"""
SELECT '{label}' AS pair,
  cast(nd AS BIGINT) AS n_child_distinct,
  cast(missing AS BIGINT) AS n_missing,
  CASE WHEN nd > 0 THEN cast((nd - missing) * 10000 // nd AS BIGINT) END
    AS containment_bp,
  coalesce(nd > 0 AND missing = 0, false) AS fk_candidate
FROM (
  SELECT count(*) AS nd,
         coalesce(sum(CASE WHEN pv.v IS NULL THEN 1 ELSE 0 END), 0) AS missing
  FROM (SELECT DISTINCT {c} AS v FROM {child} WHERE {c} IS NOT NULL) cv
  LEFT JOIN (SELECT DISTINCT {p} AS v FROM {parent} WHERE {p} IS NOT NULL) pv
    ON cv.v = pv.v
)"""


ORACLE["inclusion_deps"] = " UNION ALL ".join([
    _incl_oracle("lineitem.l_suppkey->supplier.s_suppkey",
                 "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    _incl_oracle("supplier.s_suppkey->lineitem.l_suppkey",
                 "supplier", "s_suppkey", "lineitem", "l_suppkey"),
    _incl_oracle("nation.n_regionkey->region.r_regionkey",
                 "nation", "n_regionkey", "region", "r_regionkey"),
    _incl_oracle("region.r_regionkey->nation.n_regionkey",
                 "region", "r_regionkey", "nation", "n_regionkey"),
    _incl_oracle("events.user_id->supplier.s_suppkey",
                 "events", "user_id", "supplier", "s_suppkey"),
    _incl_oracle("nation.n_nationkey->region.r_regionkey",
                 "nation", "n_nationkey", "region", "r_regionkey"),
])

def _corr_oracle(table: str, cx: str, cy: str) -> str:
    both = f"{cx} IS NOT NULL AND {cy} IS NOT NULL"
    return f"""
SELECT '{cx}' AS col_x, '{cy}' AS col_y,
  cast(n AS BIGINT) AS n_pairs,
  CASE WHEN n >= 2 AND (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
       THEN cast(round((n*sxy - sx*sy)
                 / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) * 10000) AS BIGINT)
  END AS corr_bp
FROM (
  SELECT
    cast(count(CASE WHEN {both} THEN 1 END) AS double) AS n,
    sum(CASE WHEN {both} THEN cast({cx} AS double) END) AS sx,
    sum(CASE WHEN {both} THEN cast({cy} AS double) END) AS sy,
    sum(CASE WHEN {both} THEN cast({cx} AS double) * cast({cx} AS double) END) AS sxx,
    sum(CASE WHEN {both} THEN cast({cy} AS double) * cast({cy} AS double) END) AS syy,
    sum(CASE WHEN {both} THEN cast({cx} AS double) * cast({cy} AS double) END) AS sxy
  FROM {table}
)"""


ORACLE["correlation_matrix"] = " UNION ALL ".join([
    _corr_oracle("lineitem", "l_quantity", "l_extendedprice"),
    _corr_oracle("lineitem", "l_quantity", "l_discount"),
    _corr_oracle("lineitem", "l_extendedprice", "l_discount"),
])

ORACLE["weighted_sample"] = """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
    ln((cast('0x' || substr(md5('ws-v1' || cast(doc_id AS varchar)), 1, 13)
         AS BIGINT) + 0.5) / 4503599627370496.0)
      / cast(n_chars AS double) AS k
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
) ORDER BY k DESC, doc_id LIMIT 100
"""

ORACLE["dedup_corpus"] = """
SELECT doc_id, lang, n_chars FROM documents
WHERE text IS NULL
   OR doc_id IN (
  SELECT min(doc_id) FROM documents WHERE text IS NOT NULL
  GROUP BY md5(array_to_string(string_split(text, ' ')[1:5], ' '))
)
"""

# Cluster-based near-dedup attrition: same chain-pair clusters as
# dup_clusters (recursive CTE), keep min id per cluster, unclustered
# docs survive; survival rolled up per source.
ORACLE["near_dedup_attrition"] = """
WITH RECURSIVE pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 < 3
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
), cl AS (
  SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
), reps AS (
  SELECT cluster_id, min(id) AS rep FROM cl GROUP BY cluster_id
), m AS (
  SELECT d.source, d.n_chars,
         (c.id IS NULL OR d.doc_id = r.rep) AS kept
  FROM documents d
  LEFT JOIN cl c ON d.doc_id = c.id
  LEFT JOIN reps r ON c.cluster_id = r.cluster_id
)
SELECT source,
       cast(count(*) AS bigint) AS docs_in,
       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint) AS docs_kept,
       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS double) / count(*)
         AS kept_ratio,
       cast(sum(n_chars) AS bigint) AS w_in,
       cast(coalesce(sum(CASE WHEN kept THEN n_chars END), 0) AS bigint)
         AS w_kept
FROM m GROUP BY source
"""

# Per-source dedup attrition under the dedup_corpus keep rule: keeper =
# min doc_id per prefix fingerprint (global across sources), NULL-text
# rows pass through; survival attributed to the KEEPER's source.
ORACLE["dedup_attrition"] = """
WITH k AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN text IS NOT NULL
              THEN md5(array_to_string(string_split(text, ' ')[1:5], ' '))
         END AS fp
  FROM documents
), keep AS (
  SELECT min(doc_id) AS doc_id FROM k
  WHERE fp IS NOT NULL AND doc_id IS NOT NULL GROUP BY fp
), kept AS (
  SELECT source, count(*) AS docs_kept, sum(n_chars) AS w_kept
  FROM k
  WHERE fp IS NULL OR doc_id IN (SELECT doc_id FROM keep)
  GROUP BY source
), tot AS (
  SELECT source, count(*) AS docs_in, sum(n_chars) AS w_in
  FROM k GROUP BY source
)
SELECT t.source,
       cast(t.docs_in AS bigint) AS docs_in,
       cast(coalesce(kk.docs_kept, 0) AS bigint) AS docs_kept,
       cast(coalesce(kk.docs_kept, 0) AS double) / t.docs_in AS kept_ratio,
       cast(t.w_in AS bigint) AS w_in,
       cast(coalesce(kk.w_kept, 0) AS bigint) AS w_kept
FROM tot t LEFT JOIN kept kk ON t.source IS NOT DISTINCT FROM kk.source
"""

ORACLE["profile_quantiles"] = """
SELECT 'l_quantity' AS "column", cast(count(*) AS bigint) AS n_rows,
       quantile_cont(cast(l_quantity AS double), 0.25) AS q25,
       quantile_cont(cast(l_quantity AS double), 0.5)  AS q50,
       quantile_cont(cast(l_quantity AS double), 0.75) AS q75
FROM lineitem
UNION ALL
SELECT 'l_linenumber', cast(count(*) AS bigint),
       quantile_cont(cast(l_linenumber AS double), 0.25),
       quantile_cont(cast(l_linenumber AS double), 0.5),
       quantile_cont(cast(l_linenumber AS double), 0.75)
FROM lineitem
UNION ALL
SELECT 'l_orderkey', cast(count(*) AS bigint),
       quantile_cont(cast(l_orderkey AS double), 0.25),
       quantile_cont(cast(l_orderkey AS double), 0.5),
       quantile_cont(cast(l_orderkey AS double), 0.75)
FROM lineitem
"""

def _bpe_oracle_sql() -> str:
    """Recursive-CTE twin of greedy longest-match BPE counting: per word,
    advance by the longest literal-vocab piece matching at the cursor
    (else one character), counting steps.  The vocabulary literal is
    generated from the SAME pinned corpus the Spark query learns from."""
    vals = ", ".join(
        "('%s', %d)" % (p.replace("'", "''"), len(p)) for p in _bpe_fixed_vocab()
    )
    return f"""
WITH RECURSIVE vocab(piece, plen) AS (
  SELECT * FROM (VALUES {vals}) v(piece, plen)
), w0 AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
), words AS (
  SELECT doc_id, w FROM w0 WHERE w <> ''
), steps AS (
  SELECT doc_id, w, 1 AS pos, 0 AS n FROM words
  UNION ALL
  SELECT doc_id, w,
    pos + coalesce((SELECT max(plen) FROM vocab v
                    WHERE substr(w, pos, v.plen) = v.piece), 1),
    n + 1
  FROM steps WHERE pos <= len(w)
), sums AS (
  SELECT doc_id, cast(sum(n) AS int) AS n_tokens_bpe
  FROM steps WHERE pos = len(w) + 1 GROUP BY 1
)
SELECT d.doc_id, coalesce(s.n_tokens_bpe, 0) AS n_tokens_bpe
FROM documents d LEFT JOIN sums s ON d.doc_id IS NOT DISTINCT FROM s.doc_id
WHERE d.text IS NOT NULL
"""


ORACLE["token_counts_bpe"] = _bpe_oracle_sql()

ORACLE["minhash_pairs_md5"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), sh AS (
  SELECT doc_id, list_transform(
    generate_series(1, greatest(len(tk) - 2, 1)),
    i -> array_to_string(tk[i:i+2], ' ')) AS sh
  FROM toks
), sig AS (
  -- permutation i = min over shingles of the 16-hex md5 prefix; fixed-width
  -- lowercase hex makes string-min == integer-min (same trick both engines)
  SELECT doc_id, list_transform(
    generate_series(0, 15),
    i -> list_min(list_transform(sh,
           s -> substr(md5(cast(i AS varchar) || ':' || s), 1, 16)))) AS sig
  FROM sh
), banded AS (
  SELECT doc_id, band,
    md5(array_to_string(sig[band*2+1 : band*2+2], '|')) AS h
  FROM sig, generate_series(0, 7) t(band)
), capped AS (
  SELECT band, h, doc_id,
    row_number() OVER (PARTITION BY band, h ORDER BY doc_id) AS rn,
    count(*) OVER (PARTITION BY band, h) AS gsz
  FROM banded
), kept AS (
  SELECT * FROM capped WHERE gsz >= 2 AND rn <= 64
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.gsz > 64 AS tr
  FROM kept a JOIN kept b ON a.band = b.band AND a.h = b.h
                         AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, cast(count(*) AS bigint) AS n_bands, max(tr) AS truncated
FROM p GROUP BY 1, 2
"""

# Full SimHash pipeline with the md5 hash family: DuckDB rebuilds the
# 64-bit signature bit-for-bit (two 32-bit halves from the md5 hex prefix,
# per-bit ±1 majority vote, HUGEINT assembly with an explicit two's-
# complement wrap for bit 63), then replays the 16-bit-chunk bucketing,
# the 64-member bucket cap, and the exact bit_count(xor) Hamming distance.
ORACLE["simhash_pairs_md5"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), sh AS (
  SELECT doc_id, list_transform(
    generate_series(1, greatest(len(tk) - 1, 1)),
    i -> array_to_string(tk[i:i+1], ' ')) AS sh
  FROM toks
), hl AS (
  SELECT doc_id,
    cast('0x' || substr(md5(s), 1, 8) AS BIGINT) AS hi,
    cast('0x' || substr(md5(s), 9, 8) AS BIGINT) AS lo
  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
), votes AS (
  SELECT doc_id, b,
    sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b)
                        ELSE (hi >> (b - 32)) END) & 1 = 1
        THEN 1 ELSE -1 END) AS cnt
  FROM hl, generate_series(0, 63) t(b)
  GROUP BY 1, 2
), sig AS (
  SELECT doc_id,
    cast(CASE WHEN u >= 9223372036854775808
              THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS sig
  FROM (
    SELECT doc_id,
      sum(CASE WHEN cnt > 0 THEN (cast(1 AS HUGEINT) << b)
               ELSE cast(0 AS HUGEINT) END) AS u
    FROM votes GROUP BY 1)
), chunks AS (
  SELECT doc_id, sig, c AS chunk, (sig >> (16 * c)) & 65535 AS v
  FROM sig, generate_series(0, 3) t(c)
), capped AS (
  SELECT chunk, v, doc_id, sig,
    row_number() OVER (PARTITION BY chunk, v ORDER BY doc_id) AS rn,
    count(*) OVER (PARTITION BY chunk, v) AS gsz
  FROM chunks
), kept AS (
  SELECT * FROM capped WHERE gsz >= 2 AND rn <= 64
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    bit_count(xor(a.sig, b.sig)) AS hamming,
    (a.gsz > 64 OR b.gsz > 64) AS tr
  FROM kept a JOIN kept b ON a.chunk = b.chunk AND a.v = b.v
                         AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, cast(min(hamming) AS integer) AS hamming,
  max(tr) AS truncated
FROM p GROUP BY 1, 2
"""

ORACLE["incremental_minhash"] = """
WITH base AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 1 THEN 'u0' WHEN 2 THEN 'u1' ELSE 'u2' END AS inc,
    string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), sh AS (
  SELECT doc_id, inc, list_transform(
    generate_series(1, greatest(len(tk) - 2, 1)),
    i -> array_to_string(tk[i:i+2], ' ')) AS sh
  FROM base
), sig AS (
  SELECT doc_id, inc, list_transform(
    generate_series(0, 15),
    i -> list_min(list_transform(sh,
           s -> substr(md5(cast(i AS varchar) || ':' || s), 1, 16)))) AS sig
  FROM sh
), banded AS (
  SELECT doc_id, inc, band,
    md5(array_to_string(sig[band*2+1 : band*2+2], '|')) AS h
  FROM sig, generate_series(0, 7) t(band)
), capped AS (
  -- each SIDE capped independently (new = u2; history = u0 ∪ u1 as one
  -- window), ordered by id — mirrors cap_per_group(..., min_size=1)
  SELECT inc, band, h, doc_id,
    row_number() OVER (PARTITION BY (inc = 'u2'), band, h
                       ORDER BY doc_id) AS rn,
    count(*) OVER (PARTITION BY (inc = 'u2'), band, h) AS gsz
  FROM banded
), kept AS (
  SELECT * FROM capped WHERE rn <= 64
), p AS (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id, o.inc AS old_increment,
         (n.gsz > 64 OR o.gsz > 64) AS tr
  FROM kept n JOIN kept o ON n.band = o.band AND n.h = o.h
  WHERE n.inc = 'u2' AND o.inc <> 'u2'
), agg AS (
  SELECT new_id, old_id, old_increment,
         cast(count(*) AS bigint) AS n_bands, max(tr) AS truncated
  FROM p GROUP BY 1, 2, 3
)
SELECT a.new_id, a.old_id, a.old_increment, a.n_bands,
  cast(len(list_filter(generate_series(1, 16),
                       i -> sn.sig[i] = so.sig[i])) * 10000 // 16
       AS bigint) AS jacc_bp,
  a.truncated
FROM agg a
JOIN sig sn ON sn.doc_id = a.new_id AND sn.inc = 'u2'
JOIN sig so ON so.doc_id = a.old_id AND so.inc = a.old_increment
"""

ORACLE["ivf_topk"] = ORACLE["ann_topk"]  # full-probe IVF == brute force

# the bloom-gated path is exact, so it shares the plain referential oracle
ORACLE["referential_bloom"] = ORACLE["referential_lineitem_supplier"]

ORACLE["zorder_events"] = _zorder_sql(bits=8)

ORACLE["uniqueness_composite"] = """
SELECT user_id, event_type, cast(count(*) AS bigint) AS dup_count
FROM events
WHERE user_id IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1, 2 HAVING count(*) > 1
"""

ORACLE["iqr_outliers"] = """
WITH q AS (
  SELECT quantile_cont(cast(value AS double), 0.25) AS q1,
         quantile_cont(cast(value AS double), 0.75) AS q3
  FROM events WHERE value IS NOT NULL
)
SELECT event_id, value FROM events, q
WHERE value IS NOT NULL
  AND (cast(value AS double) < q.q1 - (q.q3 - q.q1) * 1.5
       OR cast(value AS double) > q.q3 + (q.q3 - q.q1) * 1.5)
"""

ORACLE["column_fingerprints"] = (
    # Split the HUGEINT sum into two int64s (divmod 2^62) so no value
    # past int64 crosses the gate — >int64 numerics render differently
    # under different canonicalizers (full digits vs "%.6g").
    'SELECT "column", n_rows, n_nulls,\n'
    "  cast(fp // 4611686018427387904 AS bigint) AS fp_hi,\n"
    "  cast(fp % 4611686018427387904 AS bigint) AS fp_lo\n"
    "FROM (\n"
    + "\nUNION ALL\n".join(
        """
SELECT '{c}' AS column, count(*) AS n_rows,
  count(*) - count({c}) AS n_nulls,
  coalesce(sum(cast(cast('0x' || substr(md5(cast({c} AS varchar)), 1, 15)
                     AS bigint) AS hugeint)), 0) AS fp
FROM documents
""".format(c=c)
        for c in ("doc_id", "text", "lang", "source", "n_chars")
    )
    + "\n)"
)

ORACLE["mad_outliers"] = """
WITH m AS (
  SELECT quantile_cont(cast(value AS double), 0.5) AS med
  FROM events WHERE value IS NOT NULL
), s AS (
  SELECT any_value(m.med) AS med,
         quantile_cont(abs(cast(value AS double) - m.med), 0.5) AS mad
  FROM events, m WHERE value IS NOT NULL
)
SELECT event_id, value FROM events, s
WHERE value IS NOT NULL
  AND (CASE WHEN s.mad = 0 THEN cast(value AS double) <> s.med
       ELSE abs(cast(value AS double) - s.med) * 0.6745 > s.mad * 3.5 END)
"""

ORACLE["quantized_topk"] = f"""
WITH s AS (
  SELECT vec_id, cast(embedding AS double[]) AS e,
         list_aggregate(list_transform(cast(embedding AS double[]),
                                       x -> abs(x)), 'max') AS amax
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), dq AS (
  SELECT vec_id,
    list_transform(e, x ->
      round(x / (CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END))
      * (CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END)) AS emb
  FROM s
), scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
    round({_cos_sql('c.emb', 'p.emb')}, 6) AS cosine
  FROM dq c, dq p WHERE p.vec_id < 5 AND len(c.emb) = len(p.emb))
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 3
"""

ORACLE["domain_caps"] = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
    row_number() OVER (PARTITION BY source
                       ORDER BY n_chars DESC NULLS LAST, doc_id ASC) AS rn
  FROM documents WHERE doc_id IS NOT NULL)
WHERE rn <= 20
"""

ORACLE["incremental_dedup"] = """
WITH fp AS (
  SELECT doc_id, text,
    CASE WHEN text IS NOT NULL THEN
      md5(coalesce(array_to_string(
        list_filter(string_split(text,' '), x -> x <> '')[1:5], ' '), ''))
    END AS fp
  FROM documents
), idx AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0 AND fp IS NOT NULL
), batch AS (
  SELECT * FROM fp WHERE doc_id % 2 = 1
), keep AS (
  SELECT fp, min(doc_id) AS keep_id FROM batch WHERE fp IS NOT NULL GROUP BY fp
)
SELECT b.doc_id FROM batch b JOIN keep k ON b.doc_id = k.keep_id
WHERE b.fp NOT IN (SELECT fp FROM idx)
UNION ALL
SELECT doc_id FROM batch WHERE fp IS NULL
"""

ORACLE["normalized_docs"] = r"""
SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL ELSE
    regexp_replace(regexp_replace(regexp_replace(nfc_normalize(text),
      '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'),
      '[ \t\r\n\x0B\x0C]+', ' ', 'g'),
      '^ | $', '', 'g')
  END AS norm_text
FROM documents
"""

ORACLE["corpus_diff"] = """
WITH o AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN NULL
         ELSE md5(coalesce(array_to_string(list_transform(
                list_filter(string_split(text,' '), x -> x <> ''),
                t -> lower(t)), ' '), '')) END AS fp
  FROM documents WHERE doc_id IS NOT NULL AND doc_id % 4 <> 0
), n AS (
  SELECT doc_id,
    CASE WHEN et IS NULL THEN NULL
         ELSE md5(coalesce(array_to_string(list_transform(
                list_filter(string_split(et,' '), x -> x <> ''),
                t -> lower(t)), ' '), '')) END AS fp
  FROM (
    SELECT doc_id,
      CASE WHEN text IS NOT NULL AND doc_id % 5 = 0
           THEN text || ' v2' ELSE text END AS et
    FROM documents WHERE doc_id IS NOT NULL AND doc_id % 4 <> 1
  )
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
       ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""

ORACLE["mixture_rebalance"] = """
WITH c AS (
  SELECT source, count(*) AS c FROM documents
  WHERE doc_id IS NOT NULL GROUP BY source
), q AS (
  -- sqrt(c)*sqrt(cm), NOT sqrt(c*cm): the product of two int64 counts
  -- overflows at ~3e9-row groups; clamped like the engine's pow path
  -- (floor of a 1-ulp-low product must never drop rows from min groups)
  SELECT source,
    least(c, greatest(
      CAST(floor(sqrt(c) * sqrt((SELECT min(c) FROM c))) AS BIGINT),
      CASE WHEN c = (SELECT min(c) FROM c) THEN c END)) AS quota
  FROM c
), r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substr(md5('mix-v1' || cast(doc_id AS varchar)), 1, 8), doc_id
         ) AS rn
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT r.doc_id, r.source FROM r
JOIN q ON r.source IS NOT DISTINCT FROM q.source
WHERE r.rn <= q.quota
"""

ORACLE["corpus_report"] = """
WITH p AS (
  SELECT text,
    CASE WHEN text IS NULL THEN NULL
         ELSE md5(coalesce(array_to_string(list_transform(
                list_filter(string_split(text,' '), x -> x <> ''),
                t -> lower(t)), ' '), '')) END AS fp,
    CASE WHEN text IS NOT NULL
         THEN len(list_filter(string_split(text,' '), x -> x <> '')) END AS ntok,
    length(text) AS nch,
    (len(regexp_extract_all(text, 'https?://[^\\s]+'))
     + len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
     + len(regexp_extract_all(text, '\\+[0-9]{7,15}'))) > 0 AS pii,
    CASE WHEN text IS NULL THEN NULL
         WHEN len(list_filter(string_split(text,' '), x -> x <> '')) = 0 THEN 0
         ELSE cast(floor((1.0 - len(list_distinct(bg)) / cast(len(bg) AS double))
                         * 10000) AS bigint) END AS rep
  FROM (
    SELECT text,
      list_transform(
        generate_series(1, greatest(len(tk) - 1, 1)),
        i -> array_to_string(tk[i:i+1], ' ')) AS bg
    FROM (SELECT text,
            list_filter(string_split(text,' '), x -> x <> '') AS tk
          FROM documents))
), a AS (
  SELECT count(*) AS docs_total,
    count(CASE WHEN text IS NULL THEN 1 END) AS docs_null_text,
    count(CASE WHEN text = '' THEN 1 END) AS docs_empty_text,
    count(DISTINCT fp) AS docs_distinct_fingerprint,
    coalesce(sum(ntok), 0) AS tokens_total,
    coalesce(sum(nch), 0) AS chars_total,
    count(CASE WHEN pii THEN 1 END) AS docs_with_pii,
    coalesce(sum(rep), 0) AS rep_bp_total
  FROM p
)
SELECT 'docs_total' AS metric, cast(docs_total AS bigint) AS value FROM a
UNION ALL SELECT 'docs_null_text', cast(docs_null_text AS bigint) FROM a
UNION ALL SELECT 'docs_empty_text', cast(docs_empty_text AS bigint) FROM a
UNION ALL SELECT 'docs_distinct_fingerprint', cast(docs_distinct_fingerprint AS bigint) FROM a
UNION ALL SELECT 'tokens_total', cast(tokens_total AS bigint) FROM a
UNION ALL SELECT 'chars_total', cast(chars_total AS bigint) FROM a
UNION ALL SELECT 'docs_with_pii', cast(docs_with_pii AS bigint) FROM a
UNION ALL SELECT 'rep_bp_total', cast(rep_bp_total AS bigint) FROM a
"""

ORACLE["boilerplate_removal"] = """
WITH d AS (SELECT doc_id, text FROM documents),
tot AS (SELECT count(*) AS n FROM d WHERE text IS NOT NULL),
freq AS (
  SELECT seg FROM (
    SELECT unnest(list_distinct(string_split(text, ' '))) AS seg
    FROM d WHERE text IS NOT NULL) u
  GROUP BY seg
  HAVING count(*) >= ceil(0.5 * (SELECT n FROM tot))
), fl AS (SELECT coalesce(list(seg), []) AS segs FROM freq)
SELECT d.doc_id,
  CASE WHEN d.text IS NOT NULL THEN
    coalesce(array_to_string(
      list_filter(string_split(d.text, ' '), t -> NOT list_contains(fl.segs, t)),
      ' '), '')
  END AS clean_text,
  cast(len(string_split(d.text, ' ')) -
       len(list_filter(string_split(d.text, ' '),
                       t -> NOT list_contains(fl.segs, t))) AS int) AS n_removed
FROM d, fl
"""

ORACLE["centroid_outliers"] = f"""
WITH e AS (
  SELECT vec_id, label, cast(embedding AS double[]) AS emb
  FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), pos AS (
  SELECT label, ord, round(avg(emb[ord]), 6) AS m
  FROM e, range(1, 65) t(ord)
  GROUP BY label, ord
), cent AS (
  SELECT label, list(m ORDER BY ord) AS centroid FROM pos GROUP BY label
), scored AS (
  SELECT e.label AS grp, e.vec_id AS id,
    round({_cos_sql('e.emb', 'c.centroid')}, 6) AS cosine
  FROM e JOIN cent c USING (label)
  WHERE e.vec_id IS NOT NULL AND len(e.emb) = 64
)
SELECT grp AS "group", id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY cosine ASC, id ASC) AS rank
  FROM scored) r
WHERE rank <= 5
"""


# closed-form expected canonicals (independent of the regex pipeline):
# %4=0  HTTP://WWW.SiteK.COM:80/a/b/?utm_source=x&z=1&a=2#frag
#       → http://siteK.com/a/b?a=2&z=1
# %4=1  https://sub.siteK.com:443/pI/        → https://sub.siteK.com/pI
# %4=2  https://siteK.com/path?b=2&a=1&fbclid=abc → ...?a=1&b=2
# %4=3  not a URL → NULLs, is_web false; NULL doc_id → NULL url → all NULL
# composed from the member oracles so the suite report can never drift
# from the individual checks
ORACLE["check_suite"] = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS check_id, CAST(count(*) AS BIGINT) AS n_violations,
       CASE WHEN count(*) = 0 THEN 'pass' ELSE 'fail' END AS status
FROM ({ORACLE[src]})"""
    for name, src in [
        ("doc_rules", "validate_documents"),
        ("events_user_unique", "uniqueness_events_user"),
        ("lineitem_supplier_ref", "referential_lineitem_supplier"),
        ("span_structure", "span_structure"),
    ]
)

ORACLE["winsorize_quantity"] = """
WITH q AS (
  SELECT quantile_cont(CAST(l_quantity AS double), 0.05) AS lo,
         quantile_cont(CAST(l_quantity AS double), 0.95) AS hi
  FROM lineitem WHERE l_quantity IS NOT NULL
)
SELECT l_orderkey, l_linenumber, l_quantity,
       CASE WHEN l_quantity IS NULL THEN NULL
            ELSE round(least(greatest(CAST(l_quantity AS double), q.lo), q.hi), 6)
       END AS clipped
FROM lineitem, q
"""

ORACLE["canonical_urls"] = """
WITH q AS (
  SELECT doc_id,
         ((doc_id % 4) + 4) % 4 AS m,
         CAST(((doc_id % 7) + 7) % 7 AS VARCHAR) AS k
  FROM documents
)
SELECT doc_id,
  CASE WHEN m = 0 THEN 'http://site' || k || '.com/a/b?a=2&z=1'
       WHEN m = 1 THEN 'https://sub.site' || k || '.com/p' || CAST(doc_id AS VARCHAR)
       WHEN m = 2 THEN 'https://site' || k || '.com/path?a=1&b=2'
  END AS url_canon,
  CASE WHEN m = 0 OR m = 2 THEN 'site' || k || '.com'
       WHEN m = 1 THEN 'sub.site' || k || '.com'
  END AS domain,
  CASE WHEN doc_id IS NULL THEN NULL ELSE m <> 3 END AS is_web
FROM q
"""

ORACLE["span_reconstruct"] = """
WITH sp AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN 'meta' ELSE 'text' END AS kind,
         text AS txt,
         CASE WHEN doc_id % 13 = 0 THEN 'm-' || CAST(doc_id % 50 AS VARCHAR) END AS ref,
         CAST(0 AS BIGINT) AS off, 0 AS ix
  FROM documents
  UNION ALL
  SELECT doc_id, 'media', NULL, 'm-' || CAST(doc_id % 30 AS VARCHAR), n_chars, 1
  FROM documents
  UNION ALL
  SELECT doc_id, 'text', substring(text, 1, 10), NULL,
         CASE WHEN doc_id % 11 = 0 THEN n_chars - 5 ELSE n_chars + 5 END, 2
  FROM documents
)
SELECT doc_id,
  string_agg(CASE WHEN kind = 'text' THEN coalesce(txt, '')
                  WHEN kind = 'media' THEN '<media:' || coalesce(ref, '') || '>'
                  ELSE '' END, '' ORDER BY off NULLS LAST, ix) AS rendered,
  CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text_spans,
  CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT) AS n_media_spans
FROM sp GROUP BY doc_id
"""

# per-unit verdict metrics: same fail condition as the validate_documents
# oracle, folded to one row per deterministic unit
ORACLE["partition_verdicts"] = """
SELECT CASE WHEN doc_id IS NULL THEN -1 ELSE doc_id % 8 END AS unit_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id IS NULL
                      OR text IS NULL OR length(text) < 50 OR length(text) > 500
                      OR lang IS NULL OR lang NOT IN ('en','es','de','fr')
                      OR source IS NULL OR NOT regexp_matches(source, '^src[0-9]$')
                      OR n_chars IS NULL OR n_chars < 60 OR n_chars > 400
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
       CASE WHEN sum(CASE WHEN doc_id IS NULL
                      OR text IS NULL OR length(text) < 50 OR length(text) > 500
                      OR lang IS NULL OR lang NOT IN ('en','es','de','fr')
                      OR source IS NULL OR NOT regexp_matches(source, '^src[0-9]$')
                      OR n_chars IS NULL OR n_chars < 60 OR n_chars > 400
                 THEN 1 ELSE 0 END) = 0
            THEN 'pass' ELSE 'fail' END AS verdict
FROM documents GROUP BY 1
"""

ORACLE["violation_examples"] = f"""
WITH viol AS ({ORACLE["validate_documents"]})
SELECT doc_id, rule_seq, rule_id, key_path, message FROM (
  SELECT *, row_number() OVER (
    PARTITION BY rule_id
    ORDER BY md5('ex:' || coalesce(cast(doc_id AS varchar), '')) ASC,
             doc_id ASC NULLS LAST, rule_seq ASC NULLS LAST,
             key_path ASC NULLS LAST, message ASC NULLS LAST
  ) AS rn
  FROM viol
) WHERE rn <= 2
"""

ORACLE["freshness"] = """
WITH m AS (SELECT epoch_us(max(ts)) // 1000000 AS max_ts_s FROM events)
SELECT cast(max_ts_s AS bigint) AS max_ts_s,
  cast(epoch_us(TIMESTAMP '2024-01-31 12:00:00') // 1000000 - max_ts_s
       AS bigint) AS lag_s,
  coalesce(epoch_us(TIMESTAMP '2024-01-31 12:00:00') // 1000000 - max_ts_s
           <= 86400, false) AS fresh
FROM m
"""

ORACLE["rule_firing_stats"] = f"""
WITH viol AS ({ORACLE["validate_documents"]})
SELECT rule_id, CAST(count(*) AS BIGINT) AS n_violations,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM viol GROUP BY rule_id
"""

ORACLE["ngram_dup_spans"] = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
              ELSE list_distinct(list_transform(
                generate_series(1, greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) - 2, 1)),
                i -> array_to_string(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')[i:i+2], ' ')))
         END AS sh
  FROM documents
), tot AS (
  SELECT doc_id, CAST(sum(len(sh)) AS BIGINT) AS n_ngrams FROM base GROUP BY doc_id
), ex AS (
  SELECT doc_id, unnest(sh) AS ng FROM base
), dup AS (
  SELECT ng FROM ex GROUP BY ng HAVING count(*) >= 2
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup FROM ex JOIN dup USING (ng) GROUP BY doc_id
)
SELECT t.doc_id, t.n_ngrams,
       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_ngrams,
       CAST(CASE WHEN t.n_ngrams > 0
                 THEN floor(coalesce(p.n_dup, 0) * 10000 / t.n_ngrams)
                 ELSE 0 END AS BIGINT) AS dup_bp
FROM tot t LEFT JOIN per_doc p USING (doc_id)
"""


ORACLE["suggested_constraints"] = """
WITH s AS (
  SELECT count(*) AS n,
         count(l_returnflag) AS rf_nn, count(DISTINCT l_returnflag) AS rf_d,
         min(length(l_returnflag)) AS rf_lo, max(length(l_returnflag)) AS rf_hi,
         string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS rf_set,
         count(l_linestatus) AS ls_nn, count(DISTINCT l_linestatus) AS ls_d,
         min(length(l_linestatus)) AS ls_lo, max(length(l_linestatus)) AS ls_hi,
         string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS ls_set,
         count(l_linenumber) AS ln_nn,
         cast(floor(min(l_linenumber)) AS BIGINT) AS ln_lo,
         cast(ceil(max(l_linenumber)) AS BIGINT) AS ln_hi,
         cast(min(l_linenumber) AS DOUBLE) AS ln_rlo,
         cast(max(l_linenumber) AS DOUBLE) AS ln_rhi,
         count(l_quantity) AS q_nn,
         cast(floor(min(l_quantity)) AS BIGINT) AS q_lo,
         cast(ceil(max(l_quantity)) AS BIGINT) AS q_hi,
         cast(min(l_quantity) AS DOUBLE) AS q_rlo,
         cast(max(l_quantity) AS DOUBLE) AS q_rhi
  FROM lineitem
)
SELECT "column", rule, param FROM (
  SELECT 'l_returnflag' AS "column", 'required' AS rule, '' AS param,
         (rf_nn = n AND n > 0) AS keep FROM s
  UNION ALL SELECT 'l_returnflag', 'type', 'binary', true FROM s
  UNION ALL SELECT 'l_returnflag', 'allowed', rf_set,
         rf_d BETWEEN 1 AND 8 FROM s
  UNION ALL SELECT 'l_returnflag', 'size',
         '[' || rf_lo || ',' || rf_hi || ']', rf_nn > 0 FROM s
  UNION ALL SELECT 'l_linestatus', 'required', '', ls_nn = n AND n > 0 FROM s
  UNION ALL SELECT 'l_linestatus', 'type', 'binary', true FROM s
  UNION ALL SELECT 'l_linestatus', 'allowed', ls_set,
         ls_d BETWEEN 1 AND 8 FROM s
  UNION ALL SELECT 'l_linestatus', 'size',
         '[' || ls_lo || ',' || ls_hi || ']', ls_nn > 0 FROM s
  UNION ALL SELECT 'l_linenumber', 'required', '', ln_nn = n AND n > 0 FROM s
  UNION ALL SELECT 'l_linenumber', 'type', 'integer', true FROM s
  UNION ALL SELECT 'l_linenumber', 'size',
         '[' || ln_lo || ',' || ln_hi || ']',
         ln_nn > 0 AND ln_rlo >= -9.2233720368547e18
                   AND ln_rhi <= 9.2233720368547e18 FROM s
  UNION ALL SELECT 'l_quantity', 'required', '', q_nn = n AND n > 0 FROM s
  UNION ALL SELECT 'l_quantity', 'type', 'float', true FROM s
  UNION ALL SELECT 'l_quantity', 'size',
         '[' || q_lo || ',' || q_hi || ']',
         q_nn > 0 AND q_rlo >= -9.2233720368547e18
                  AND q_rhi <= 9.2233720368547e18 FROM s
) WHERE keep
"""


ORACLE["gopher_rules"] = """
WITH t AS (
  SELECT doc_id, text,
    CASE WHEN text IS NULL THEN NULL
         ELSE list_filter(string_split_regex(text, '\\s+'), x -> x <> '') END AS tk,
    CASE WHEN text IS NULL THEN NULL
         ELSE list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                          x -> x <> '') END AS ls
  FROM documents
), c AS (
  SELECT doc_id,
    CAST(len(tk) AS BIGINT) AS n_words,
    CASE WHEN tk IS NULL THEN NULL
         ELSE CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT)
    END AS n_word_chars,
    CASE WHEN tk IS NULL THEN NULL
         ELSE CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
    END AS n_alpha_words,
    CASE WHEN tk IS NULL THEN NULL
         ELSE CAST(len(list_distinct(list_transform(
                list_filter(tk, x -> lower(x) IN
                  ('the','a','value','table','data','row','key','scan')),
                x -> lower(x)))) AS BIGINT)
    END AS n_stop_hits,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CASE WHEN ls IS NULL THEN NULL
         ELSE CAST(len(list_filter(ls, x -> regexp_matches(x, '^[-*•]'))) AS BIGINT)
    END AS n_bullet_lines,
    CASE WHEN ls IS NULL THEN NULL
         ELSE CAST(len(list_filter(ls, x -> regexp_matches(x, '(\\.\\.\\.|…)$'))) AS BIGINT)
    END AS n_ellipsis_lines,
    CASE WHEN text IS NULL THEN NULL
         ELSE CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT)
    END AS n_symbols
  FROM t
), f AS (
  SELECT *,
    CASE WHEN n_words IS NULL THEN ['no_text']
         ELSE list_sort(
           [r FOR r IN [
              CASE WHEN n_words < 5 OR n_words > 100000 THEN 'word_count' END,
              CASE WHEN 3*n_words > n_word_chars OR n_word_chars > 10*n_words
                   THEN 'mean_word_len' END,
              CASE WHEN 10*n_symbols > n_words THEN 'symbol_ratio' END,
              CASE WHEN 10*n_bullet_lines > 9*n_lines THEN 'bullet_lines' END,
              CASE WHEN 10*n_ellipsis_lines > 3*n_lines THEN 'ellipsis_lines' END,
              CASE WHEN 5*n_alpha_words < 4*n_words THEN 'alpha_words' END,
              CASE WHEN n_stop_hits < 2 THEN 'stopwords' END
            ] IF r IS NOT NULL])
    END AS fl
  FROM c
)
SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stop_hits, n_lines,
       n_bullet_lines, n_ellipsis_lines, n_symbols,
       coalesce(array_to_string(fl, ','), '') AS fails,
       len(fl) = 0 AS passes
FROM f
"""

ORACLE["c4_filters"] = """
WITH t AS (
  SELECT doc_id, text,
    CASE WHEN text IS NULL THEN NULL
         ELSE list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                          x -> x <> '') END AS ls
  FROM documents
), k AS (
  SELECT doc_id, text, ls,
    CASE WHEN ls IS NULL THEN NULL
         ELSE list_filter(ls, x ->
                regexp_matches(x, '[.!?"'']$')
                AND len(list_filter(string_split_regex(x, '\\s+'), w -> w <> '')) >= 3
                AND NOT contains(lower(x), 'javascript')) END AS kept,
    CASE WHEN text IS NULL THEN NULL
         ELSE contains(lower(text), 'lorem ipsum') OR contains(text, '{') END AS pd
  FROM t
)
SELECT doc_id,
  CAST(len(ls) AS BIGINT) AS n_lines,
  CASE WHEN pd IS NULL OR pd THEN NULL
       ELSE CAST(len(kept) AS BIGINT) END AS n_kept_lines,
  CASE WHEN pd IS NULL OR pd THEN NULL
       ELSE coalesce(array_to_string(kept, chr(10)), '') END AS cleaned,
  coalesce(NOT pd AND len(kept) > 0, false) AS keep_doc
FROM k
"""

ORACLE["centroid_states"] = """
WITH base AS (
  SELECT vec_id,
    list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
      AS qv
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), parts AS (
  SELECT CASE WHEN vec_id % 2 = 0 THEN 'even' ELSE 'odd' END AS part, qv
  FROM base
  UNION ALL SELECT 'merged', qv FROM base
), counts AS (
  SELECT part, CAST(count(*) AS BIGINT) AS n_vecs FROM parts GROUP BY 1
), dims AS (
  SELECT part, dd.d AS d, CAST(coalesce(sum(qv[dd.d]), 0) AS BIGINT) AS s
  FROM parts, (SELECT unnest(generate_series(1, 64)) AS d) dd
  GROUP BY 1, 2
)
SELECT c.part, c.n_vecs, CAST(d.d AS INTEGER) AS dim, d.s AS sum_val
FROM counts c JOIN dims d ON d.part = c.part
"""

def _embedding_dedup_attrition_oracle() -> str:
    # f-string deferral: ORACLE["srp_pairs_md5"] is defined later in the
    # module; resolved at oracle_sql() time
    return f"""
WITH RECURSIVE cand AS ({ORACLE["srp_pairs_md5"]}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL SELECT id_b, id_a FROM cand
), reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
), cl AS (
  SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
), reps AS (
  SELECT cluster_id, min(id) AS rep FROM cl GROUP BY cluster_id
), corpus AS (
  SELECT vec_id, label FROM embeddings WHERE vec_id IS NOT NULL
  UNION ALL
  SELECT vec_id + 100000, label FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND vec_id % 25 = 0
), m AS (
  SELECT d.label, (c.id IS NULL OR d.vec_id = r.rep) AS kept
  FROM corpus d
  LEFT JOIN cl c ON d.vec_id = c.id
  LEFT JOIN reps r ON c.cluster_id = r.cluster_id
)
SELECT label,
       cast(count(*) AS bigint) AS docs_in,
       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint) AS docs_kept,
       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS double) / count(*)
         AS kept_ratio
FROM m GROUP BY label
"""


ORACLE["incremental_srp"] = """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
), allsrc AS (
  SELECT vec_id, embedding, 'u2' AS inc, true AS is_new
  FROM base WHERE vec_id % 3 = 0
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.01 AS FLOAT)),
         'u2', true
  FROM base WHERE vec_id % 25 = 0 AND vec_id % 3 <> 0
  UNION ALL
  SELECT vec_id, embedding,
         CASE WHEN vec_id % 3 = 1 THEN 'u0' ELSE 'u1' END, false
  FROM base WHERE vec_id % 3 <> 0
), v AS (
  SELECT vec_id, inc, is_new,
    list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
      AS qv
  FROM allsrc
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), bits AS (
  SELECT vec_id, inc, is_new, p.p AS p,
    CASE WHEN CAST(list_dot_product(qv,
      list_transform(generate_series(0, 63),
        d -> CAST('0x' || substr(md5('srp:' || p.p || ':' || d), 1, 8)
                  AS BIGINT) % 2001 - 1000)) AS BIGINT) >= 0
      THEN 1 ELSE 0 END AS bit
  FROM v, generate_series(0, 31) p(p)
), sig AS (
  SELECT vec_id, inc, is_new,
    CAST(sum(bit * (1::BIGINT << p)) AS BIGINT) AS sig
  FROM bits GROUP BY 1, 2, 3
), banded AS (
  SELECT vec_id, inc, is_new, sig, b.b AS band,
    (sig // (1::BIGINT << (b.b * 16))) % 65536 AS h
  FROM sig, generate_series(0, 1) b(b)
), j AS (
  SELECT n.vec_id AS id_new, n.inc AS inc_new,
         o.vec_id AS id_old, o.inc AS inc_old,
         n.sig AS sa, o.sig AS sb
  FROM banded n JOIN banded o ON n.band = o.band AND n.h = o.h
  WHERE n.is_new AND NOT o.is_new
), p AS (
  SELECT id_new, inc_new, id_old, inc_old,
         CAST(count(*) AS INTEGER) AS n_bands,
         any_value(sa) AS sa, any_value(sb) AS sb
  FROM j GROUP BY 1, 2, 3, 4
)
SELECT id_new, inc_new, id_old, inc_old, n_bands,
  CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming,
  CAST((32 - bit_count(xor(sa, sb))) * 10000 // 32 AS BIGINT) AS sim_bp,
  false AS truncated
FROM p
"""

ORACLE["embedding_drift"] = """
WITH base AS (
  SELECT vec_id,
    list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
      AS qv
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), lim AS (
  SELECT greatest(max(greatest(vec_id, 0)) + 1, 1) AS m FROM base
), waved AS (
  SELECT CAST(least(4, greatest(vec_id, 0) * 5 // m) AS INTEGER) AS wave, qv
  FROM base, lim
), counts AS (
  SELECT wave, CAST(count(*) AS BIGINT) AS n_vecs FROM waved GROUP BY 1
), dims AS (
  SELECT wave, dd.d AS d, sum(qv[dd.d]) AS s
  FROM waved, (SELECT unnest(generate_series(1, 64)) AS d) dd
  GROUP BY 1, 2
), cent AS (
  SELECT dims.wave, d,
    CAST(floor(CAST(s AS DOUBLE) / c.n_vecs) AS BIGINT) AS cd
  FROM dims JOIN counts c ON c.wave = dims.wave
), dotp AS (
  SELECT a.wave,
    CAST(sum(a.cd * b.cd) AS DOUBLE) AS dab,
    CAST(sum(a.cd * a.cd) AS DOUBLE) AS daa,
    CAST(sum(b.cd * b.cd) AS DOUBLE) AS dbb
  FROM cent a JOIN cent b ON b.wave = a.wave - 1 AND b.d = a.d
  GROUP BY 1
)
SELECT c.wave, c.n_vecs,
  CASE WHEN p.wave IS NULL THEN NULL
       WHEN sqrt(p.daa) * sqrt(p.dbb) > 0
         THEN round(p.dab / (sqrt(p.daa) * sqrt(p.dbb)), 6)
       ELSE 0.0 END AS centroid_cos_prev
FROM counts c LEFT JOIN dotp p ON p.wave = c.wave
"""

ORACLE["srp_pairs_md5"] = f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.01 AS FLOAT))
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND vec_id % 25 = 0
), v AS (
  -- ve: freshly materialized double list — feeding the parquet-backed
  -- FLOAT[] column through the candidate hash joins trips a DuckDB
  -- list_dot_product NULL-slot error on the join's lazy vectors even
  -- though no element is NULL; a transform-materialized copy is immune
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
    list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
      AS qv
  FROM base
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), bits AS (
  SELECT vec_id, p.p AS p,
    CASE WHEN CAST(list_dot_product(qv,
      list_transform(generate_series(0, 63),
        d -> CAST('0x' || substr(md5('srp:' || p.p || ':' || d), 1, 8)
                  AS BIGINT) % 2001 - 1000)) AS BIGINT) >= 0
      THEN 1 ELSE 0 END AS bit
  FROM v, generate_series(0, 31) p(p)
), bands AS (
  SELECT vec_id, p // 16 AS band,
    CAST(sum(bit * (1 << (p % 16))) AS BIGINT) AS h
  FROM bits GROUP BY 1, 2
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, count(*) AS n_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h = b.h AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, CAST(p.n_bands AS INTEGER) AS n_bands,
  round({_cos_sql('va.ve', 'vb.ve')}, 6) AS cosine,
  false AS truncated
FROM pairs p
JOIN v va ON va.vec_id = p.id_a
JOIN v vb ON vb.vec_id = p.id_b
WHERE round({_cos_sql('va.ve', 'vb.ve')}, 6) >= 0.9
"""

ORACLE["semantic_dedup"] = f"""
WITH allr AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding, label FROM embeddings
), v AS (
  SELECT vec_id, cast(embedding AS double[]) AS emb FROM allr
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), d AS (
  SELECT DISTINCT b.vec_id FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round({_cos_sql('a.emb', 'b.emb')}, 6) >= 0.999
)
SELECT r.vec_id, r.label
FROM allr r LEFT JOIN d ON r.vec_id = d.vec_id
WHERE d.vec_id IS NULL
"""

ORACLE["profile_incremental"] = """
SELECT 'l_returnflag' AS "column", count(*) AS n_rows,
       count(*) - count(l_returnflag) AS n_nulls,
       CAST(min(l_returnflag) AS VARCHAR) AS min_repr,
       CAST(max(l_returnflag) AS VARCHAR) AS max_repr
FROM lineitem
UNION ALL
SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber),
       CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
       CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
       CAST(min(l_shipdate) AS VARCHAR), CAST(max(l_shipdate) AS VARCHAR)
FROM lineitem
"""


# mirrors CLASSIFIER_W + q_classifier_scores (bias 50, threshold 0):
# integer milli-weights, mean logit via floor(double division) — division
# then floor replays bit-for-bit because |sums| are far below 2^52
ORACLE["classifier_scores"] = r"""
WITH w(token, wt) AS (
  VALUES ('the', -40), ('a', -20), ('value', 250), ('table', 120),
         ('data', 180), ('row', -300), ('key', 90), ('scan', -150)
), toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                     x -> x <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL
), ex AS (
  SELECT doc_id, unnest(tk) AS token FROM toks
), agg AS (
  SELECT ex.doc_id, sum(coalesce(w.wt, 0)) AS sw, count(w.wt) AS h
  FROM ex LEFT JOIN w ON lower(ex.token) = w.token
  GROUP BY ex.doc_id
), scored AS (
  SELECT t.doc_id, cast(len(t.tk) AS int) AS n_tokens,
         cast(coalesce(agg.h, 0) AS bigint) AS hits,
         cast(50 + CASE WHEN len(t.tk) > 0
              THEN floor(cast(agg.sw AS double) / len(t.tk))
              ELSE 0 END AS bigint) AS logit_milli
  FROM toks t LEFT JOIN agg USING (doc_id)
)
SELECT doc_id, n_tokens, hits, logit_milli, logit_milli > 0 AS keep
FROM scored
"""


# mirrors q_functional_deps: NULL-determinant rows excluded, NULL
# dependent counts as one image (count(DISTINCT x) ignores NULLs, so add
# a has-NULL flag per key)
ORACLE["functional_deps"] = """
WITH probe(tbl, det, dep) AS (
  VALUES ('nation', 'n_nationkey', 'n_name'),
         ('nation', 'n_regionkey', 'n_name'),
         ('events', 'event_id', 'user_id'),
         ('events', 'user_id', 'event_type')
), nat AS (
  SELECT det, dep, k, count(DISTINCT v) + max(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS imgs
  FROM (
    SELECT 'n_nationkey' AS det, 'n_name' AS dep,
           cast(n_nationkey AS varchar) AS k, n_name AS v
    FROM nation WHERE n_nationkey IS NOT NULL
    UNION ALL
    SELECT 'n_regionkey', 'n_name', cast(n_regionkey AS varchar), n_name
    FROM nation WHERE n_regionkey IS NOT NULL
    UNION ALL
    SELECT 'event_id', 'user_id', cast(event_id AS varchar),
           cast(user_id AS varchar)
    FROM events WHERE event_id IS NOT NULL
    UNION ALL
    SELECT 'user_id', 'event_type', cast(user_id AS varchar), event_type
    FROM events WHERE user_id IS NOT NULL
  ) GROUP BY det, dep, k
)
SELECT p.det AS determinant, p.dep AS dependent,
       cast(coalesce(count(n.k), 0) AS bigint) AS n_keys,
       cast(coalesce(sum(CASE WHEN n.imgs > 1 THEN 1 ELSE 0 END), 0) AS bigint)
         AS violating_keys,
       cast(coalesce(max(n.imgs), 0) AS bigint) AS max_images,
       coalesce(sum(CASE WHEN n.imgs > 1 THEN 1 ELSE 0 END), 0) = 0 AS holds
FROM probe p LEFT JOIN nat n ON p.det = n.det AND p.dep = n.dep
GROUP BY p.det, p.dep
"""


# mirrors q_skew_report: per column, top-10 non-NULL values by count
# (value-ascending tiebreak), share in integer basis points
ORACLE["skew_report"] = """
WITH f AS (
  SELECT 'user_id' AS col, cast(user_id AS varchar) AS value,
         count(*) AS cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY 2
  UNION ALL
  SELECT 'event_type', event_type, count(*)
  FROM events WHERE event_type IS NOT NULL GROUP BY 2
), r AS (
  SELECT col, value, cnt,
         row_number() OVER (PARTITION BY col ORDER BY cnt DESC, value ASC) AS rn,
         sum(cnt) OVER (PARTITION BY col) AS total
  FROM f
)
SELECT col AS "column", value, cast(cnt AS bigint) AS cnt,
       cast((cnt * 10000) // total AS bigint) AS share_bp,
       (cnt * 10000) // total >= 1000 AS is_hot
FROM r WHERE rn <= 10
"""


# mirrors functions.text.ENCODING_PATTERNS — one regex syntax that
# parses identically under Java regex and RE2 (\x{hhhh} escapes)
ORACLE["encoding_anomalies"] = (
    """
SELECT doc_id,
  cast(coalesce(len(regexp_extract_all(text, '�')), 0) AS int)
    AS repl_chars,
  cast(coalesce(len(regexp_extract_all(text,
    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]')), 0) AS int)
    AS ctrl_chars,
  cast(coalesce(len(regexp_extract_all(text,
    '(\\x{00E2}\\x{20AC}|\\x{00C3}[\\x{0080}-\\x{00FF}])')), 0) AS int)
    AS mojibake_seqs,
  coalesce(NOT regexp_matches(text,
    '�|[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"""
    """|(\\x{00E2}\\x{20AC}|\\x{00C3}[\\x{0080}-\\x{00FF}])'), true) AS clean
FROM documents WHERE doc_id IS NOT NULL
"""
)


# mirrors q_quantile_states: NULL event_id rows belong to neither
# increment (pmod propagates NULL); count/min/max survive the KLL state
# fold exactly
ORACLE["quantile_states"] = """
SELECT 'value' AS "column",
  cast(count(value) AS bigint) AS n_values,
  min(cast(value AS double)) AS min_val,
  max(cast(value AS double)) AS max_val
FROM events WHERE event_id IS NOT NULL
"""


# mirrors q_corpus_overlap: theta sketches are exact below 4096 retained
# keys, so at the gate's scale the estimates equal plain distinct counts
ORACLE["corpus_overlap"] = """
WITH a AS (
  SELECT DISTINCT doc_id FROM documents
  WHERE doc_id IS NOT NULL AND doc_id % 3 IN (0, 1)
), b AS (
  SELECT DISTINCT doc_id FROM documents
  WHERE doc_id IS NOT NULL AND doc_id % 3 IN (1, 2)
), m AS (
  SELECT (SELECT count(*) FROM a) AS n_a,
         (SELECT count(*) FROM b) AS n_b,
         (SELECT count(*) FROM a JOIN b USING (doc_id)) AS n_intersection,
         (SELECT count(*) FROM (SELECT doc_id FROM a UNION SELECT doc_id FROM b)) AS n_union
)
SELECT cast(n_a AS bigint) AS n_a, cast(n_b AS bigint) AS n_b,
       cast(n_intersection AS bigint) AS n_intersection,
       cast(n_union AS bigint) AS n_union,
       CASE WHEN n_union > 0
            THEN cast((n_intersection * 10000) // n_union AS bigint)
       END AS jaccard_bp
FROM m
"""


# mirrors q_resolve_duplicates: same fingerprint groups as dedup_corpus,
# winner = (n_chars DESC NULLS LAST, doc_id ASC)
ORACLE["resolve_duplicates"] = """
SELECT doc_id, lang, n_chars FROM documents
WHERE text IS NULL
   OR doc_id IN (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (
      PARTITION BY md5(array_to_string(string_split(text, ' ')[1:5], ' '))
      ORDER BY n_chars DESC NULLS LAST, doc_id ASC) AS rn
    FROM documents WHERE text IS NOT NULL
  ) WHERE rn = 1
)
"""


# rebuilt HERE (after every member oracle exists): q_check_suite gained
# the fd/skew/encoding members this round, each filtered to its
# violating rows
ORACLE["check_suite"] = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS check_id, CAST(count(*) AS BIGINT) AS n_violations,
       CASE WHEN count(*) = 0 THEN 'pass' ELSE 'fail' END AS status
FROM ({sql})"""
    for name, sql in [
        ("doc_rules", ORACLE["validate_documents"]),
        ("events_user_unique", ORACLE["uniqueness_events_user"]),
        ("lineitem_supplier_ref", ORACLE["referential_lineitem_supplier"]),
        ("span_structure", ORACLE["span_structure"]),
        (
            "fd_violations",
            "SELECT * FROM (%s) WHERE NOT holds" % ORACLE["functional_deps"],
        ),
        ("hot_keys", "SELECT * FROM (%s) WHERE is_hot" % ORACLE["skew_report"]),
        (
            "encoding_damage",
            "SELECT * FROM (%s) WHERE NOT clean" % ORACLE["encoding_anomalies"],
        ),
    ]
)


# mirrors q_profile_anomalies: integer-div basis points over exact
# per-increment counts; NULL baselines on a hypothetical single increment
ORACLE["profile_anomalies"] = """
WITH mm(m) AS (VALUES (0), (1), (2), (3)),
base AS (
  SELECT ((user_id % 4) + 4) % 4 AS m,
         CASE WHEN ((user_id % 4) + 4) % 4 = 3 AND NOT (value >= 2.0)
              THEN NULL ELSE value END AS v
  FROM events WHERE user_id IS NOT NULL
), cnt AS (
  SELECT m, count(*) AS n, count(*) - count(v) AS nulls
  FROM base GROUP BY m
), st AS (
  -- the engine emits a state row even for an EMPTY increment slice
  SELECT 'inc' || cast(mm.m AS varchar) AS increment,
         coalesce(n, 0) AS n, coalesce(nulls, 0) AS nulls
  FROM mm LEFT JOIN cnt USING (m)
), tot AS (
  SELECT sum(n) AS tn, sum(nulls) AS tnulls, count(*) AS k FROM st
), calc AS (
  SELECT increment, n, nulls,
    (nulls * 10000) // greatest(n, 1) AS null_bp,
    CASE WHEN tn - n > 0
         THEN ((tnulls - nulls) * 10000) // greatest(tn - n, 1) END AS base_null_bp,
    CASE WHEN k > 1 AND tn - n > 0
         THEN (n * (k - 1) * 10000) // greatest(tn - n, 1) END AS volume_bp
  FROM st, tot
)
SELECT increment, 'value' AS "column", cast(n AS bigint) AS n_rows,
  cast(null_bp AS bigint) AS null_bp,
  cast(base_null_bp AS bigint) AS base_null_bp,
  cast(volume_bp AS bigint) AS volume_bp,
  coalesce(null_bp - base_null_bp >= 500, false) AS null_anomaly,
  coalesce(volume_bp < 5000, false) AS volume_anomaly
FROM calc
"""


# mirrors functions.text.HTML_STRIP_PATTERNS/HTML_ENTITIES exactly —
# same pattern strings, same order, &amp; decoded last
ORACLE["html_extract"] = r"""
WITH ex AS (
  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(text,
                '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
            '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
        '(?i)<(br|/p|/div|/li|/tr|/h[1-6])\b[^>]*>', chr(10), 'g'),
      '<[^>]+>', ' ', 'g'),
    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
    '&#39;', chr(39)), '&amp;', '&'),
  '[^\S\n]+', ' ', 'g'), ' ?\n+ ?', chr(10), 'g'),
  '^\s+|\s+$', '', 'g') AS extracted
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id, extracted,
  cast(coalesce(len(list_filter(string_split_regex(extracted, '\s+'),
                                x -> x <> '')), 0) AS int) AS n_tokens
FROM ex
"""


# BM25 oracle mirrors text.bm25_topk term-for-term: same tokenizer
# (regex \s+ split, lowered), same Lucene idf = ln((N-df+0.5)/(df+0.5)+1),
# same association order in the score, same literal constants (Python
# 1.2+1.0 == 2.2 and 1.0-0.75 == 0.25 bit-exactly, so plain SQL literals
# parse to the identical doubles Spark inlines), 6-dp round + id tiebreak.
ORACLE["bm25_topk"] = r"""
WITH live AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> ''), t -> lower(t)) AS tk
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), base AS (
  SELECT doc_id, len(tk) AS dl,
         len(list_filter(tk, t -> t = 'customer')) AS tf0,
         len(list_filter(tk, t -> t = 'merge'))    AS tf1,
         len(list_filter(tk, t -> t = 'the'))      AS tf2,
         len(list_filter(tk, t -> t = 'vector'))   AS tf3
  FROM live
), st AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
         sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
  FROM base
), scored AS (
  SELECT doc_id,
    cast((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS bigint) AS matched,
    round(
        (ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (cast(tf0 AS double) * 2.2))
          / (cast(tf0 AS double) + 1.2 * (0.25 + 0.75 * cast(dl AS double) / avgdl))
      + (ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (cast(tf1 AS double) * 2.2))
          / (cast(tf1 AS double) + 1.2 * (0.25 + 0.75 * cast(dl AS double) / avgdl))
      + (ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (cast(tf2 AS double) * 2.2))
          / (cast(tf2 AS double) + 1.2 * (0.25 + 0.75 * cast(dl AS double) / avgdl))
      + (ln((n - df3 + 0.5) / (df3 + 0.5) + 1.0) * (cast(tf3 AS double) * 2.2))
          / (cast(tf3 AS double) + 1.2 * (0.25 + 0.75 * cast(dl AS double) / avgdl))
      , 6) AS bm25
  FROM base CROSS JOIN st
)
SELECT doc_id, matched, bm25
FROM scored WHERE matched > 0
ORDER BY bm25 DESC, doc_id ASC LIMIT 15
"""


# ssjoin oracle is BRUTE FORCE ground truth, not an algorithm mirror: it
# enumerates every shingle-sharing pair (no prefix filter, no size filter)
# and keeps Jaccard >= 0.8, so any false negative in the Spark prefix
# chain shows up as a missing row.  Shingle construction mirrors
# text.shingles exactly: \s+ tokens, k=3 space-joined windows, short docs
# collapse to one whole-text shingle (greatest(n-2, 1) windows).
ORACLE["ssjoin_pairs"] = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(tk) - 2, 1) + 1),
           i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS s
  FROM base
), tok AS (SELECT doc_id, len(s) AS n, unnest(s) AS t FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         count(*) AS i
  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(cast(i AS double) / (na + nb - i), 6) AS jaccard
FROM inter
WHERE cast(i AS double) / (na + nb - i) >= 0.8
"""

# LSH QA composes the two already-oracled sub-pipelines: exact ssjoin
# ground truth x md5-minhash candidates, same shingle definition
ORACLE["lsh_recall"] = f"""
WITH truth AS ({ORACLE["ssjoin_pairs"]}),
cand AS ({ORACLE["minhash_pairs_md5"]}),
tt AS (SELECT id_a, id_b FROM truth),
cc AS (SELECT id_a, id_b FROM cand),
h AS (SELECT count(*) AS n_hit FROM tt JOIN cc USING (id_a, id_b)),
n AS (SELECT (SELECT count(*) FROM tt) AS n_true_pairs,
             (SELECT count(*) FROM cc) AS n_candidate_pairs,
             (SELECT n_hit FROM h) AS n_hit)
SELECT cast(n_true_pairs AS bigint) AS n_true_pairs,
       cast(n_candidate_pairs AS bigint) AS n_candidate_pairs,
       cast(n_hit AS bigint) AS n_hit,
       CASE WHEN n_true_pairs > 0
            THEN cast(n_hit * 10000 // n_true_pairs AS bigint) END AS recall_bp,
       CASE WHEN n_candidate_pairs > 0
            THEN cast(n_hit * 10000 // n_candidate_pairs AS bigint)
       END AS precision_bp
FROM n
"""


# End-to-end near-dedup pipeline report: md5-MinHash LSH candidates
# (reused CTE) -> recursive-CTE connected components -> min-id
# representative per component -> per-source survival rollup.
ORACLE["minhash_dedup_attrition"] = f"""
WITH RECURSIVE cand AS ({ORACLE["minhash_pairs_md5"]}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL SELECT id_b, id_a FROM cand
), reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
), cl AS (
  SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
), reps AS (
  SELECT cluster_id, min(id) AS rep FROM cl GROUP BY cluster_id
), m AS (
  SELECT d.source, d.n_chars,
         (c.id IS NULL OR d.doc_id = r.rep) AS kept
  FROM documents d
  LEFT JOIN cl c ON d.doc_id = c.id
  LEFT JOIN reps r ON c.cluster_id = r.cluster_id
)
SELECT source,
       cast(count(*) AS bigint) AS docs_in,
       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint) AS docs_kept,
       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS double) / count(*)
         AS kept_ratio,
       cast(sum(n_chars) AS bigint) AS w_in,
       cast(coalesce(sum(CASE WHEN kept THEN n_chars END), 0) AS bigint)
         AS w_kept
FROM m GROUP BY source
"""

def _funnel_oracle_sql() -> str:
    """Funnel over the gopher_rules oracle: per-stage survivor counts as
    FILTER'd aggregates in one scan, then a constant UNION ALL unpivot
    (stage k survivors = fails set disjoint from the first k rules)."""
    cols = ["count(*) AS n0"]
    for i in range(len(GOPHER_FUNNEL_ORDER)):
        lst = ", ".join("'%s'" % r for r in GOPHER_FUNNEL_ORDER[: i + 1])
        cols.append(
            "count(*) FILTER (WHERE NOT list_has_any(fl, [%s])) AS n%d"
            % (lst, i + 1)
        )
    rows = [
        "SELECT 0 AS stage_ix, 'input' AS rule, cast(n0 AS bigint) AS "
        "docs_surviving, cast(0 AS bigint) AS docs_dropped FROM c"
    ]
    for i, r in enumerate(GOPHER_FUNNEL_ORDER, 1):
        rows.append(
            "SELECT %d, '%s', cast(n%d AS bigint), cast(n%d - n%d AS bigint) "
            "FROM c" % (i, r, i, i - 1, i)
        )
    return f"""
WITH g AS ({ORACLE["gopher_rules"]}),
s AS (
  SELECT list_filter(string_split(fails, ','), x -> x <> '') AS fl FROM g
), c AS (
  SELECT {', '.join(cols)} FROM s
)
{' UNION ALL '.join(rows)}
"""


ORACLE["filter_funnel"] = _funnel_oracle_sql()

# filter_agreement composes the two already-verified filter oracles and
# replays verdict_agreement's integer kappa exactly: NULL flags coalesce
# to false INSIDE the matrix, sign factored out of the truncated
# division so `//` and Spark's `div` agree on a negative kappa.
ORACLE["filter_agreement"] = f"""
WITH g AS ({ORACLE["gopher_rules"]}),
cf AS ({ORACLE["c4_filters"]}),
j AS (
  SELECT coalesce(g.passes, false) AS fa, coalesce(cf.keep_doc, false) AS fb
  FROM g JOIN cf ON g.doc_id = cf.doc_id
), m AS (
  SELECT cast(count(*) AS bigint) AS n,
         cast(coalesce(count(*) FILTER (fa AND fb), 0) AS bigint) AS a,
         cast(coalesce(count(*) FILTER (fa AND NOT fb), 0) AS bigint) AS b,
         cast(coalesce(count(*) FILTER (NOT fa AND fb), 0) AS bigint) AS c,
         cast(coalesce(count(*) FILTER (NOT fa AND NOT fb), 0) AS bigint) AS d
  FROM j
), k AS (
  SELECT *,
         n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d)) AS num,
         n * n - ((a + b) * (a + c) + (c + d) * (b + d)) AS den
  FROM m
)
SELECT n, a AS both_pass, b AS only_a, c AS only_b, d AS both_fail,
       CASE WHEN n > 0
            THEN cast((10000 * (a + d)) // n AS bigint) END AS po_bp,
       CASE WHEN den <> 0
            THEN cast((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                      * ((10000 * abs(num)) // den) AS bigint)
       END AS kappa_bp
FROM k
"""

# classifier_auc replays ranking_auc's grouped rank-sum identity: the
# doubled-numerator tie correction keeps every term integral; the final
# division truncates on both engines (operands non-negative).  The
# window sum is cast to bigint before use (HUGEINT canonicalization —
# the round-2 `sessions` lesson).
ORACLE["classifier_auc"] = f"""
WITH s AS ({ORACLE["classifier_scores"]}),
g AS ({ORACLE["gopher_rules"]}),
j AS (
  SELECT s.logit_milli AS sc, g.passes AS lab
  FROM s JOIN g ON s.doc_id = g.doc_id
  WHERE s.logit_milli IS NOT NULL AND g.passes IS NOT NULL
), grp AS (
  SELECT sc,
         cast(coalesce(count(*) FILTER (lab), 0) AS bigint) AS pos,
         cast(coalesce(count(*) FILTER (NOT lab), 0) AS bigint) AS neg
  FROM j GROUP BY sc
), t AS (
  SELECT pos, neg,
         pos * (2 * cast(coalesce(sum(neg) OVER (
                 ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS bigint) + neg) AS t2
  FROM grp
), m AS (
  SELECT cast(coalesce(sum(pos + neg), 0) AS bigint) AS n,
         cast(coalesce(sum(pos), 0) AS bigint) AS n_pos,
         cast(coalesce(sum(neg), 0) AS bigint) AS n_neg,
         cast(count(*) AS bigint) AS n_scores,
         cast(coalesce(sum(t2), 0) AS bigint) AS num2
  FROM t
)
SELECT n, n_pos, n_neg, n_scores,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN cast((10000 * num2) // (2 * n_pos * n_neg) AS bigint)
       END AS auc_bp
FROM m
"""

# entropy oracle mirrors table_checks.column_entropy term-for-term:
# NULL is its own category, H = (ln(n) - sum(c*ln c)/n) / ln2 with ln(2)
# inlined as the same double literal, 6-dp round.
def _entropy_col_sql(col: str) -> str:
    return f"""
SELECT '{col}' AS "column", cast(coalesce(n, 0) AS bigint) AS n,
       cast(nd AS bigint) AS n_distinct,
       CASE WHEN coalesce(n, 0) > 0 THEN
         round((ln(cast(n AS double))
                - sclc / cast(n AS double)) / 0.6931471805599453, 6)
       ELSE 0.0 END AS entropy_bits
FROM (
  SELECT sum(c) AS n, count(*) AS nd,
         sum(cast(c AS double) * ln(cast(c AS double))) AS sclc
  FROM (SELECT {col} AS v, count(*) AS c FROM lineitem GROUP BY 1)
)"""


ORACLE["column_entropy"] = "\nUNION ALL\n".join(
    _entropy_col_sql(c) for c in ("l_returnflag", "l_linestatus", "l_quantity")
)


# check-expression oracles are GENERATED from the same CHECK_EXPRESSIONS /
# VIOLATION_CHECKS dicts the Spark query uses — the predicate strings are
# the single source of truth, parsed by both engines.  NULL-fails pinned
# via NOT coalesce(pred, false) on both sides.
def _check_sql(cid: str, pred: str) -> str:
    return f"""
SELECT '{cid}' AS check_id, cast(n_rows AS bigint) AS n_rows,
       cast(n_failed AS bigint) AS n_failed,
       cast(CASE WHEN n_rows = 0 THEN 10000
            ELSE (n_rows - n_failed) * 10000 // n_rows END AS bigint) AS pass_bp,
       CASE WHEN n_failed = 0 THEN 'pass' ELSE 'fail' END AS status
FROM (SELECT count(*) AS n_rows,
             coalesce(sum(CASE WHEN NOT coalesce(({pred}), false)
                           THEN 1 ELSE 0 END), 0) AS n_failed
      FROM lineitem)"""


ORACLE["check_expressions"] = "\nUNION ALL\n".join(
    _check_sql(cid, pred) for cid, pred in CHECK_EXPRESSIONS.items()
)


ORACLE["expression_violations"] = "\nUNION ALL\n".join(
    f"""
SELECT '{cid}' AS check_id, l_orderkey, l_linenumber
FROM lineitem WHERE NOT coalesce(({pred}), false)"""
    for cid, pred in VIOLATION_CHECKS.items()
)


# sequence_anomalies: same (seq, ts) window ordering, same NULL exclusion,
# same one-anomaly-per-adjacency priority (dup > regression > gap) as the
# operator; epoch_us on NTZ wall-clock microseconds matches _micros.
ORACLE["sequence_anomalies"] = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL
), w AS (
  SELECT user_id AS entity, event_id AS seq, t,
         lag(event_id) OVER win AS ps, lag(t) OVER win AS pt
  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY event_id, t)
)
SELECT entity, seq,
       CASE WHEN seq = ps THEN 'duplicate_seq'
            WHEN pt > t THEN 'ts_regression'
            ELSE 'gap' END AS kind,
       cast(CASE WHEN seq <> ps AND pt > t THEN pt - t
            ELSE t - pt END AS bigint) AS measure
FROM w
WHERE ps IS NOT NULL
  AND (seq = ps OR pt > t OR t - pt > 172800000000)
"""


def _nullcorr_pair_sql(a: str, b: str) -> str:
    return f"""
SELECT col_a, col_b, n, a_null, b_null, both_null,
       CASE WHEN a_null + b_null - both_null > 0
            THEN both_null * 10000 // (a_null + b_null - both_null)
       END AS jaccard_bp
FROM (
  SELECT '{a}' AS col_a, '{b}' AS col_b, cast(count(*) AS bigint) AS n,
         cast(coalesce(sum(CASE WHEN {a} IS NULL THEN 1 ELSE 0 END), 0) AS bigint) AS a_null,
         cast(coalesce(sum(CASE WHEN {b} IS NULL THEN 1 ELSE 0 END), 0) AS bigint) AS b_null,
         cast(coalesce(sum(CASE WHEN {a} IS NULL AND {b} IS NULL THEN 1 ELSE 0 END), 0) AS bigint) AS both_null
  FROM documents)"""


_NC_COLS = ["text", "lang", "source", "n_chars"]
ORACLE["null_correlation"] = "\nUNION ALL\n".join(
    _nullcorr_pair_sql(_NC_COLS[i], _NC_COLS[j])
    for i in range(len(_NC_COLS))
    for j in range(i + 1, len(_NC_COLS))
)


# group_drift oracle mirrors the operator stage-for-stage: corpus top-k
# (count-desc, cat-asc row_number), __other__ roll-up, 9-dp shares, 1e-6
# eps clamp, floor-bp — the drift_event_types parity recipe applied
# per group, with NULL groups/categories excluded on both sides.
ORACLE["group_drift"] = """
WITH gc AS (
  SELECT source AS g, cast(lang AS varchar) AS cat, count(*) AS c
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1, 2
), top AS (
  SELECT cat FROM (
    SELECT cat, row_number() OVER (ORDER BY sum(c) DESC, cat ASC) AS rk
    FROM gc GROUP BY cat)
  WHERE rk <= 3
), rolled AS (
  SELECT g,
         CASE WHEN cat IN (SELECT cat FROM top) THEN cat
              ELSE '__other__' END AS cat,
         sum(c) AS c
  FROM gc GROUP BY 1, 2
), pg AS (
  SELECT g, cat,
         round(c / cast(sum(c) OVER (PARTITION BY g) AS double), 9) AS pg,
         sum(c) OVER (PARTITION BY g) AS n
  FROM rolled
), pc AS (
  SELECT cat, round(c / cast(sum(c) OVER () AS double), 9) AS pc
  FROM (SELECT cat, sum(c) AS c FROM rolled GROUP BY 1)
), uni AS (
  SELECT u.g, u.n, p.cat, p.pc
  FROM (SELECT DISTINCT g, n FROM pg) u CROSS JOIN pc p
), j AS (
  SELECT uni.g, uni.n, coalesce(pg.pg, 0.0) AS pg, uni.pc
  FROM uni LEFT JOIN pg ON uni.g = pg.g AND uni.cat = pg.cat
)
SELECT g AS source, cast(max(n) AS bigint) AS n,
  cast(floor(sum((greatest(pg,1e-6) - greatest(pc,1e-6))
                 * ln(greatest(pg,1e-6) / greatest(pc,1e-6))) * 10000) AS bigint) AS psi_bp,
  cast(floor(0.5 * sum(abs(pg - pc)) * 10000) AS bigint) AS tvd_bp
FROM j GROUP BY g
"""


# uniqueness_incremental oracle: plain COUNT(DISTINCT) arithmetic — the
# Theta sketches stay in exact mode at this cardinality (lg_k=15 ≫
# distinct keys), deterministically, so estimate ≡ truth at the gate.
def _uniq_inc_sql(col: str) -> str:
    return f"""
SELECT '{col}' AS "column",
  cast(count({col}) AS bigint) AS n_values,
  cast((SELECT count(DISTINCT {col}) FROM events WHERE event_id % 2 = 0)
     + (SELECT count(DISTINCT {col}) FROM events
        WHERE event_id % 2 != 0 OR event_id IS NULL) AS bigint) AS sum_unit_distinct,
  cast(count(DISTINCT {col}) AS bigint) AS union_distinct,
  cast((SELECT count(DISTINCT {col}) FROM events WHERE event_id % 2 = 0)
     + (SELECT count(DISTINCT {col}) FROM events
        WHERE event_id % 2 != 0 OR event_id IS NULL)
     - count(DISTINCT {col}) AS bigint) AS cross_unit_keys
FROM events"""


ORACLE["uniqueness_incremental"] = "\nUNION ALL\n".join(
    _uniq_inc_sql(c) for c in ("user_id", "event_id")
)


# cardinality oracle mirrors the operator's NULL contract explicitly:
# NULL keys never equality-join, so NULL-key children are orphans and a
# NULL parent key is childless — stated via the same full-outer shape.
ORACLE["cardinality_suppliers"] = """
WITH cg AS (SELECT l_suppkey AS k, count(*) AS cc FROM lineitem GROUP BY 1),
pg AS (SELECT s_suppkey AS k, count(*) AS pc FROM supplier GROUP BY 1),
j AS (
  SELECT pg.pc IS NOT NULL AS is_p, cg.cc IS NOT NULL AS is_c,
         coalesce(cg.cc, 0) AS cc
  FROM pg FULL OUTER JOIN cg ON pg.k = cg.k
)
SELECT
  cast(coalesce(sum(CASE WHEN is_p THEN 1 ELSE 0 END), 0) AS bigint) AS parents,
  cast(coalesce(sum(cc), 0) AS bigint) AS children,
  cast(coalesce(sum(CASE WHEN is_p AND is_c THEN 1 ELSE 0 END), 0) AS bigint) AS matched_parents,
  cast(coalesce(sum(CASE WHEN is_p AND NOT is_c THEN 1 ELSE 0 END), 0) AS bigint) AS childless_parents,
  cast(coalesce(sum(CASE WHEN NOT is_p THEN cc END), 0) AS bigint) AS orphan_children,
  cast(coalesce(min(CASE WHEN is_p AND is_c THEN cc END), 0) AS bigint) AS min_children,
  cast(coalesce(max(CASE WHEN is_p AND is_c THEN cc END), 0) AS bigint) AS max_children
FROM j
"""


# hotkey oracle: exact counts — the merged Count-Min estimate equals the
# truth when the column's distinct keys don't collide in any sketch row,
# which at this cardinality/width is DETERMINISTIC (fixed seed, fixed
# hash family), not probabilistic-per-run; the gate verifies it holds.
ORACLE["hotkey_topk"] = """
WITH c AS (
  SELECT cast(event_type AS varchar) AS key, count(*) AS c
  FROM events WHERE event_type IS NOT NULL GROUP BY 1
), t AS (SELECT coalesce(sum(c), 0) AS total FROM c)
SELECT 'event_type' AS "column", key, cast(c AS bigint) AS est_count,
       cast(t.total AS bigint) AS n_values,
       cast(c * 10000 // t.total AS bigint) AS share_bp
FROM c CROSS JOIN t ORDER BY c DESC, key ASC LIMIT 5
"""


# MI oracle mirrors mutual_information term-for-term: NULL its own
# category, every entropy via (ln n − Σ c·ln c / n) / ln2 with the same
# inlined ln(2) literal, MI clamped at 0, all rounded to 6 dp.
def _mi_pair_sql(x: str, y: str) -> str:
    # marginal entropy sums in the operator's JOINT-ROW form
    # (Σ_x cx·ln cx ≡ Σ_joint c·ln cx via window sums) so both engines
    # evaluate the same per-row terms before the 6-dp rounded fold
    return f"""
SELECT '{x}' AS col_x, '{y}' AS col_y, n,
       round(ex, 6) AS h_x_bits, round(ey, 6) AS h_y_bits,
       round(exy, 6) AS h_xy_bits,
       round(greatest(ex + ey - exy, 0.0), 6) AS mi_bits
FROM (
  WITH joint AS (
    SELECT {x} AS x, {y} AS y, count(*) AS c FROM lineitem GROUP BY 1, 2
  ), en AS (
    SELECT c,
      cast(c AS double) * ln(cast(c AS double)) AS texy,
      cast(c AS double) * ln(cast(sum(c) OVER (PARTITION BY x) AS double)) AS tex,
      cast(c AS double) * ln(cast(sum(c) OVER (PARTITION BY y) AS double)) AS tey
    FROM joint
  ), s AS (
    SELECT cast(coalesce(sum(c), 0) AS bigint) AS n,
           sum(texy) AS sxy, sum(tex) AS sx, sum(tey) AS sy
    FROM en
  )
  SELECT n,
    CASE WHEN n > 0 THEN (ln(cast(n AS double)) - sx / cast(n AS double)) / 0.6931471805599453 ELSE 0.0 END AS ex,
    CASE WHEN n > 0 THEN (ln(cast(n AS double)) - sy / cast(n AS double)) / 0.6931471805599453 ELSE 0.0 END AS ey,
    CASE WHEN n > 0 THEN (ln(cast(n AS double)) - sxy / cast(n AS double)) / 0.6931471805599453 ELSE 0.0 END AS exy
  FROM s)"""


ORACLE["mutual_information"] = "\nUNION ALL\n".join(
    _mi_pair_sql(x, y)
    for x, y in (("l_returnflag", "l_linestatus"), ("l_linenumber", "l_returnflag"))
)


# benford oracle: identical exact-integer digit extraction (scale by 100,
# round half-up — equal for non-negative doubles in both engines — cast
# to int64, first character of the INTEGER string) and the same
# precomputed expected_bp literals (BENFORD_EXPECTED_BP).
def _benford_col_sql(col: str) -> str:
    return f"""
SELECT '{col}' AS "column", d.digit, cast(coalesce(f.n, 0) AS bigint) AS n,
       cast(CASE WHEN t.total = 0 THEN 0
            ELSE coalesce(f.n, 0) * 10000 // t.total END AS bigint) AS share_bp,
       cast(CASE d.digit WHEN 1 THEN 3010 WHEN 2 THEN 1760 WHEN 3 THEN 1249
            WHEN 4 THEN 969 WHEN 5 THEN 791 WHEN 6 THEN 669 WHEN 7 THEN 579
            WHEN 8 THEN 511 ELSE 457 END AS bigint) AS expected_bp
FROM (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit) d
LEFT JOIN (
  SELECT cast(substr(cast(v AS varchar), 1, 1) AS int) AS digit,
         count(*) AS n
  FROM (SELECT cast(round(abs(cast({col} AS double)) * 100.0) AS bigint) AS v
        FROM lineitem)
  WHERE v IS NOT NULL AND v > 0 GROUP BY 1
) f USING (digit)
CROSS JOIN (
  SELECT coalesce(count(*), 0) AS total
  FROM (SELECT cast(round(abs(cast({col} AS double)) * 100.0) AS bigint) AS v
        FROM lineitem)
  WHERE v IS NOT NULL AND v > 0
) t"""


ORACLE["benford"] = "\nUNION ALL\n".join(
    _benford_col_sql(c) for c in ("l_extendedprice", "l_quantity")
)

# Construction oracles for the perceptual near-dup queries: the corpus is a
# deterministic synthetic media table (seed 42, sf-independent size) unioned
# with a re-encode of every item, so the true near-dup set is EXACTLY the
# injected (original, copy) pairs — PNG re-encode of a decoded image is
# pixel-identical (dHash Hamming 0), gain-scaling preserves the spectral
# fingerprint (Hamming 0), and an MJPEG re-encode of smooth DIB frames
# matches frame-for-frame (score 1.0).  Distinct items are independent
# noise/gradients: a chance pair within the Hamming radius has probability
# ~C(64,6)/2^64 ≈ 4e-12 per pair and the fixed seed makes even that
# deterministic — verified exact at the gate scale.  The oracle enumerates
# the construction's ground truth from the id scheme (m-{3i} images,
# m-{3i+1} audio, v-{i} videos); the Spark side must reproduce it through
# REAL decode (JPEG/PNG/BMP pixels, WAV samples, AVI frames) + perceptual
# hashing + capped LSH banding, so recall AND precision are both gated.
ORACLE["image_near_dups"] = """
SELECT 'm-' || cast(3*i AS varchar) AS id_a,
       'm-' || cast(3*i AS varchar) || '::png' AS id_b,
       cast(0 AS integer) AS hamming,
       false AS truncated
FROM generate_series(0, 29) t(i)
"""

ORACLE["audio_near_dups"] = """
SELECT 'm-' || cast(3*i+1 AS varchar) AS id_a,
       'm-' || cast(3*i+1 AS varchar) || '::q' AS id_b,
       cast(0 AS integer) AS hamming,
       false AS truncated
FROM generate_series(0, 19) t(i)
"""

# media_dims / video_frame_grid: the generator's closed-form id scheme
# (synth_media: kind = id % 3; image dims 8+i%16 × 8+(i//3)%16; audio
# 4 kHz, 1.0+(i%5)*0.5 s; video dims 8+i%8 × 8+(i//3)%8, 2+(i//3)%3
# frames at 4 fps) replayed in SQL — the Spark side must recover every
# value through REAL container decode.
ORACLE["media_dims"] = """
SELECT 'm-' || cast(i AS varchar) AS media_ref,
  CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
    AS media_kind,
  CASE i % 3 WHEN 0 THEN cast(8 + i % 16 AS integer)
             WHEN 2 THEN cast(8 + i % 8 AS integer) END AS width,
  CASE i % 3 WHEN 0 THEN cast(8 + (i // 3) % 16 AS integer)
             WHEN 2 THEN cast(8 + (i // 3) % 8 AS integer) END AS height,
  CASE i % 3 WHEN 1 THEN cast(1000 + (i % 5) * 500 AS integer)
             WHEN 2 THEN cast((2 + (i // 3) % 3) * 250 AS integer) END
    AS duration_ms,
  CASE i % 3 WHEN 1 THEN cast(4000 AS integer) END AS sample_rate,
  -- MP4 videos ((i//3)%3 == 2 under mp4_videos=True) are header-probed:
  -- real dims/duration, decoded=false (frames stay opaque)
  NOT (i % 3 = 2 AND (i // 3) % 3 = 2) AS decoded
FROM generate_series(0, 199) t(i)
"""

ORACLE["media_format_check"] = """
SELECT 'm-' || cast(i AS varchar) AS media_ref,
  CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
    AS media_kind,
  CASE i % 3
    WHEN 0 THEN (CASE (i // 3) % 3 WHEN 0 THEN 'png'
                 WHEN 1 THEN 'bmp' ELSE 'jpeg' END)
    WHEN 1 THEN 'wav'
    ELSE (CASE (i // 3) % 3 WHEN 2 THEN 'mp4' ELSE 'avi' END) END AS sniffed,
  true AS format_ok
FROM generate_series(0, 199) t(i)
"""

ORACLE["container_probe"] = """
SELECT 'm-' || cast(i AS varchar) AS media_ref,
  CASE i % 3
    WHEN 0 THEN (CASE (i // 3) % 3 WHEN 0 THEN 'png'
                 WHEN 1 THEN 'bmp' ELSE 'jpeg' END)
    WHEN 1 THEN 'wav'
    ELSE (CASE (i // 3) % 3 WHEN 2 THEN 'mp4' ELSE 'avi' END) END
    AS container,
  CASE WHEN i % 3 = 2 THEN
    (CASE WHEN (i // 3) % 3 = 2 THEN 'avc1'
          WHEN (i // 3) % 2 = 0 THEN 'mjpg' ELSE 'dib' END) END AS codec,
  CASE WHEN i % 3 = 2 THEN cast(1 AS integer) END AS n_tracks,
  CASE WHEN i % 3 = 2 THEN false END AS has_audio,
  CASE WHEN i % 3 = 2 THEN cast(8 + i % 8 AS integer) END AS width,
  CASE WHEN i % 3 = 2 THEN cast(8 + (i // 3) % 8 AS integer) END AS height,
  CASE WHEN i % 3 = 2 THEN cast((2 + (i // 3) % 3) * 250 AS integer) END
    AS duration_ms
FROM generate_series(0, 119) t(i)
"""

ORACLE["video_frame_grid"] = """
SELECT 'm-' || cast(3*k+2 AS varchar) AS media_ref,
  cast(s AS integer) AS sample_ix,
  cast(s AS integer) AS frame_ix,
  cast(250 * s AS integer) AS ts_ms,
  cast(8 + (3*k+2) % 8 AS integer) AS width,
  cast(8 + k % 8 AS integer) AS height,
  true AS decoded
FROM generate_series(0, 39) t(k), generate_series(0, 3) u(s)
WHERE s <= 1 + k % 3
"""

ORACLE["video_near_dups"] = """
SELECT 'v-' || cast(i AS varchar) AS id_a,
       'v-' || cast(i AS varchar) || '::mj' AS id_b,
       cast(3 AS bigint) AS shared_frames,
       cast(3 AS integer) AS n_a,
       cast(3 AS integer) AS n_b,
       cast(1.0 AS double) AS score
FROM generate_series(0, 11) t(i)
"""


ORACLE["embedding_health"] = """
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(coalesce(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_null_vec,
  CAST(coalesce(sum(CASE WHEN len(embedding) = 0 THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_empty_vec,
  CAST(coalesce(sum(CASE WHEN embedding IS NOT NULL AND len(embedding) <> 64
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_wrong_dim,
  CAST(min(len(embedding)) AS BIGINT) AS min_dim,
  CAST(max(len(embedding)) AS BIGINT) AS max_dim,
  CAST(coalesce(sum(CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null_elem,
  CAST(coalesce(sum(CASE WHEN len(list_filter(embedding,
                         x -> isnan(x) OR isinf(x))) > 0
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nonfinite,
  CAST(coalesce(sum(CASE WHEN len(embedding) > 0
                         AND len(list_filter(embedding,
                             x -> x IS DISTINCT FROM 0)) = 0
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_zero_norm
FROM embeddings
"""



ORACLE["embedding_health_trend"] = """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id IS NOT NULL
), lim AS (
  SELECT greatest(max(greatest(vec_id, 0)) + 1, 1) AS m FROM base
), waved AS (
  SELECT CAST(least(4, greatest(vec_id, 0) * 5 // m) AS INTEGER) AS wave,
         embedding
  FROM base, lim
)
SELECT wave,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(coalesce(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_null_vec,
  CAST(coalesce(sum(CASE WHEN embedding IS NOT NULL AND len(embedding) <> 64
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_wrong_dim,
  CAST(coalesce(sum(CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null_elem,
  CAST(coalesce(sum(CASE WHEN len(list_filter(embedding,
                         x -> isnan(x) OR isinf(x))) > 0
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nonfinite,
  CAST(coalesce(sum(CASE WHEN len(embedding) > 0
                         AND len(list_filter(embedding,
                             x -> x IS DISTINCT FROM 0)) = 0
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_zero_norm,
  CAST(coalesce(sum(CASE WHEN embedding IS NOT NULL AND len(embedding) = 64
                         AND len(list_filter(embedding,
                             x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_valid
FROM waved GROUP BY 1
"""


def _rep_gram_sql(n: int) -> str:
    """Gram list for order *n* over the let-bound token list ``tk``."""
    return (
        f"CASE WHEN len(tk) >= {n} THEN list_transform("
        f"generate_series(1, len(tk) - {n - 1}), "
        f"i -> array_to_string(tk[i:i+{n - 1}], ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def _rep_bp_sql(expr: str) -> str:
    """bp clamp identical to the engine: least(10000, floor(10000.0·x/L))."""
    return (
        f"CASE WHEN text IS NULL THEN NULL "
        f"WHEN norm_len > 0 THEN least(10000, "
        f"CAST(floor(10000.0 * {expr} / norm_len) AS BIGINT)) "
        f"ELSE 0 END"
    )


# Quadratic-but-tiny per-row replay of the engine's sorted-run fold: for
# each DISTINCT gram g, cover(g) = occurrences(g) × chars(g); top = max
# cover, dup = Σ cover over grams occurring more than once.  Pure list
# lambdas — no unnest/GROUP BY, so NULL doc_ids never collapse (the
# engine is a per-row projection and must stay row-for-row comparable).
ORACLE["repetition_signals"] = f"""
WITH tok AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
), g AS (
  SELECT doc_id, text,
         length(array_to_string(tk, ' ')) AS norm_len,
         {_rep_gram_sql(2)} AS g2,
         {_rep_gram_sql(3)} AS g3,
         {_rep_gram_sql(5)} AS g5
  FROM tok
), m AS (
  SELECT doc_id, text, norm_len,
    coalesce(list_max(list_transform(list_distinct(g2),
      x -> len(list_filter(g2, y -> y = x)) * length(x))), 0) AS top2,
    coalesce(list_max(list_transform(list_distinct(g3),
      x -> len(list_filter(g3, y -> y = x)) * length(x))), 0) AS top3,
    coalesce(list_aggregate(list_transform(list_distinct(g5),
      x -> CASE WHEN len(list_filter(g5, y -> y = x)) > 1
                THEN len(list_filter(g5, y -> y = x)) * length(x)
                ELSE 0 END), 'sum'), 0) AS dup5
  FROM g
)
SELECT doc_id,
       {_rep_bp_sql('top2')} AS top2_bp,
       {_rep_bp_sql('top3')} AS top3_bp,
       {_rep_bp_sql('dup5')} AS dup5_bp
FROM m
"""


# Script classes shared with the engine (literal codepoint ranges, valid
# under Java regex and RE2 alike) — imported so the two sides can never
# drift apart.
def _script_mix_sql() -> str:
    from evalidate_spark.functions.text import SCRIPT_CLASSES

    cnt = {
        name: (
            "coalesce(length(text) - "
            f"length(regexp_replace(text, '{cls}', '', 'g')), NULL)"
        )
        for name, cls in SCRIPT_CLASSES.items()
    }
    cols = ",\n  ".join(
        f"CAST({c} AS BIGINT) AS {name}_n" for name, c in cnt.items()
    )
    ns = " + ".join(
        f"CASE WHEN {name}_n > 0 THEN 1 ELSE 0 END" for name in cnt
    )
    return f"""
WITH c AS (
  SELECT doc_id, text,
  {cols}
  FROM documents
)
SELECT doc_id, {', '.join(f'{n}_n' for n in cnt)},
       CAST(({ns}) AS INTEGER) AS n_scripts,
       ({ns}) >= 2 AS mixed
FROM c
"""


ORACLE["script_mix"] = _script_mix_sql()

# the JSON-Schema-imported rule set is semantically identical to the
# hand-built flagship spec — same oracle, by construction (see
# DOC_JSON_SCHEMA)
ORACLE["jsonschema_validate"] = ORACLE["validate_documents"]

def _value_shapes_sql(cols, top_k) -> str:
    """DuckDB replay of value_shapes over *cols* — the shape chain is
    built from the ENGINE's own _SHAPE_STEPS so the two sides cannot
    drift."""
    from evalidate_spark.operators.table_checks import (
        _SHAPE_MAXLEN,
        _SHAPE_STEPS,
    )

    def chain(c):
        e = f"CAST({c} AS VARCHAR)"
        for pat, rep in _SHAPE_STEPS:
            e = f"regexp_replace({e}, '{pat}', '{rep}', 'g')"
        return f"substr({e}, 1, {_SHAPE_MAXLEN})"

    shapes = "\n  UNION ALL\n".join(
        f"""SELECT '{c}' AS "column",
    CASE WHEN {c} IS NULL THEN '<null>'
         WHEN {chain(c)} = '' THEN '<empty>'
         ELSE {chain(c)} END AS shape
  FROM documents"""
        for c in cols
    )
    return f"""
WITH s AS (
  {shapes}
), c AS (
  SELECT "column", shape, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1, 2
), r AS (
  SELECT "column", shape, n,
         row_number() OVER (PARTITION BY "column" ORDER BY n DESC, shape ASC) AS rn,
         sum(n) OVER (PARTITION BY "column") AS t
  FROM c
)
SELECT "column", shape, n, CAST(n * 10000 // greatest(t, 1) AS BIGINT) AS share_bp
FROM r WHERE rn <= {top_k}
"""


ORACLE["value_shapes"] = _value_shapes_sql(["lang", "source"], 5)

ORACLE["dup_cluster_sizes"] = f"""
WITH comp AS ({ORACLE["dup_clusters"]}), per AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY 1
)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM per GROUP BY 1
"""

def _lang_agreement_sql() -> str:
    """DuckDB replay of lang_id's argmax (marker lists imported from the
    ENGINE's LANG_MARKERS; ties prefer marker-table order, zero hits →
    'und', NULL text → NULL guess) + the confusion roll-up."""
    from evalidate_spark.functions.text import LANG_MARKERS

    langs = list(LANG_MARKERS)  # insertion order = tie-break priority
    hit_cols = ",\n    ".join(
        "len(list_filter(tk, t -> lower(t) IN ({}))) AS h_{}".format(
            ", ".join("'%s'" % w for w in LANG_MARKERS[l]), l
        )
        for l in langs
    )
    # ties prefer earlier languages: each branch only needs >= later ones
    branches = []
    for i, l in enumerate(langs[:-1]):
        conds = " AND ".join(f"h_{l} >= h_{m}" for m in langs[i + 1:])
        branches.append(f"WHEN {conds} THEN '{l}'")
    guess = f"""CASE WHEN text IS NULL THEN NULL
       WHEN greatest({', '.join('h_' + l for l in langs)}) = 0 THEN 'und'
       {' '.join(branches)}
       ELSE '{langs[-1]}' END"""
    return f"""
WITH tok AS (
  SELECT lang, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
), h AS (
  SELECT lang, text,
    {hit_cols}
  FROM tok
), g AS (
  SELECT lang, {guess} AS lang_guess FROM h
)
SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n,
       lang IS NOT DISTINCT FROM lang_guess AS agree
FROM g GROUP BY 1, 2
"""


ORACLE["lang_agreement"] = _lang_agreement_sql()

ORACLE["span_text_quality"] = f"""
WITH rec AS ({ORACLE["span_reconstruct"]})
SELECT doc_id,
  CAST(len(list_filter(string_split_regex(rendered, '\\s+'), x -> x <> ''))
       AS BIGINT) AS n_tokens,
  CAST(length(rendered) AS BIGINT) AS n_chars,
  CAST(CASE WHEN n_text_spans + n_media_spans > 0
            THEN n_media_spans * 10000 // greatest(n_text_spans + n_media_spans, 1)
            ELSE 0 END AS BIGINT) AS media_density_bp
FROM rec
"""

ORACLE["line_dedup"] = """
WITH src AS (
  SELECT doc_id, text || chr(10) || lang || chr(10) || source AS text
  FROM documents
), base AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM src WHERE text IS NOT NULL
), lines AS (
  SELECT doc_id, i - 1 AS pos, ls[i] AS l
  FROM base, unnest(generate_series(1, len(ls))) t(i)
), dup AS (
  SELECT l FROM lines WHERE l <> '' GROUP BY l HAVING count(*) >= 2
), flagged AS (
  SELECT doc_id, pos, l, l IN (SELECT l FROM dup) AS isdup FROM lines
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CASE WHEN isdup THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  coalesce(string_agg(CASE WHEN isdup THEN NULL ELSE l END, chr(10)
                      ORDER BY pos, l), '') AS text_clean
FROM flagged GROUP BY doc_id
"""

ORACLE["k_anonymity"] = """
WITH g AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
)
SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(n) AS BIGINT) AS min_group_size,
       CAST(coalesce(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_small_groups,
       CAST(coalesce(sum(CASE WHEN n < 5 THEN n ELSE 0 END), 0) AS BIGINT)
         AS n_rows_at_risk,
       coalesce(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END), 0) = 0 AS k_anonymous
FROM g
"""

ORACLE["group_completeness"] = """
WITH per AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu,
         CAST(sum(CASE WHEN value   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nv,
         CAST(sum(CASE WHEN props   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS np
  FROM events WHERE event_type IS NOT NULL GROUP BY 1
), t AS (
  SELECT sum(n_rows) AS tn, sum(nu) AS tu, sum(nv) AS tv, sum(np) AS tp FROM per
), e AS (
  SELECT event_type, n_rows, 'user_id' AS "column", nu AS n_nulls, tu AS tnulls, tn FROM per, t
  UNION ALL
  SELECT event_type, n_rows, 'value', nv, tv, tn FROM per, t
  UNION ALL
  SELECT event_type, n_rows, 'props', np, tp, tn FROM per, t
), r AS (
  SELECT event_type, "column", n_rows, n_nulls,
    CAST(n_nulls * 10000 // greatest(n_rows, 1) AS BIGINT) AS null_bp,
    CAST(CASE WHEN tn - n_rows > 0
              THEN (tnulls - n_nulls) * 10000 // greatest(tn - n_rows, 1)
         END AS BIGINT) AS base_null_bp
  FROM e
)
SELECT event_type, "column", n_rows, n_nulls, null_bp, base_null_bp,
       coalesce(null_bp - base_null_bp >= 500, false) AS null_anomaly
FROM r
"""

ORACLE["rate_anomalies"] = """
WITH c AS (
  SELECT e - e % 86400 AS bucket_s, CAST(count(*) AS BIGINT) AS n_events
  FROM (SELECT epoch_us(ts) // 1000000 AS e FROM events WHERE ts IS NOT NULL)
  GROUP BY 1
), t AS (SELECT sum(n_events) AS tn, count(*) AS k FROM c),
r AS (
  SELECT bucket_s, n_events,
    CAST(CASE WHEN k > 1 AND tn - n_events > 0
              THEN n_events * (k - 1) * 10000 // greatest(tn - n_events, 1)
         END AS BIGINT) AS rate_bp
  FROM c, t
)
SELECT CAST(bucket_s AS BIGINT) AS bucket_s, n_events, rate_bp,
       coalesce(rate_bp >= 20000, false) AS spike,
       coalesce(rate_bp <= 5000, false) AS "drop"
FROM r
"""


ORACLE["fuzzy_matches"] = r"""
WITH typos AS (
  SELECT p_partkey + 10000000 AS p_partkey,
         substr(p_name, 1, 5 + (p_partkey % 4)) ||
         substr(p_name, 7 + (p_partkey % 4), length(p_name)) AS p_name
  FROM part WHERE p_partkey % 7 = 0 AND length(p_name) >= 10
), names AS (
  SELECT p_partkey, p_name FROM part
  UNION ALL SELECT p_partkey, p_name FROM typos
), n AS (
  SELECT p_partkey AS id,
         trim(regexp_replace(regexp_replace(regexp_replace(
           translate(lower(p_name), 'DIAC_FROM', 'DIAC_TO'),
           'WS_CLASS', ' ', 'g'), '[^\x20-\x7e]', '', 'g'), ' +', ' ', 'g')) AS norm
  FROM names WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
), nb AS (
  SELECT id, norm, substr(norm, 1, 4) AS block,
         md5(norm || '|' || cast(id AS varchar)) AS ord
  FROM n WHERE length(norm) > 0
), capped AS (
  SELECT id, norm, block FROM (
    SELECT id, norm, block,
           row_number() OVER (PARTITION BY block ORDER BY ord) AS rn,
           count(*) OVER (PARTITION BY block) AS gsz
    FROM nb)
  WHERE gsz >= 2 AND rn <= 50
)
SELECT a.id AS id_a, b.id AS id_b, a.block AS block,
       cast(levenshtein(a.norm, b.norm) AS int) AS dist
FROM capped a JOIN capped b ON a.block = b.block AND a.id < b.id
WHERE abs(length(a.norm) - length(b.norm)) <= 2
  AND levenshtein(a.norm, b.norm) <= 2
""".replace("DIAC_FROM", dedup._DIAC_FROM).replace(
    "DIAC_TO", dedup._DIAC_TO
).replace("WS_CLASS", dedup._WS_CLASS)


ORACLE["cooccurring_pairs"] = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), tok2 AS (
  SELECT doc_id, t FROM tok WHERE t <> ''
), freq AS (
  SELECT t FROM tok2 GROUP BY t HAVING count(*) >= 300
), kept AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, t,
           row_number() OVER (PARTITION BY doc_id ORDER BY t) AS rn,
           count(*) OVER (PARTITION BY doc_id) AS gsz
    FROM tok2 WHERE t IN (SELECT t FROM freq))
  WHERE rn <= 30 AND gsz >= 2
), pairs AS (
  SELECT a.t AS t_a, b.t AS t_b
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.t < b.t
)
SELECT t_a, t_b, cast(count(*) AS bigint) AS n_docs
FROM pairs GROUP BY t_a, t_b HAVING count(*) >= 300
ORDER BY n_docs DESC, t_a, t_b LIMIT 30
"""


ORACLE["readability"] = """
WITH b AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN NULL
         ELSE len(list_filter(string_split(text, ' '), x -> x <> '')) END AS w,
    length(regexp_replace(lower(text), '[.!?]+', chr(1), 'g'))
      - length(regexp_replace(lower(text), '[.!?]+', '', 'g')) AS sent_raw,
    length(regexp_replace(lower(text), '[aeiouy]+', chr(1), 'g'))
      - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS y
  FROM documents
), c AS (
  SELECT doc_id, w, greatest(sent_raw, 1) AS s, y FROM b
)
SELECT doc_id,
  cast(w AS bigint) AS n_words,
  CASE WHEN w > 0 THEN cast(s AS bigint) END AS n_sentences,
  cast(y AS bigint) AS n_syllables,
  CASE WHEN w IS NULL OR w = 0 THEN NULL
       WHEN 206835*s*w - 1015*w*w - 84600*y*s >= 70000*s*w THEN 'easy'
       WHEN 206835*s*w - 1015*w*w - 84600*y*s >= 50000*s*w THEN 'standard'
       WHEN 206835*s*w - 1015*w*w - 84600*y*s >= 30000*s*w THEN 'difficult'
       ELSE 'very_difficult' END AS reading_class
FROM c
"""


ORACLE["association_rules"] = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), tok2 AS (
  SELECT doc_id, t FROM tok WHERE t <> ''
), freq AS (
  SELECT t, cast(count(*) AS bigint) AS df
  FROM tok2 GROUP BY t HAVING count(*) >= 300
), kept AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, t,
           row_number() OVER (PARTITION BY doc_id ORDER BY t) AS rn,
           count(*) OVER (PARTITION BY doc_id) AS gsz
    FROM tok2 WHERE t IN (SELECT t FROM freq))
  WHERE rn <= 30 AND gsz >= 2
), pc AS (
  SELECT a.t AS t_a, b.t AS t_b, cast(count(*) AS bigint) AS n
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY t_a, t_b HAVING count(*) >= 300
), dirs AS (
  SELECT t_a AS ante, t_b AS cons, n FROM pc
  UNION ALL SELECT t_b AS ante, t_a AS cons, n FROM pc
), tot AS (
  SELECT cast(count(*) AS bigint) AS nn FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
)
SELECT ante, cons, n AS n_pair, fa.df AS n_ante,
       (10000 * n) // fa.df AS conf_bp,
       tot.nn * n > fa.df * fc.df AS lift_gt1
FROM dirs
JOIN freq fa ON fa.t = dirs.ante
JOIN freq fc ON fc.t = dirs.cons
CROSS JOIN tot
WHERE (10000 * n) // fa.df >= 5000
ORDER BY conf_bp DESC, ante, cons LIMIT 30
"""


ORACLE["suppress_repeats"] = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events
), l AS (
  SELECT event_id, user_id, event_type, tus,
         lag(event_type) OVER w AS pv,
         lag(tus) OVER w AS pt
  FROM e
  WINDOW w AS (PARTITION BY user_id
               ORDER BY tus ASC NULLS FIRST, event_id ASC NULLS FIRST)
)
SELECT event_id, user_id, event_type,
  NOT coalesce(pt IS NOT NULL AND tus IS NOT NULL
               AND (event_type IS NOT DISTINCT FROM pv)
               AND tus - pt <= 3600000000, false) AS kept
FROM l
"""


ORACLE["table_diff"] = """
WITH after AS (
  SELECT o_orderkey,
         o_custkey,
         o_orderstatus,
         CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate,
         CASE WHEN o_orderkey % 89 = 0 THEN '9-RECHECK'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 101 = 0
), before AS (
  SELECT *, 1 AS b_mark FROM orders
), after_m AS (
  SELECT *, 1 AS a_mark FROM after
), j AS (
  -- presence from literal markers, NOT from key IS NOT NULL: a row whose
  -- KEY VALUE is NULL exists on its side but would read as absent
  SELECT b.o_orderkey AS bk, a.o_orderkey AS ak,
         b.b_mark IS NOT NULL AS b_present,
         a.a_mark IS NOT NULL AS a_present,
         concat_ws(',',
           CASE WHEN b.o_custkey IS DISTINCT FROM a.o_custkey
                THEN 'o_custkey' END,
           CASE WHEN b.o_orderdate IS DISTINCT FROM a.o_orderdate
                THEN 'o_orderdate' END,
           CASE WHEN b.o_orderpriority IS DISTINCT FROM a.o_orderpriority
                THEN 'o_orderpriority' END,
           CASE WHEN b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
                THEN 'o_orderstatus' END,
           CASE WHEN b.o_totalprice IS DISTINCT FROM a.o_totalprice
                THEN 'o_totalprice' END) AS diffs
  FROM before b FULL OUTER JOIN after_m a ON b.o_orderkey = a.o_orderkey
)
SELECT coalesce(bk, ak) AS o_orderkey,
       CASE WHEN NOT b_present THEN 'added'
            WHEN NOT a_present THEN 'removed'
            WHEN diffs <> '' THEN 'changed' END AS change,
       CASE WHEN NOT b_present OR NOT a_present THEN '' ELSE diffs END
         AS changed_cols
FROM j
WHERE (NOT b_present) OR (NOT a_present) OR diffs <> ''
"""

ORACLE["reconcile_totals"] = """
WITH agg AS (
  SELECT l_orderkey AS k, count(*) AS n,
         sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS s
  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1
), r AS (
  SELECT o_orderkey,
         CAST(coalesce(n, 0) AS BIGINT) AS n_fact_rows,
         CAST(s AS DECIMAL(38,2)) AS fact_sum,
         CAST(o_totalprice AS DECIMAL(38,2)) AS stored_value,
         CAST(s - CAST(o_totalprice AS DECIMAL(38,2)) AS DECIMAL(38,2))
           AS diff,
         CASE WHEN s IS NULL THEN false
              ELSE abs(s - CAST(o_totalprice AS DECIMAL(38,2))) <= 0
         END AS matched
  FROM orders LEFT JOIN agg ON o_orderkey = k
  WHERE o_orderkey IS NOT NULL
)
SELECT o_orderkey, n_fact_rows,
       CAST(fact_sum * 100 AS BIGINT) AS fact_sum_c,
       CAST(stored_value * 100 AS BIGINT) AS stored_value_c,
       CAST(diff * 100 AS BIGINT) AS diff_c,
       matched
FROM r WHERE diff IS NOT NULL
ORDER BY abs(diff) DESC, o_orderkey ASC LIMIT 200
"""

ORACLE["changelog_compact"] = """
WITH r AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC NULLS LAST,
                                     event_id DESC NULLS LAST) AS rn
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT user_id, event_id, event_type FROM r
WHERE rn = 1 AND (event_type IS NULL OR event_type <> 'error')
"""

ORACLE["survivorship"] = """
WITH dup AS (
  SELECT text, CAST(min(doc_id) AS VARCHAR) AS cl
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
  GROUP BY 1 HAVING count(*) >= 2
), lab AS (
  SELECT d.doc_id AS id, dup.cl FROM documents d JOIN dup ON d.text = dup.text
), j AS (
  SELECT d.doc_id, d.lang, d.source, d.n_chars,
         coalesce(lab.cl, CAST(d.doc_id AS VARCHAR)) AS cluster_id
  FROM documents d LEFT JOIN lab ON d.doc_id = lab.id
  WHERE d.doc_id IS NOT NULL
), w AS (
  SELECT cluster_id,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS n_members,
         row_number() OVER ord AS rn,
         doc_id,
         first_value(lang IGNORE NULLS) OVER full_w AS lang,
         first_value(source IGNORE NULLS) OVER full_w AS source,
         n_chars
  FROM j
  WINDOW ord AS (PARTITION BY cluster_id
                 ORDER BY n_chars DESC NULLS LAST, doc_id ASC),
         full_w AS (PARTITION BY cluster_id
                    ORDER BY n_chars DESC NULLS LAST, doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)
)
SELECT cluster_id, n_members, doc_id, lang, source, n_chars
FROM w WHERE rn = 1
"""

ORACLE["promo_attribution"] = """
WITH promos AS (
  SELECT o_orderkey AS promo_id, o_orderdate AS s,
         o_orderdate + INTERVAL 14 DAY AS e
  FROM orders WHERE o_orderkey % 499 = 0 AND o_orderdate IS NOT NULL
)
SELECT p.promo_id, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o JOIN promos p
  ON o.o_orderdate >= p.s AND o.o_orderdate <= p.e
WHERE o.o_orderdate IS NOT NULL
GROUP BY 1 ORDER BY 1
"""

ORACLE["funnel"] = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), f1 AS (
  SELECT user_id, min(t) AS at FROM e WHERE event_type = 'signup' GROUP BY 1
), f2 AS (
  SELECT e.user_id, min(e.t) AS at FROM e JOIN f1 USING (user_id)
  WHERE e.event_type = 'view' AND e.t >= f1.at GROUP BY 1
), f3 AS (
  SELECT e.user_id, min(e.t) AS at FROM e JOIN f2 USING (user_id)
  WHERE e.event_type = 'click' AND e.t >= f2.at GROUP BY 1
), f4 AS (
  SELECT e.user_id, min(e.t) AS at FROM e JOIN f3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.t >= f3.at GROUP BY 1
), c AS (
  SELECT 1 AS step_ix, 'signup' AS step, (SELECT count(*) FROM f1) AS n
  UNION ALL
  SELECT 2, 'view', (SELECT count(*) FROM f2)
  UNION ALL
  SELECT 3, 'click', (SELECT count(*) FROM f3)
  UNION ALL
  SELECT 4, 'purchase', (SELECT count(*) FROM f4)
), w AS (
  SELECT step_ix, step, n,
         lag(n) OVER (ORDER BY step_ix) AS prev,
         first_value(n) OVER (ORDER BY step_ix) AS head
  FROM c
)
SELECT step_ix, step, CAST(n AS BIGINT) AS n_entities,
  CAST(CASE WHEN prev > 0 THEN (10000 * n) // prev END AS BIGINT)
    AS conv_from_prev_bp,
  CAST(CASE WHEN step_ix > 1 AND head > 0 THEN (10000 * n) // head END
       AS BIGINT) AS conv_from_first_bp
FROM w
"""

ORACLE["cohort_retention"] = """
WITH b AS (
  SELECT user_id, epoch_us(ts) // 604800000000 AS bkt FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), f AS (
  SELECT user_id, min(bkt) AS cohort FROM b GROUP BY 1
), a AS (
  SELECT DISTINCT b.user_id, f.cohort, b.bkt - f.cohort AS off
  FROM b JOIN f USING (user_id)
), s AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1
), g AS (
  SELECT cohort, off, CAST(count(*) AS BIGINT) AS n_active
  FROM a GROUP BY 1, 2
)
SELECT g.cohort AS cohort_bucket, g.off AS period_offset, n_active,
       cohort_size,
       CAST((10000 * n_active) // cohort_size AS BIGINT) AS retention_bp
FROM g JOIN s USING (cohort) ORDER BY 1, 2
"""


ORACLE["rolling_actives"] = """
WITH pairs AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), b AS (SELECT min(d) AS lo, max(d) AS hi FROM pairs),
spine AS (SELECT unnest(generate_series(lo, hi)) AS bucket FROM b),
cov AS (
  SELECT DISTINCT p.user_id, u.c AS bucket
  FROM pairs p, b, unnest(generate_series(p.d, least(p.d + 6, b.hi))) AS u(c)
),
roll AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rolling_users
         FROM cov GROUP BY 1),
daily AS (SELECT d AS bucket, CAST(count(*) AS BIGINT) AS daily_users
          FROM pairs GROUP BY 1)
SELECT s.bucket, CAST(coalesce(daily_users, 0) AS BIGINT) AS daily_users,
       CAST(coalesce(rolling_users, 0) AS BIGINT) AS rolling_users
FROM spine s LEFT JOIN daily USING (bucket) LEFT JOIN roll USING (bucket)
ORDER BY 1
"""

ORACLE["scd2_history"] = """
WITH ordered AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us,
         row_number() OVER w AS rn,
         lag(event_type) OVER w AS prev_v,
         (row_number() OVER w) = 1 AS first
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
), changes AS (
  SELECT user_id, event_type, t_us, rn FROM ordered
  WHERE first OR event_type IS DISTINCT FROM prev_v
)
SELECT user_id, event_type, t_us AS valid_from_us,
       lead(t_us) OVER w2 AS valid_to_us,
       CAST(row_number() OVER w2 AS INTEGER) AS version_ix,
       (lead(1) OVER w2) IS NULL AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY t_us ASC NULLS FIRST, rn ASC)
"""

ORACLE["gap_profile"] = """
WITH live AS (
  SELECT user_id, epoch_us(ts) AS t FROM events WHERE ts IS NOT NULL
), g AS (
  SELECT user_id,
         t - lag(t) OVER (PARTITION BY user_id ORDER BY t ASC) AS gap
  FROM live
), r AS (
  SELECT user_id, gap,
         CASE WHEN gap IS NOT NULL THEN
           row_number() OVER (
             PARTITION BY user_id ORDER BY gap ASC NULLS FIRST) - 1
         END AS rn,
         count(gap) OVER (PARTITION BY user_id) AS ng
  FROM g
)
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(coalesce(max(ng), 0) AS BIGINT) AS n_gaps,
  min(gap) AS min_gap_us,
  max(CASE WHEN rn = (50 * ng + 99) // 100 THEN gap END) AS p50_gap_us,
  max(CASE WHEN rn = (90 * ng + 99) // 100 THEN gap END) AS p90_gap_us,
  max(gap) AS max_gap_us,
  CASE WHEN max(ng) > 0
       THEN CAST(sum(gap) // max(ng) AS BIGINT) END AS mean_gap_us
FROM r GROUP BY 1
"""

ORACLE["calibration"] = f"""
WITH s AS ({ORACLE["classifier_scores"]}),
g AS ({ORACLE["gopher_rules"]}),
j AS (
  SELECT s.logit_milli AS sc, g.passes AS lab
  FROM s JOIN g ON s.doc_id = g.doc_id
  WHERE s.logit_milli IS NOT NULL AND g.passes IS NOT NULL
), b AS (SELECT min(sc) AS lo, max(sc) AS hi FROM j),
binned AS (
  SELECT ((sc - lo) * 10) // (hi - lo + 1) AS bin_ix, sc, lab, lo, hi
  FROM j, b
)
SELECT bin_ix,
  CAST(min(lo + (bin_ix * (hi - lo + 1) + 9) // 10) AS BIGINT) AS bin_lo,
  CAST(min(lo + ((bin_ix + 1) * (hi - lo + 1) + 9) // 10 - 1)
       AS BIGINT) AS bin_hi,
  CAST(count(*) AS BIGINT) AS n,
  CAST(coalesce(count(*) FILTER (lab), 0) AS BIGINT) AS n_pos,
  CAST((10000 * coalesce(count(*) FILTER (lab), 0)) // count(*)
       AS BIGINT) AS pos_rate_bp
FROM binned GROUP BY 1
"""


ORACLE["rate_changepoints"] = """
WITH cnt AS (
  SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 86400) AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), bo AS (SELECT min(b) AS lo, max(b) AS hi FROM cnt),
spine AS (SELECT unnest(generate_series(lo, hi, 86400)) AS bucket_s FROM bo),
dense AS (
  SELECT bucket_s, CAST(coalesce(n, 0) AS BIGINT) AS n_events
  FROM spine LEFT JOIN cnt ON bucket_s = b
), sc AS (
  SELECT bucket_s, n_events,
    sum(n_events) OVER (ORDER BY bucket_s
        ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS sb,
    count(*) OVER (ORDER BY bucket_s
        ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS cb,
    sum(n_events) OVER (ORDER BY bucket_s
        ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS sa,
    count(*) OVER (ORDER BY bucket_s
        ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS ca
  FROM dense
)
SELECT bucket_s, n_events,
  CASE WHEN cb = 3 AND ca = 3 THEN CAST(sb AS BIGINT) END AS sum_before,
  CASE WHEN cb = 3 AND ca = 3 THEN CAST(sa AS BIGINT) END AS sum_after,
  CASE WHEN cb = 3 AND ca = 3 AND sb > 0
       THEN CAST((10000 * sa) // sb AS BIGINT) END AS ratio_bp,
  CASE WHEN cb = 3 AND ca = 3 THEN
    CASE WHEN sb = 0 THEN sa > 0
         ELSE (10000 * sa) // sb >= 12000 OR (10000 * sa) // sb <= 8000 END
  ELSE false END AS shift
FROM sc
"""

ORACLE["completeness_trend"] = """
WITH masked AS (
  SELECT ts, CASE WHEN value >= 20.0 THEN value END AS value, event_type
  FROM events
), pb AS (
  SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 86400) AS b,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_v,
    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS nu_e
  FROM masked WHERE ts IS NOT NULL GROUP BY 1
), ix AS (
  SELECT *, row_number() OVER (ORDER BY b) - 1 AS x,
         (row_number() OVER (ORDER BY b DESC)) = 1 AS is_last,
         (10000 * nu_v) // n AS y_v,
         (10000 * nu_e) // n AS y_e
  FROM pb
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y_v) AS BIGINT) AS sy_v,
         CAST(sum(x * y_v) AS BIGINT) AS sxy_v,
         min(CASE WHEN x = 0 THEN y_v END) AS f_v,
         max(CASE WHEN is_last THEN y_v END) AS l_v,
         CAST(sum(y_e) AS BIGINT) AS sy_e,
         CAST(sum(x * y_e) AS BIGINT) AS sxy_e,
         min(CASE WHEN x = 0 THEN y_e END) AS f_e,
         max(CASE WHEN is_last THEN y_e END) AS l_e
  FROM ix
)
SELECT 'value' AS "column", k AS n_buckets, f_v AS first_bp, l_v AS last_bp,
  CAST(sy_v // k AS BIGINT) AS mean_bp,
  CASE WHEN k > 1 THEN CAST(
    (CASE WHEN k * sxy_v - sx * sy_v < 0 THEN -1 ELSE 1 END)
    * ((100 * abs(k * sxy_v - sx * sy_v)) // (k * sxx - sx * sx))
    AS BIGINT) END AS slope_cbp
FROM m
UNION ALL
SELECT 'event_type', k, f_e, l_e, CAST(sy_e // k AS BIGINT),
  CASE WHEN k > 1 THEN CAST(
    (CASE WHEN k * sxy_e - sx * sy_e < 0 THEN -1 ELSE 1 END)
    * ((100 * abs(k * sxy_e - sx * sy_e)) // (k * sxx - sx * sx))
    AS BIGINT) END
FROM m
"""


ORACLE["order_islands"] = """
WITH iv AS (
  SELECT o_custkey, epoch_us(o_orderdate) AS s,
         epoch_us(o_orderdate) + 604800000000 AS e
  FROM orders WHERE o_orderdate IS NOT NULL
), m AS (
  SELECT o_custkey, s, e,
    max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
), marked AS (
  SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni FROM m
), isl AS (
  SELECT *, sum(ni) OVER (PARTITION BY o_custkey ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
)
SELECT o_custkey, CAST(island AS BIGINT) AS island_ix,
  min(s) AS island_start, max(e) AS island_end,
  CAST(count(*) AS BIGINT) AS n_intervals
FROM isl GROUP BY 1, 2
"""

ORACLE["fuzzy_links"] = f"""
WITH fm AS ({ORACLE["fuzzy_matches"]}),
live AS (SELECT id_a, id_b, dist FROM fm
         WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND dist IS NOT NULL),
d AS (SELECT id_a AS src, id_b AS dst, dist FROM live
      UNION ALL SELECT id_b, id_a, dist FROM live),
best AS (
  SELECT src, dst, dist FROM (
    SELECT *, row_number() OVER (
      PARTITION BY src ORDER BY dist ASC, dst ASC) AS rn FROM d)
  WHERE rn = 1
)
SELECT b1.src AS id_a, b1.dst AS id_b, b1.dist
FROM best b1 JOIN best b2 ON b1.dst = b2.src AND b1.src = b2.dst
WHERE b1.src < b1.dst
"""


ORACLE["resampled_values"] = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, value, event_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), bk AS (
  SELECT user_id, (us - us % 86400000000) // 86400000000 AS b, us, value,
         event_id
  FROM ev
), lastv AS (
  SELECT user_id, b, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, b ORDER BY us DESC, event_id DESC) AS rn
    FROM bk)
  WHERE rn = 1
), mx AS (SELECT max(b) AS gm FROM lastv),
sp AS (
  SELECT user_id, b, value,
    coalesce(lead(b) OVER (PARTITION BY user_id ORDER BY b) - 1,
             (SELECT gm FROM mx)) AS ub
  FROM lastv
), grid AS (
  SELECT user_id, b, value, unnest(generate_series(b, ub)) AS g FROM sp
)
SELECT user_id, CAST(g * 86400000000 AS BIGINT) AS bucket_start_us,
       value, g > b AS carried
FROM grid
"""

ORACLE["source_concentration"] = """
WITH pg AS (
  SELECT source AS g, CAST(sum(n_chars) AS HUGEINT) AS w
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
  GROUP BY 1
), r AS (
  SELECT g, w, CAST(row_number() OVER (ORDER BY w ASC, g ASC) AS HUGEINT)
           AS i
  FROM pg
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(w) AS BIGINT) AS total_weight,
  CAST((max(w) * 10000) // sum(w) AS BIGINT) AS top_share_bp,
  CAST((sum(w * w) * 10000) // (sum(w) * sum(w)) AS BIGINT) AS hhi_bp,
  CAST(((2 * sum(w * i) - (count(*) + 1) * sum(w)) * 10000)
       // (count(*) * sum(w)) AS BIGINT) AS gini_bp
FROM r
"""

ORACLE["label_noise"] = f"""
WITH e AS (
  SELECT vec_id, label, cast(embedding AS double[]) AS emb FROM embeddings
  WHERE vec_id IS NOT NULL AND label IS NOT NULL AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), scored AS (
  SELECT p.vec_id AS qid, p.label AS qlab, c.vec_id AS nid, c.label AS nlab,
    round({_cos_sql('c.emb', 'p.emb')}, 6) AS cosine
  FROM e p JOIN e c
    ON c.vec_id <> p.vec_id AND len(c.emb) = len(p.emb)
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rk
  FROM scored
), agg AS (
  SELECT qid AS vec_id, qlab AS label,
    CAST(count(*) AS BIGINT) AS n_neighbors,
    CAST(sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM ranked WHERE rk <= 5 GROUP BY 1, 2
)
SELECT vec_id, label, n_neighbors, n_agree,
  (10000 * n_agree) // n_neighbors AS agree_bp,
  (10000 * n_agree) // n_neighbors < 5000 AS suspect
FROM agg
"""


ORACLE["transitions"] = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type, event_id FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), lagged AS (
  SELECT event_type AS nt,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pt
  FROM ev
), pairs AS (
  SELECT pt AS prev_type, nt AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM lagged WHERE pt IS NOT NULL AND nt IS NOT NULL GROUP BY 1, 2
), tot AS (SELECT prev_type, sum(n) AS t FROM pairs GROUP BY 1)
SELECT p.prev_type, p.next_type, p.n,
  CAST((10000 * p.n) // t.t AS BIGINT) AS p_bp,
  (10000 * p.n) // t.t < 100 AS rare
FROM pairs p JOIN tot t USING (prev_type)
"""


ORACLE["pair_degrees"] = f"""
WITH jp AS ({{JACCARD}}),
live AS (SELECT id_a, id_b FROM jp
         WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b),
edges AS (SELECT id_a AS id, id_b AS n FROM live
          UNION ALL SELECT id_b, id_a FROM live)
SELECT id, CAST(count(DISTINCT n) AS BIGINT) AS degree,
  count(DISTINCT n) >= 2 AS hub
FROM edges GROUP BY id
""".replace("{JACCARD}", ORACLE["jaccard_pairs"])


ORACLE["l_diversity"] = """
WITH g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT user_id) AS BIGINT) AS d
  FROM events GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
  CAST(min(d) AS BIGINT) AS min_distinct_sensitive,
  CAST(coalesce(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_undiverse_groups,
  CAST(coalesce(sum(CASE WHEN d < 3 THEN n ELSE 0 END), 0) AS BIGINT)
    AS n_rows_at_risk,
  coalesce(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END), 0) = 0 AS l_diverse
FROM g
"""


ORACLE["window_overlaps"] = """
WITH iv AS (
  SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS s,
         epoch_us(o_orderdate) + 604800000000 AS e
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderkey IS NOT NULL
    AND o_orderdate IS NOT NULL
), a AS (
  SELECT o_custkey, o_orderkey AS okey_a, s AS sa, e AS ea
  FROM iv WHERE o_orderkey % 2 = 1
), b AS (
  SELECT o_custkey, o_orderkey AS okey_b, s AS sb, e AS eb
  FROM iv WHERE o_orderkey % 2 = 0
)
SELECT a.o_custkey, okey_a, okey_b,
  greatest(sa, sb) AS overlap_start,
  least(ea, eb) AS overlap_end,
  CAST(least(ea, eb) - greatest(sa, sb) AS BIGINT) AS overlap_us
FROM a JOIN b ON a.o_custkey = b.o_custkey AND sa <= eb AND sb <= ea
"""


ORACLE["corpus_rollup"] = """
SELECT lang, source,
  CAST(2 * grouping(lang) + grouping(source) AS BIGINT) AS grouping_id,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(n_chars) AS BIGINT) AS total_weight
FROM documents GROUP BY ROLLUP (lang, source)
"""

ORACLE["lang_matrix"] = """
SELECT source,
  CAST(sum(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
  CAST(sum(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
  CAST(sum(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
  CAST(sum(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
  CAST(sum(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh,
  CAST(sum(CASE WHEN lang = 'zz' THEN 1 END) AS BIGINT) AS zz
FROM documents GROUP BY source
"""


ORACLE["seasonal_anomalies"] = """
WITH ev AS (
  SELECT epoch_us(ts) // 1000000 AS es FROM events WHERE ts IS NOT NULL
), c AS (
  SELECT es - ((es % 3600 + 3600) % 3600) AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY 1
), bd AS (SELECT min(b) AS lo, max(b) AS hi FROM c),
sp AS (SELECT unnest(generate_series(lo, hi, 3600)) AS bucket_s FROM bd),
d AS (
  SELECT sp.bucket_s,
    CAST((((sp.bucket_s // 3600) % 24) + 24) % 24 AS BIGINT) AS phase,
    CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
  FROM sp LEFT JOIN c ON c.b = sp.bucket_s
), t AS (
  SELECT phase, CAST(sum(n_events) AS BIGINT) AS ps,
         CAST(count(*) AS BIGINT) AS pn
  FROM d GROUP BY 1
), s AS (
  SELECT d.bucket_s, d.phase, d.n_events,
         t.ps - d.n_events AS os, t.pn - 1 AS onn
  FROM d JOIN t USING (phase)
)
SELECT bucket_s, phase, n_events,
  CASE WHEN onn > 0 AND os > 0 THEN
    CAST((CAST(10000 AS HUGEINT) * n_events * onn) // os AS BIGINT)
  END AS rate_bp,
  CASE WHEN onn <= 0 THEN FALSE
       WHEN os = 0 THEN n_events > 0
       ELSE (CAST(10000 AS HUGEINT) * n_events * onn) // os >= 18000
  END AS spike,
  coalesce(onn > 0 AND os > 0 AND
    (CAST(10000 AS HUGEINT) * n_events * onn) // os <= 5000, FALSE)
    AS drop
FROM s
"""


ORACLE["props_extract"] = """
SELECT event_id,
  CASE WHEN props IS NOT NULL AND json_valid(props)
       THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k,
  CASE WHEN props IS NULL THEN NULL ELSE json_valid(props) END AS json_ok
FROM events
"""


# mirrors _grammar_spans + spans.span_grammar: the span construction is
# a pure function of doc_id, so the signature is rebuilt closed-form
ORACLE["span_grammar"] = """
WITH d AS (
  SELECT doc_id, 1 + ((doc_id % 5) + 5) % 5 AS n FROM documents
), s AS (
  SELECT doc_id, n,
    CASE WHEN doc_id IS NULL THEN NULL ELSE
      array_to_string(list_transform(range(0, CAST(n AS BIGINT)), j ->
        CASE WHEN ((doc_id % 23) + 23) % 23 = 0 AND j = n - 1 THEN '?'
             WHEN (((doc_id + j*j) % 3) + 3) % 3 = 0 THEN 'm'
             ELSE 't' END), '') END AS sig
  FROM d
)
SELECT doc_id,
  coalesce(sig, '') AS kind_sig,
  CAST(CASE WHEN doc_id IS NULL THEN 0 ELSE n END AS INT) AS n_spans,
  CAST(coalesce(list_max(list_transform(
      string_split_regex(coalesce(sig, ''), '[^m]+'),
      x -> length(x))), 0) AS INT) AS max_media_run,
  regexp_matches(coalesce(sig, ''), '^t[tm]*$') AS grammar_ok
FROM s
"""


ORACLE["span_templates"] = """
WITH d AS (
  SELECT doc_id, 1 + ((doc_id % 5) + 5) % 5 AS n FROM documents
), s AS (
  SELECT doc_id,
    CASE WHEN doc_id IS NULL THEN NULL ELSE
      array_to_string(list_transform(range(0, CAST(n AS BIGINT)), j ->
        CASE WHEN ((doc_id % 23) + 23) % 23 = 0 AND j = n - 1 THEN '?'
             WHEN (((doc_id + j*j) % 3) + 3) % 3 = 0 THEN 'm'
             ELSE 't' END), '') END AS sig
  FROM d
), g AS (
  SELECT coalesce(sig, '') AS template,
    CAST(count(*) AS BIGINT) AS n_docs,
    min(doc_id) AS example_doc_id
  FROM s GROUP BY 1
), t AS (SELECT sum(n_docs) AS total FROM g)
SELECT template, n_docs,
  CAST(n_docs * 10000 // greatest(t.total, 1) AS BIGINT) AS share_bp,
  example_doc_id
FROM g, t WHERE n_docs >= 2
ORDER BY n_docs DESC, template ASC LIMIT 50
"""

ORACLE["template_drift"] = """
WITH dn AS (
  SELECT doc_id, 1 + ((doc_id % 5) + 5) % 5 AS n FROM documents
  WHERE doc_id IS NOT NULL
), s AS (
  SELECT doc_id AS id,
    array_to_string(list_transform(range(0, CAST(n AS BIGINT)), j ->
      CASE WHEN ((doc_id % 23) + 23) % 23 = 0 AND j = n - 1 THEN '?'
           WHEN (((doc_id + j*j) % 3) + 3) % 3 = 0 THEN 'm'
           ELSE 't' END), '') AS t
  FROM dn
), m AS (
  SELECT greatest(max(greatest(id, 0)) + 1, 1) AS mx FROM s
), w AS (
  SELECT least(4, greatest(id, 0) * 5 // mx) AS wv, t FROM s, m
), pt AS (
  SELECT t,
    sum(CASE WHEN wv = 0 THEN 1 ELSE 0 END) AS c0,
    sum(CASE WHEN wv = 1 THEN 1 ELSE 0 END) AS c1,
    sum(CASE WHEN wv = 2 THEN 1 ELSE 0 END) AS c2,
    sum(CASE WHEN wv = 3 THEN 1 ELSE 0 END) AS c3,
    sum(CASE WHEN wv = 4 THEN 1 ELSE 0 END) AS c4
  FROM w GROUP BY 1
), tot AS (
  SELECT sum(c0) AS t0, sum(c1) AS t1, sum(c2) AS t2,
         sum(c3) AS t3, sum(c4) AS t4
  FROM pt
), r AS (
  SELECT
    sum(abs(c0*10000//greatest(t0,1) - c1*10000//greatest(t1,1))) // 2 AS tvd_0,
    sum(abs(c1*10000//greatest(t1,1) - c2*10000//greatest(t2,1))) // 2 AS tvd_1,
    sum(abs(c2*10000//greatest(t2,1) - c3*10000//greatest(t3,1))) // 2 AS tvd_2,
    sum(abs(c3*10000//greatest(t3,1) - c4*10000//greatest(t4,1))) // 2 AS tvd_3,
    sum(CASE WHEN c0 = 0 AND c1 > 0 THEN 1 ELSE 0 END) AS nt_0,
    sum(CASE WHEN c1 = 0 AND c2 > 0 THEN 1 ELSE 0 END) AS nt_1,
    sum(CASE WHEN c2 = 0 AND c3 > 0 THEN 1 ELSE 0 END) AS nt_2,
    sum(CASE WHEN c3 = 0 AND c4 > 0 THEN 1 ELSE 0 END) AS nt_3,
    sum(CASE WHEN c0 = 0 THEN c1 ELSE 0 END) * 10000 // greatest(sum(c1),1) AS no_0,
    sum(CASE WHEN c1 = 0 THEN c2 ELSE 0 END) * 10000 // greatest(sum(c2),1) AS no_1,
    sum(CASE WHEN c2 = 0 THEN c3 ELSE 0 END) * 10000 // greatest(sum(c3),1) AS no_2,
    sum(CASE WHEN c3 = 0 THEN c4 ELSE 0 END) * 10000 // greatest(sum(c4),1) AS no_3
  FROM pt, tot
)
SELECT 0 AS from_wave, 1 AS to_wave, CAST(tvd_0 AS BIGINT) AS tvd_bp,
  CAST(nt_0 AS BIGINT) AS new_templates, CAST(no_0 AS BIGINT) AS new_docs_bp FROM r
UNION ALL
SELECT 1, 2, CAST(tvd_1 AS BIGINT), CAST(nt_1 AS BIGINT), CAST(no_1 AS BIGINT) FROM r
UNION ALL
SELECT 2, 3, CAST(tvd_2 AS BIGINT), CAST(nt_2 AS BIGINT), CAST(no_2 AS BIGINT) FROM r
UNION ALL
SELECT 3, 4, CAST(tvd_3 AS BIGINT), CAST(nt_3 AS BIGINT), CAST(no_3 AS BIGINT) FROM r
"""

ORACLE["template_source_matrix"] = """
WITH d AS (
  SELECT doc_id, source, 1 + ((doc_id % 5) + 5) % 5 AS n FROM documents
), s AS (
  SELECT coalesce(CAST(source AS VARCHAR), '__null__') AS source,
    coalesce(CASE WHEN doc_id IS NULL THEN NULL ELSE
      array_to_string(list_transform(range(0, CAST(n AS BIGINT)), j ->
        CASE WHEN ((doc_id % 23) + 23) % 23 = 0 AND j = n - 1 THEN '?'
             WHEN (((doc_id + j*j) % 3) + 3) % 3 = 0 THEN 'm'
             ELSE 't' END), '') END, '') AS template
  FROM d
), cells AS (
  SELECT source, template, CAST(count(*) AS BIGINT) AS n_docs
  FROM s GROUP BY 1, 2
), tot AS (
  SELECT source, sum(n_docs) AS t FROM cells GROUP BY 1
)
SELECT c.source, c.template, c.n_docs,
  CAST(c.n_docs * 10000 // greatest(t.t, 1) AS BIGINT) AS source_share_bp
FROM cells c JOIN tot t ON t.source = c.source
WHERE c.n_docs >= 2
"""

ORACLE["join_fanout"] = """
WITH f AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), pk AS (
  SELECT key, n AS n_left, n AS n_right, CAST(n AS HUGEINT) * n AS o
  FROM f
), t AS (SELECT sum(o) AS tot FROM pk)
SELECT key, n_left, n_right, CAST(o AS BIGINT) AS out_rows,
  CAST(CASE WHEN tot > 0 THEN (o * 10000) // tot END AS BIGINT)
    AS out_share_bp,
  (n_left > 1 AND n_right > 1) AS many_to_many
FROM pk, t
ORDER BY out_rows DESC, key ASC
LIMIT 20
"""


ORACLE["pair_triangles"] = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL
    AND ((l_orderkey % 20) + 20) % 20 = 0
), e AS (
  SELECT DISTINCT a.l_suppkey AS lo, b.l_suppkey AS hi
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_suppkey < b.l_suppkey
), deg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT lo AS id FROM e UNION ALL SELECT hi FROM e
  ) GROUP BY 1
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
    CAST(coalesce(sum((d * (d - 1)) // 2), 0) AS BIGINT) AS n_wedges
  FROM deg
), en AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1
  JOIN e e2 ON e1.hi = e2.lo
  JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
  CAST(CASE WHEN n_wedges > 0 THEN (30000 * n_triangles) // n_wedges END
       AS BIGINT) AS closure_bp,
  CAST(0 AS BIGINT) AS n_capped_nodes
FROM base, en, tri
"""


ORACLE["price_deciles"] = """
WITH vc AS (
  SELECT l_extendedprice AS v, CAST(count(*) AS BIGINT) AS n
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, n,
    CAST(coalesce(sum(n) OVER (
      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      0) AS BIGINT) AS before,
    CAST(sum(n) OVER () AS BIGINT) AS total
  FROM vc
)
SELECT CAST((before * 10) // total + 1 AS BIGINT) AS bucket,
  CAST(sum(n) AS BIGINT) AS n_rows, min(v) AS min_v, max(v) AS max_v
FROM cum GROUP BY 1
"""


# mirrors q_props_keys: the constructed bag's key set is a pure function
# of (doc_id, column NULLness), so key counts replay closed-form
ORACLE["props_keys"] = """
WITH d AS (
  SELECT doc_id, n_chars, lang, source,
    (doc_id IS NULL) AS nullcell,
    (doc_id IS NOT NULL AND ((doc_id % 31) + 31) % 31 = 0) AS bad
  FROM documents
), t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
k AS (
  SELECT '__null__' AS key, count(*) AS n FROM d WHERE nullcell
  UNION ALL
  SELECT '__malformed__', count(*) FROM d WHERE bad
  UNION ALL
  SELECT 'len', count(*) FROM d
  WHERE NOT nullcell AND NOT bad AND n_chars IS NOT NULL
  UNION ALL
  SELECT 'lang', count(*) FROM d
  WHERE NOT nullcell AND NOT bad AND ((doc_id % 2) + 2) % 2 = 0
    AND lang IS NOT NULL
  UNION ALL
  SELECT 'src', count(*) FROM d
  WHERE NOT nullcell AND NOT bad AND ((doc_id % 3) + 3) % 3 = 0
    AND source IS NOT NULL
  UNION ALL
  SELECT 'id', count(*) FROM d
  WHERE NOT nullcell AND NOT bad AND ((doc_id % 5) + 5) % 5 = 0
)
SELECT key, CAST(n AS BIGINT) AS n_rows,
  CAST((n * 10000) // total AS BIGINT) AS share_bp
FROM k, t WHERE n > 0
"""


ORACLE["rule_cooccurrence"] = """
WITH v AS (SELECT DISTINCT doc_id, rule_id FROM ({V})),
c AS (SELECT rule_id, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
p AS (
  SELECT a.rule_id AS rule_a, b.rule_id AS rule_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.rule_id < b.rule_id
  GROUP BY 1, 2
)
SELECT rule_a, rule_b, n_both, ca.n AS n_a, cb.n AS n_b,
  CAST((n_both * 10000) // (ca.n + cb.n - n_both) AS BIGINT) AS overlap_bp
FROM p JOIN c ca ON ca.rule_id = rule_a JOIN c cb ON cb.rule_id = rule_b
""".replace("{V}", ORACLE["validate_documents"])


# engine-exact shingle twin (vs the legacy _SHINGLES_SQL): empty tokens
# filtered (engine splits on \\s+), NULL ≡ '' text, <k tokens → ONE
# whole-text shingle — matches functions.text.shingles on the hostile
# multi-space/NULL/empty rows that jaccard's %50 candidates never hit
_SHINGLES_EXACT_SQL = """list_distinct(list_transform(
    generate_series(1, greatest(len(tk) - 2, 1)),
    i -> coalesce(array_to_string(tk[i:i+2], ' '), '')))"""

ORACLE["containment_pairs"] = f"""
WITH t0 AS (
  SELECT doc_id,
    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id, {_SHINGLES_EXACT_SQL} AS sh FROM t0
), c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sa, b.sh AS sb
  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0
)
SELECT id_a, id_b,
  CAST(len(sa) AS BIGINT) AS size_a,
  CAST(len(sb) AS BIGINT) AS size_b,
  CAST(len(list_intersect(sa, sb)) AS BIGINT) AS inter,
  CAST(CASE WHEN len(sa) > 0
       THEN (len(list_intersect(sa, sb)) * 10000) // len(sa) END
       AS BIGINT) AS a_in_b_bp,
  CAST(CASE WHEN len(sb) > 0
       THEN (len(list_intersect(sa, sb)) * 10000) // len(sb) END
       AS BIGINT) AS b_in_a_bp
FROM c
"""


# mirrors q_caption_check over the _grammar_spans construction: offsets
# are j*10, so "within 10 units" ≡ an adjacent text span
ORACLE["caption_check"] = """
WITH d AS (
  SELECT doc_id, 1 + ((doc_id % 5) + 5) % 5 AS n FROM documents
  WHERE doc_id IS NOT NULL
), j AS (
  SELECT doc_id, n, unnest(range(0, CAST(n AS BIGINT))) AS j FROM d
), k AS (
  SELECT doc_id, n, j,
    CASE WHEN ((doc_id % 23) + 23) % 23 = 0 AND j = n - 1 THEN 'junk'
         WHEN (((doc_id + j*j) % 3) + 3) % 3 = 0 THEN 'media'
         ELSE 'text' END AS kind
  FROM j
)
SELECT m.doc_id, CAST(m.j AS INT) AS span_index,
       CAST(m.j * 10 AS INT) AS "offset"
FROM k m
WHERE m.kind = 'media'
  AND NOT EXISTS (
    SELECT 1 FROM k t
    WHERE t.doc_id = m.doc_id AND t.kind = 'text' AND abs(t.j - m.j) <= 1
  )
"""


ORACLE["cluster_silhouette"] = f"""
WITH e AS (
  SELECT vec_id, cast(embedding AS double[]) AS emb FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
), c AS (
  SELECT vec_id AS cid, emb AS cemb FROM e
  WHERE ((vec_id % 199) + 199) % 199 = 0
), scored AS (
  SELECT e.vec_id, c.cid, round({_cos_sql('e.emb', 'c.cemb')}, 6) AS cos
  FROM e, c
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rk
  FROM scored
), tw AS (
  SELECT vec_id,
    max(CASE WHEN rk = 1 THEN cid END) AS cluster_id,
    max(CASE WHEN rk = 1 THEN cos END) AS cos_own,
    max(CASE WHEN rk = 2 THEN cos END) AS cos_next
  FROM ranked WHERE rk <= 2 GROUP BY 1
)
SELECT vec_id, cluster_id, cos_own, cos_next,
  CASE WHEN cos_next IS NULL THEN NULL
       WHEN greatest(1 - cos_own, 1 - cos_next) > 0
       THEN round((cos_own - cos_next)
                  / greatest(1 - cos_own, 1 - cos_next), 6)
       ELSE 0.0 END AS silhouette
FROM tw
"""


ORACLE["magnitude_profile"] = """
WITH b AS (
  SELECT CASE WHEN abs(value) < 1 THEN 0
         ELSE length(CAST(CAST(floor(abs(value)) AS DECIMAL(38,0))
                          AS VARCHAR)) END AS digits,
         value < 0 AS negative
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT CAST(digits AS INT) AS digits, negative,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM b GROUP BY 1, 2
), t AS (SELECT sum(n_rows) AS total FROM c)
SELECT digits, negative, n_rows,
  CAST((n_rows * 10000) // total AS BIGINT) AS share_bp
FROM c, t
"""


ORACLE["ts_granularity"] = """
WITH b AS (
  SELECT epoch_us(ts) AS us,
         epoch_us(date_trunc('day', ts)) AS du,
         epoch_us(date_trunc('second', ts)) AS su,
         second(ts) AS sec
  FROM events WHERE ts IS NOT NULL
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(coalesce(sum(CASE WHEN us = du THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS n_midnight,
    CAST(coalesce(sum(CASE WHEN sec = 0 AND us = su THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS n_zero_second,
    CAST(coalesce(sum(CASE WHEN us = su THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS n_zero_micros
  FROM b
)
SELECT n_rows, n_midnight, n_zero_second, n_zero_micros,
  CAST(CASE WHEN n_rows > 0 THEN (n_midnight * 10000) // n_rows END
       AS BIGINT) AS midnight_bp,
  CAST(CASE WHEN n_rows > 0 THEN (n_zero_second * 10000) // n_rows END
       AS BIGINT) AS zero_second_bp,
  CAST(CASE WHEN n_rows > 0 THEN (n_zero_micros * 10000) // n_rows END
       AS BIGINT) AS zero_micros_bp
FROM a
"""


# FINAL check_suite rebuild (supersedes the mid-file one): the session-15
# members' oracles (span_grammar, caption_check) are only defined above
# this point, so the suite is recomposed here with them included
ORACLE["check_suite"] = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS check_id, CAST(count(*) AS BIGINT) AS n_violations,
       CASE WHEN count(*) = 0 THEN 'pass' ELSE 'fail' END AS status
FROM ({sql})"""
    for name, sql in [
        ("doc_rules", ORACLE["validate_documents"]),
        ("events_user_unique", ORACLE["uniqueness_events_user"]),
        ("lineitem_supplier_ref", ORACLE["referential_lineitem_supplier"]),
        ("span_structure", ORACLE["span_structure"]),
        (
            "fd_violations",
            "SELECT * FROM (%s) WHERE NOT holds" % ORACLE["functional_deps"],
        ),
        ("hot_keys", "SELECT * FROM (%s) WHERE is_hot" % ORACLE["skew_report"]),
        (
            "encoding_damage",
            "SELECT * FROM (%s) WHERE NOT clean" % ORACLE["encoding_anomalies"],
        ),
        (
            "span_grammar",
            "SELECT * FROM (%s) WHERE NOT grammar_ok"
            % ORACLE["span_grammar"],
        ),
        ("uncaptioned_media", ORACLE["caption_check"]),
    ]
)


# literal contract outcome: the engine side computes from the ACTUAL
# parquet schema, so the gate verifies schema reading, not arithmetic
ORACLE["schema_conformance"] = """
SELECT * FROM (VALUES
  ('doc_id', 'bigint', 'bigint', 'ok'),
  ('text', 'string', 'string', 'ok'),
  ('lang', 'string', 'string', 'ok'),
  ('n_chars', 'int', 'bigint', 'type_mismatch'),
  ('quality_score', 'double', NULL, 'missing'),
  ('source', NULL, 'string', 'unexpected')
) t("column", expected_type, actual_type, status)
"""


# validation is row-local, so slice-then-validate ≡ validate-then-slice:
# the baseline's violations are the full run's rows on even doc_ids
ORACLE["rule_drift"] = """
WITH base_v AS (
  SELECT DISTINCT rule_id, doc_id FROM ({VD})
  WHERE doc_id IS NOT NULL AND ((doc_id % 2) + 2) % 2 = 0
), cur_v AS (
  SELECT DISTINCT rule_id, doc_id FROM ({VD})
), bt AS (
  SELECT count(*) AS n FROM documents
  WHERE doc_id IS NOT NULL AND ((doc_id % 2) + 2) % 2 = 0
), ct AS (SELECT count(*) AS n FROM documents),
b AS (
  SELECT rule_id, CAST(count(*) AS BIGINT) AS base_docs,
         CAST((count(*) * 10000) // (SELECT n FROM bt) AS BIGINT)
           AS base_rate_bp
  FROM base_v GROUP BY 1
), c AS (
  SELECT rule_id, CAST(count(*) AS BIGINT) AS cur_docs,
         CAST((count(*) * 10000) // (SELECT n FROM ct) AS BIGINT)
           AS cur_rate_bp
  FROM cur_v GROUP BY 1
)
SELECT coalesce(b.rule_id, c.rule_id) AS rule_id,
  coalesce(base_docs, 0) AS base_docs,
  coalesce(cur_docs, 0) AS cur_docs,
  coalesce(base_rate_bp, 0) AS base_rate_bp,
  coalesce(cur_rate_bp, 0) AS cur_rate_bp,
  coalesce(cur_rate_bp, 0) - coalesce(base_rate_bp, 0) AS delta_bp,
  abs(coalesce(cur_rate_bp, 0) - coalesce(base_rate_bp, 0)) >= 500 AS alert
FROM b FULL OUTER JOIN c ON b.rule_id = c.rule_id
""".replace("{VD}", ORACLE["validate_documents"])


ORACLE["class_balance"] = """
WITH c AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_rows
  FROM embeddings GROUP BY 1
), t AS (
  SELECT
    coalesce(sum(CASE WHEN label IS NOT NULL THEN n_rows END), 0) AS labeled,
    coalesce(sum(n_rows), 0) AS total,
    count(CASE WHEN label IS NOT NULL THEN 1 END) AS k
  FROM c
)
SELECT label, n_rows,
  CAST((n_rows * 10000) // greatest(total, 1) AS BIGINT) AS share_bp,
  CAST(CASE WHEN label IS NOT NULL AND k > 0
       THEN (labeled * 10000) // (k * n_rows) END AS BIGINT)
    AS weight_scaled
FROM c, t
"""


ORACLE["lsh_threshold_hist"] = """
WITH cand AS ({MINHASH}),
t0 AS (
  SELECT doc_id,
    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id, {SHEX} AS sh FROM t0
), j AS (
  SELECT len(list_intersect(a.sh, b.sh)) AS i3,
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u3
  FROM cand c
  JOIN s a ON a.doc_id = c.id_a
  JOIN s b ON b.doc_id = c.id_b
), binned AS (
  SELECT CASE WHEN u3 = 0 THEN 19
         ELSE least((i3 * 20) // u3, 19) END AS bin
  FROM j
)
SELECT CAST(bin AS INT) AS bin, CAST(bin * 500 AS BIGINT) AS lo_bp,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM binned GROUP BY bin
""".replace("{MINHASH}", ORACLE["minhash_pairs_md5"]).replace(
    "{SHEX}", _SHINGLES_EXACT_SQL
)


ORACLE["category_churn"] = """
WITH b AS (
  SELECT event_type AS category, CAST(count(*) AS BIGINT) AS base_rows
  FROM events
  WHERE user_id IS NOT NULL AND ((user_id % 2) + 2) % 2 = 0
  GROUP BY 1
), u AS (
  SELECT event_type AS category, CAST(count(*) AS BIGINT) AS cur_rows
  FROM events GROUP BY 1
)
SELECT coalesce(b.category, u.category) AS category,
  coalesce(base_rows, 0) AS base_rows,
  coalesce(cur_rows, 0) AS cur_rows,
  CASE WHEN coalesce(base_rows, 0) = 0 THEN 'new'
       WHEN coalesce(cur_rows, 0) = 0 THEN 'gone'
       ELSE 'persists' END AS status
FROM b FULL OUTER JOIN u ON b.category IS NOT DISTINCT FROM u.category
"""


# mirrors _derived_spans closed-form: span0 carries a ref iff
# doc_id % 13 = 0 (kind irrelevant), span1 always, span2 never
ORACLE["media_reuse"] = """
WITH refs AS (
  SELECT doc_id,
    'm-' || CAST(((doc_id % 50) + 50) % 50 AS VARCHAR) AS media_ref
  FROM documents
  WHERE doc_id IS NOT NULL AND ((doc_id % 13) + 13) % 13 = 0
  UNION ALL
  SELECT doc_id, 'm-' || CAST(((doc_id % 30) + 30) % 30 AS VARCHAR)
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT media_ref,
  CAST(count(*) AS BIGINT) AS n_occurrences,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  count(DISTINCT doc_id) >= 2 AS shared
FROM refs GROUP BY 1
"""


ORACLE["dedup_verdicts"] = """
WITH t0 AS (
  SELECT doc_id, text,
    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN NULL
         -- coalesce: DuckDB array_to_string([]) is NULL, Spark's '' —
         -- an empty-token doc must fingerprint as md5(''), not NULL
         ELSE md5(coalesce(
                array_to_string(list_transform(tk, x -> lower(x)), ' '), ''))
    END AS fp,
    {SHEX} AS sh
  FROM t0
), c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sh AS sa, b.sh AS sb, a.fp AS fa, b.fp AS fb
  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0
), m AS (
  SELECT id_a, id_b,
    (fa IS NOT NULL AND fa = fb) AS exact,
    len(list_intersect(sa, sb)) AS i3, len(sa) AS la, len(sb) AS lb
  FROM c
)
SELECT id_a, id_b, exact,
  CAST(CASE WHEN la + lb - i3 = 0 THEN 10000
       ELSE (i3 * 10000) // (la + lb - i3) END AS BIGINT) AS jaccard_bp,
  CAST((i3 * 10000) // la AS BIGINT) AS a_in_b_bp,
  CAST((i3 * 10000) // lb AS BIGINT) AS b_in_a_bp,
  CASE WHEN exact THEN 'exact'
       WHEN (CASE WHEN la + lb - i3 = 0 THEN 10000
             ELSE (i3 * 10000) // (la + lb - i3) END) >= 8000 THEN 'near'
       WHEN (i3 * 10000) // la >= 9000 OR (i3 * 10000) // lb >= 9000
         THEN 'contained'
       ELSE 'distinct' END AS decision
FROM m
""".replace("{SHEX}", _SHINGLES_EXACT_SQL)


# relational replay of _derived_spans + the overlap walk: span rows,
# (off, ix)-ordered window, adjacent-pair compare.  Groups by doc_id with
# null-safe self-join — fixtures hold at most one NULL-doc_id row, so
# per-group ≡ per-source-row here (engine works per row)
ORACLE["span_overlap"] = """
WITH sp AS (
  SELECT doc_id, 0 AS ix,
    CASE WHEN ((doc_id % 17) + 17) % 17 = 0 THEN 0
         ELSE coalesce(length(text), 0) END AS len,
    0 AS off
  FROM documents
  UNION ALL
  SELECT doc_id, 1, 0, n_chars FROM documents WHERE n_chars IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, coalesce(least(10, length(text)), 0),
    CASE WHEN doc_id IS NOT NULL AND ((doc_id % 11) + 11) % 11 = 0
         THEN n_chars - 5 ELSE n_chars + 5 END
  FROM documents WHERE n_chars IS NOT NULL
), srt AS (
  SELECT doc_id, ix, len, off,
    row_number() OVER (PARTITION BY doc_id ORDER BY off, ix) AS rn
  FROM sp
)
SELECT s.doc_id, CAST(s.ix AS INT) AS span_index,
  CAST(s.off + s.len AS INT) AS end_prev,
  CAST(t.off AS INT) AS offset_next
FROM srt s JOIN srt t
  ON s.doc_id IS NOT DISTINCT FROM t.doc_id AND t.rn = s.rn + 1
WHERE s.off + s.len > t.off
"""


ORACLE["aggregate_checks"] = """
WITH a AS (
  SELECT
    coalesce(avg(l_quantity) BETWEEN 10 AND 40, FALSE) AS c0,
    coalesce(count(*) >= 1000, FALSE) AS c1,
    coalesce(count(DISTINCT l_suppkey) >= 50, FALSE) AS c2,
    coalesce(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
             * 10000 <= 100 * count(*), FALSE) AS c3
  FROM lineitem
)
SELECT 'qty_avg_sane' AS check_id, c0 AS passed,
       CASE WHEN c0 THEN 'pass' ELSE 'fail' END AS status FROM a
UNION ALL
SELECT 'rows_min', c1, CASE WHEN c1 THEN 'pass' ELSE 'fail' END FROM a
UNION ALL
SELECT 'suppliers_min', c2, CASE WHEN c2 THEN 'pass' ELSE 'fail' END FROM a
UNION ALL
SELECT 'price_null_rate', c3, CASE WHEN c3 THEN 'pass' ELSE 'fail' END FROM a
"""


ORACLE["sample_fidelity"] = """
WITH b AS (
  SELECT CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi
  FROM events WHERE value IS NOT NULL
), pop AS (
  SELECT CASE WHEN b.hi <= b.lo THEN 0
         ELSE least(9, greatest(0,
           CAST(floor((value - b.lo) / ((b.hi - b.lo) / 10)) AS INT)))
         END AS bucket,
    CAST(count(*) AS BIGINT) AS pop_n
  FROM events, b WHERE value IS NOT NULL GROUP BY 1
), samp AS (
  SELECT CASE WHEN b.hi <= b.lo THEN 0
         ELSE least(9, greatest(0,
           CAST(floor((value - b.lo) / ((b.hi - b.lo) / 10)) AS INT)))
         END AS bucket,
    CAST(count(*) AS BIGINT) AS samp_n
  FROM events, b
  WHERE value IS NOT NULL AND event_id IS NOT NULL
    AND substr(md5('v1' || cast(event_id AS varchar)), 1, 8) < '40000000'
  GROUP BY 1
), j AS (
  SELECT coalesce(pop.bucket, samp.bucket) AS bucket,
    coalesce(pop_n, 0) AS pop_n, coalesce(samp_n, 0) AS samp_n
  FROM pop FULL OUTER JOIN samp ON pop.bucket = samp.bucket
), t AS (SELECT sum(pop_n) AS tp, sum(samp_n) AS ts FROM j)
SELECT bucket, pop_n, samp_n,
  CAST((pop_n * 10000) // greatest(tp, 1) AS BIGINT) AS pop_share_bp,
  CAST((samp_n * 10000) // greatest(ts, 1) AS BIGINT) AS samp_share_bp,
  CAST((samp_n * 10000) // greatest(ts, 1)
       - (pop_n * 10000) // greatest(tp, 1) AS BIGINT) AS diff_bp,
  abs((samp_n * 10000) // greatest(ts, 1)
      - (pop_n * 10000) // greatest(tp, 1)) >= 200 AS skewed
FROM j, t
"""


# composes the silhouette assignment (rank-1 centroid) with the
# resolve_duplicates survivor set
ORACLE["dedup_cell_fidelity"] = """
WITH assign AS (
  SELECT vec_id, cluster_id FROM ({SIL})
), kept AS (
  SELECT doc_id FROM ({RES})
), samp AS (
  SELECT a.vec_id, a.cluster_id FROM assign a
  WHERE EXISTS (SELECT 1 FROM kept k WHERE k.doc_id = a.vec_id)
), p AS (
  SELECT cluster_id AS category, CAST(count(*) AS BIGINT) AS pop_n
  FROM assign GROUP BY 1
), s AS (
  SELECT cluster_id AS category, CAST(count(*) AS BIGINT) AS samp_n
  FROM samp GROUP BY 1
), j AS (
  SELECT coalesce(p.category, s.category) AS category,
    coalesce(pop_n, 0) AS pop_n, coalesce(samp_n, 0) AS samp_n
  FROM p FULL OUTER JOIN s ON p.category IS NOT DISTINCT FROM s.category
), t AS (SELECT sum(pop_n) AS tp, sum(samp_n) AS ts FROM j)
SELECT category, pop_n, samp_n,
  CAST((pop_n * 10000) // greatest(tp, 1) AS BIGINT) AS pop_share_bp,
  CAST((samp_n * 10000) // greatest(ts, 1) AS BIGINT) AS samp_share_bp,
  CAST((samp_n * 10000) // greatest(ts, 1)
       - (pop_n * 10000) // greatest(tp, 1) AS BIGINT) AS diff_bp,
  abs((samp_n * 10000) // greatest(ts, 1)
      - (pop_n * 10000) // greatest(tp, 1)) >= 100 AS skewed
FROM j, t
""".replace("{SIL}", ORACLE["cluster_silhouette"]).replace(
    "{RES}", ORACLE["resolve_duplicates"]
)


# replays the md5 MinHash head (toks → shingles → signature → banding,
# identical to minhash_pairs_md5's CTEs) and aggregates bucket occupancy
# per band — n_docs here counts banded doc-memberships per band, which
# equals the non-NULL-text doc count for every band
ORACLE["lsh_band_stats"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), sh AS (
  SELECT doc_id, list_transform(
    generate_series(1, greatest(len(tk) - 2, 1)),
    i -> array_to_string(tk[i:i+2], ' ')) AS sh
  FROM toks
), sig AS (
  SELECT doc_id, list_transform(
    generate_series(0, 15),
    i -> list_min(list_transform(sh,
           s -> substr(md5(cast(i AS varchar) || ':' || s), 1, 16)))) AS sig
  FROM sh
), banded AS (
  SELECT doc_id, band,
    md5(array_to_string(sig[band*2+1 : band*2+2], '|')) AS h
  FROM sig, generate_series(0, 7) t(band)
), b AS (
  SELECT band, h, count(*) AS k FROM banded GROUP BY 1, 2
)
SELECT CAST(band AS INT) AS band,
  CAST(count(*) AS BIGINT) AS n_buckets,
  CAST(sum(k) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS multi_buckets,
  CAST(max(k) AS BIGINT) AS max_bucket,
  CAST(sum(k * (k - 1) // 2) AS BIGINT) AS est_pairs,
  CAST(sum(least(k, 64) * (least(k, 64) - 1) // 2) AS BIGINT) AS capped_pairs
FROM b GROUP BY 1
"""


# sorted-neighborhood blocking: normalised-key rank windows per 2-char
# block, each doc vs its 2 successors, exact distinct-token Jaccard.
# row_number ties are impossible cross-engine because (key, doc_id) is
# ordered and doc_id is unique per retained row
ORACLE["snm_pairs"] = """
WITH d AS (
  SELECT doc_id,
    coalesce(array_to_string(list_transform(
      list_filter(string_split(text, ' '), x -> x <> ''),
      x -> lower(x)), ' '), '') AS norm,
    list_distinct(list_transform(
      list_filter(string_split(text, ' '), x -> x <> ''),
      x -> lower(x))) AS tk
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), r AS (
  SELECT doc_id, tk,
    substr(norm, 1, 2) AS block,
    row_number() OVER (PARTITION BY substr(norm, 1, 2)
                       ORDER BY substr(norm, 1, 16), doc_id) AS rn
  FROM d
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.block AS block,
    CAST(b.rn - a.rn AS INT) AS gap,
    len(list_intersect(a.tk, b.tk)) AS i,
    len(a.tk) AS la, len(b.tk) AS lb
  FROM r a JOIN r b
    ON a.block = b.block AND b.rn > a.rn AND b.rn <= a.rn + 2
)
SELECT id_a, id_b, block, gap,
  CAST(CASE WHEN la + lb - i = 0 THEN 10000
       ELSE (i * 10000) // (la + lb - i) END AS BIGINT) AS jaccard_bp,
  (CASE WHEN la + lb - i = 0 THEN 10000
        ELSE (i * 10000) // (la + lb - i) END) >= 8000 AS is_near
FROM p
"""


# exact-dup multiplicity buckets weighted by chars; survivor = min-id doc
ORACLE["dup_inflation"] = """
WITH d AS (
  SELECT doc_id,
    md5(coalesce(array_to_string(list_transform(
      list_filter(string_split(text, ' '), x -> x <> ''),
      x -> lower(x)), ' '), '')) AS fp,
    coalesce(n_chars, 0) AS w
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), g AS (
  SELECT fp, count(*) AS m, sum(w) AS gw, min_by(w, doc_id) AS sw
  FROM d GROUP BY 1
), b AS (
  SELECT CASE WHEN m = 1 THEN '1' WHEN m = 2 THEN '2'
              WHEN m <= 10 THEN '3-10' ELSE '>10' END AS multiplicity,
    count(*) AS n_groups, sum(m) AS n_docs, sum(gw) AS weight,
    sum(gw - sw) AS excess_weight
  FROM g GROUP BY 1
), t AS (SELECT sum(weight) AS tw FROM b)
SELECT multiplicity,
  CAST(n_groups AS BIGINT) AS n_groups,
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(weight AS BIGINT) AS weight,
  CAST(weight * 10000 // greatest(tw, 1) AS BIGINT) AS weight_share_bp,
  CAST(excess_weight AS BIGINT) AS excess_weight
FROM b, t
"""


# per-ingest-wave repeat share; NULL-text docs count but never repeat
ORACLE["novelty_trend"] = """
WITH d AS (
  SELECT doc_id AS id,
    CASE WHEN text IS NULL THEN NULL
         ELSE md5(coalesce(array_to_string(list_transform(
                list_filter(string_split(text, ' '), x -> x <> ''),
                x -> lower(x)), ' '), ''))
    END AS fp
  FROM documents WHERE doc_id IS NOT NULL
), m AS (
  SELECT greatest(max(greatest(id, 0)) + 1, 1) AS mx FROM d
), f AS (
  SELECT id, fp, min(id) OVER (PARTITION BY fp) AS first FROM d
)
SELECT CAST(least(4, greatest(id, 0) * 5 // mx) AS INT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN fp IS NOT NULL AND id > first THEN 1 ELSE 0 END)
       AS BIGINT) AS n_repeats,
  CAST(sum(CASE WHEN fp IS NOT NULL AND id > first THEN 1 ELSE 0 END)
       * 10000 // count(*) AS BIGINT) AS repeat_bp
FROM f, m GROUP BY 1
"""


# token-type frequency spectrum (lowercased whitespace tokens)
ORACLE["vocab_spectrum"] = """
WITH tok AS (
  SELECT lower(t) AS t FROM (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
    FROM documents WHERE text IS NOT NULL)
), c AS (
  SELECT t, count(*) AS c FROM tok GROUP BY 1
), b AS (
  SELECT CASE WHEN c <= 1 THEN '1' WHEN c <= 10 THEN '2-10'
              WHEN c <= 100 THEN '11-100' ELSE '>100' END AS bucket,
    count(*) AS n_types, sum(c) AS n_occurrences
  FROM c GROUP BY 1
), t2 AS (SELECT sum(n_types) AS tt, sum(n_occurrences) AS tot FROM b)
SELECT bucket,
  CAST(n_types AS BIGINT) AS n_types,
  CAST(n_occurrences AS BIGINT) AS n_occurrences,
  CAST(n_types * 10000 // greatest(tt, 1) AS BIGINT) AS type_share_bp,
  CAST(n_occurrences * 10000 // greatest(tot, 1) AS BIGINT) AS occ_share_bp
FROM b, t2
"""


# per-lang chars/token and piece fertility; NULL lang → '__null__',
# NULL text → zero chars/tokens (doc still counted)
ORACLE["token_fertility"] = """
WITH d AS (
  SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS grp,
    coalesce(length(text), 0) AS chars,
    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS tk
  FROM documents
), p AS (
  SELECT grp, chars, len(tk) AS ws,
    coalesce(list_sum(list_transform(tk,
      t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0) AS bpe
  FROM d
)
SELECT grp AS "group",
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(chars) AS BIGINT) AS n_chars,
  CAST(sum(ws) AS BIGINT) AS ws_tokens,
  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
  CAST(CASE WHEN sum(ws) > 0 THEN sum(chars) * 100 // sum(ws) END
       AS BIGINT) AS chars_per_token_centi,
  CAST(CASE WHEN sum(ws) > 0 THEN sum(bpe) * 100 // sum(ws) END
       AS BIGINT) AS pieces_per_word_centi
FROM p GROUP BY 1
"""


# cross-source fingerprint overlap; self-join on the (source, fp)-
# collapsed table mirrors the engine's bounded fan-out
ORACLE["source_overlap"] = """
WITH u AS (
  SELECT text, source FROM documents
  UNION ALL
  SELECT text, 'mirror' AS source FROM documents
  WHERE doc_id IS NOT NULL AND doc_id % 7 = 0
), d AS (
  SELECT md5(coalesce(array_to_string(list_transform(
      list_filter(string_split(text, ' '), x -> x <> ''),
      x -> lower(x)), ' '), '')) AS fp,
    coalesce(CAST(source AS VARCHAR), '__null__') AS src
  FROM u WHERE text IS NOT NULL
), per AS (
  SELECT fp, src, count(*) AS n FROM d GROUP BY 1, 2
)
SELECT a.src AS source_a, b.src AS source_b,
  CAST(count(*) AS BIGINT) AS shared_fps,
  CAST(sum(a.n) AS BIGINT) AS docs_a,
  CAST(sum(b.n) AS BIGINT) AS docs_b
FROM per a JOIN per b ON a.fp = b.fp AND a.src < b.src
GROUP BY 1, 2
"""


# dup groups with conflicting lang tags; NULL tag -> '__null__'
ORACLE["dup_lang_mismatch"] = """
WITH u AS (
  SELECT text, lang FROM documents
  UNION ALL
  SELECT text, 'xx' AS lang FROM documents
  WHERE doc_id IS NOT NULL AND doc_id % 11 = 0
), d AS (
  SELECT md5(coalesce(array_to_string(list_transform(
      list_filter(string_split(text, ' '), x -> x <> ''),
      x -> lower(x)), ' '), '')) AS fp,
    coalesce(CAST(lang AS VARCHAR), '__null__') AS lg
  FROM u WHERE text IS NOT NULL
), per AS (
  SELECT fp, lg, count(*) AS n FROM d GROUP BY 1, 2
), g AS (
  SELECT fp AS fingerprint, CAST(sum(n) AS BIGINT) AS n_docs,
    list_sort(list(lg)) AS langs
  FROM per GROUP BY 1
)
SELECT fingerprint, n_docs,
  CAST(len(langs) AS INT) AS n_langs,
  array_to_string(langs, ',') AS langs
FROM g WHERE len(langs) >= 2
"""


# wave-over-wave unigram TVD + new-token share, exact int bp
ORACLE["vocab_drift"] = """
WITH d AS (
  SELECT doc_id AS id, list_transform(
    list_filter(string_split(text, ' '), x -> x <> ''),
    x -> lower(x)) AS tk
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), m AS (
  SELECT greatest(max(greatest(id, 0)) + 1, 1) AS mx FROM d
), w AS (
  SELECT least(4, greatest(id, 0) * 5 // mx) AS wv, unnest(tk) AS t
  FROM d, m
), pt AS (
  SELECT t,
    sum(CASE WHEN wv = 0 THEN 1 ELSE 0 END) AS c0,
    sum(CASE WHEN wv = 1 THEN 1 ELSE 0 END) AS c1,
    sum(CASE WHEN wv = 2 THEN 1 ELSE 0 END) AS c2,
    sum(CASE WHEN wv = 3 THEN 1 ELSE 0 END) AS c3,
    sum(CASE WHEN wv = 4 THEN 1 ELSE 0 END) AS c4
  FROM w GROUP BY 1
), tot AS (
  SELECT sum(c0) AS t0, sum(c1) AS t1, sum(c2) AS t2,
         sum(c3) AS t3, sum(c4) AS t4
  FROM pt
), r AS (
  SELECT
    sum(abs(c0*10000//greatest(t0,1) - c1*10000//greatest(t1,1))) // 2 AS tvd_0,
    sum(abs(c1*10000//greatest(t1,1) - c2*10000//greatest(t2,1))) // 2 AS tvd_1,
    sum(abs(c2*10000//greatest(t2,1) - c3*10000//greatest(t3,1))) // 2 AS tvd_2,
    sum(abs(c3*10000//greatest(t3,1) - c4*10000//greatest(t4,1))) // 2 AS tvd_3,
    sum(CASE WHEN c0 = 0 AND c1 > 0 THEN 1 ELSE 0 END) AS nt_0,
    sum(CASE WHEN c1 = 0 AND c2 > 0 THEN 1 ELSE 0 END) AS nt_1,
    sum(CASE WHEN c2 = 0 AND c3 > 0 THEN 1 ELSE 0 END) AS nt_2,
    sum(CASE WHEN c3 = 0 AND c4 > 0 THEN 1 ELSE 0 END) AS nt_3,
    sum(CASE WHEN c0 = 0 THEN c1 ELSE 0 END) * 10000 // greatest(sum(c1),1) AS no_0,
    sum(CASE WHEN c1 = 0 THEN c2 ELSE 0 END) * 10000 // greatest(sum(c2),1) AS no_1,
    sum(CASE WHEN c2 = 0 THEN c3 ELSE 0 END) * 10000 // greatest(sum(c3),1) AS no_2,
    sum(CASE WHEN c3 = 0 THEN c4 ELSE 0 END) * 10000 // greatest(sum(c4),1) AS no_3
  FROM pt, tot
)
SELECT 0 AS from_wave, 1 AS to_wave, CAST(tvd_0 AS BIGINT) AS tvd_bp,
  CAST(nt_0 AS BIGINT) AS new_types, CAST(no_0 AS BIGINT) AS new_occ_bp FROM r
UNION ALL
SELECT 1, 2, CAST(tvd_1 AS BIGINT), CAST(nt_1 AS BIGINT), CAST(no_1 AS BIGINT) FROM r
UNION ALL
SELECT 2, 3, CAST(tvd_2 AS BIGINT), CAST(nt_2 AS BIGINT), CAST(no_2 AS BIGINT) FROM r
UNION ALL
SELECT 3, 4, CAST(tvd_3 AS BIGINT), CAST(nt_3 AS BIGINT), CAST(no_3 AS BIGINT) FROM r
"""


# per-ingest-wave exact doc-length quantiles (quantile_cont replays
# Spark's interpolated percentile bit-for-bit on integer-valued chars)
ORACLE["length_trend"] = """
WITH d AS (
  SELECT doc_id AS id, n_chars FROM documents WHERE doc_id IS NOT NULL
), m AS (
  SELECT greatest(max(greatest(id, 0)) + 1, 1) AS mx FROM d
), v AS (
  SELECT CAST(least(4, greatest(id, 0) * 5 // mx) AS VARCHAR) AS "group",
    CAST(n_chars AS DOUBLE) AS vv
  FROM d, m WHERE n_chars IS NOT NULL
)
SELECT "group", CAST(count(*) AS BIGINT) AS n,
  min(vv) AS min,
  quantile_cont(vv, 0.25) AS q25,
  quantile_cont(vv, 0.5) AS q50,
  quantile_cont(vv, 0.75) AS q75,
  max(vv) AS max
FROM v GROUP BY 1
"""


# dimension-side referential: catalog m-0..m-19 vs the derived-span refs
# (same refs CTE as media_reuse)
ORACLE["catalog_coverage"] = """
WITH refs AS (
  SELECT 'm-' || CAST(((doc_id % 50) + 50) % 50 AS VARCHAR) AS media_ref
  FROM documents
  WHERE doc_id IS NOT NULL AND ((doc_id % 13) + 13) % 13 = 0
  UNION ALL
  SELECT 'm-' || CAST(((doc_id % 30) + 30) % 30 AS VARCHAR)
  FROM documents WHERE doc_id IS NOT NULL
), rk AS (
  SELECT DISTINCT media_ref AS k FROM refs WHERE media_ref IS NOT NULL
), cat AS (
  SELECT 'm-' || CAST(i AS VARCHAR) AS d FROM generate_series(0, 19) t(i)
), cov AS (
  SELECT CAST(count(*) AS BIGINT) AS n_dim,
    CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS referenced
  FROM cat LEFT JOIN rk ON cat.d = rk.k
), dang AS (
  SELECT CAST(count(*) AS BIGINT) AS dangling_values
  FROM rk WHERE NOT EXISTS (SELECT 1 FROM cat WHERE cat.d = rk.k)
)
SELECT n_dim, referenced,
  CAST(n_dim - referenced AS BIGINT) AS unreferenced,
  CAST(referenced * 10000 // greatest(n_dim, 1) AS BIGINT) AS coverage_bp,
  dangling_values
FROM cov, dang
"""


# LSH vs SNM candidate-set complementarity: composes the two pair
# oracles end-to-end, normalises to (lo, hi), full-outer presence rollup
ORACLE["blocking_comparison"] = """
WITH l AS (
  SELECT DISTINCT id_a AS lo, id_b AS hi FROM ({MH})
), s AS (
  SELECT DISTINCT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
  FROM ({SNM})
), j AS (
  SELECT l.lo IS NOT NULL AS il, s.lo IS NOT NULL AS isn
  FROM l FULL OUTER JOIN s ON l.lo = s.lo AND l.hi = s.hi
), r AS (
  SELECT
    CAST(sum(CASE WHEN il AND NOT isn THEN 1 ELSE 0 END) AS BIGINT) AS lo_only,
    CAST(sum(CASE WHEN isn AND NOT il THEN 1 ELSE 0 END) AS BIGINT) AS so_only,
    CAST(sum(CASE WHEN il AND isn THEN 1 ELSE 0 END) AS BIGINT) AS nboth
  FROM j
)
SELECT 'lsh_only' AS family, lo_only AS n_pairs FROM r
UNION ALL SELECT 'snm_only', so_only FROM r
UNION ALL SELECT 'both', nboth FROM r
""".replace("{MH}", ORACLE["minhash_pairs_md5"]).replace(
    "{SNM}", ORACLE["snm_pairs"]
)


# per-wave quality-flag shares; NULL text -> 0 tokens (short, never
# repetitive)
ORACLE["quality_trend"] = """
WITH d AS (
  SELECT doc_id AS id,
    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL
), m AS (
  SELECT greatest(max(greatest(id, 0)) + 1, 1) AS mx FROM d
), w AS (
  SELECT CAST(least(4, greatest(id, 0) * 5 // mx) AS INT) AS wave,
    len(tk) AS nt, len(list_distinct(tk)) AS dt
  FROM d, m
)
SELECT wave, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN nt < 10 THEN 1 ELSE 0 END) * 10000 // count(*)
       AS BIGINT) AS short_bp,
  CAST(sum(CASE WHEN 2 * dt < nt THEN 1 ELSE 0 END) * 10000 // count(*)
       AS BIGINT) AS repetitive_bp
FROM w GROUP BY 1
"""


def _enc_adv_sql(cols, dict_bp=100):
    parts = []
    for c in cols:
        parts.append(f"""
SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT "{c}") AS BIGINT) AS n_distinct,
  CAST(count(DISTINCT "{c}") * 10000 // greatest(count(*), 1) AS BIGINT)
    AS distinct_bp,
  CAST(CASE WHEN count("{c}") > 0
       THEN sum(length(CAST("{c}" AS VARCHAR))) * 100 // count("{c}") END
       AS BIGINT) AS avg_len_centi,
  count(DISTINCT "{c}") * 10000 // greatest(count(*), 1) <= {dict_bp}
    AS dict_candidate
FROM documents""")
    return "\nUNION ALL\n".join(parts)


ORACLE["encoding_advisor"] = _enc_adv_sql(["doc_id", "lang", "source", "text"])


# byte model mirrors partition_advisor's schema walk: documents fixed =
# doc_id(8) + n_chars(8); events fixed = event_id(8) + ts(8) +
# user_id(8) + value(8); strings count their character length
ORACLE["partition_advisor"] = """
WITH d AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(count(*) * 16
      + sum(coalesce(length(text), 0) + coalesce(length(lang), 0)
            + coalesce(length(source), 0)) AS BIGINT) AS est_bytes
  FROM documents
), e AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(count(*) * 32
      + sum(coalesce(length(event_type), 0)
            + coalesce(length(props), 0)) AS BIGINT) AS est_bytes
  FROM events
)
SELECT 'documents' AS tbl, n_rows, est_bytes,
  CAST(CASE WHEN n_rows > 0 THEN est_bytes // n_rows END AS BIGINT)
    AS avg_row_bytes,
  CAST(greatest(1, (est_bytes + 134217727) // 134217728) AS BIGINT)
    AS rec_partitions
FROM d
UNION ALL
SELECT 'events', n_rows, est_bytes,
  CAST(CASE WHEN n_rows > 0 THEN est_bytes // n_rows END AS BIGINT),
  CAST(greatest(1, (est_bytes + 134217727) // 134217728) AS BIGINT)
FROM e
"""


ORACLE["lang_top_tokens"] = """
WITH c AS (
  SELECT grp, lower(t) AS token, count(*) AS cnt FROM (
    SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS grp,
      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
    FROM documents WHERE text IS NOT NULL)
  GROUP BY 1, 2
), r AS (
  SELECT grp, token, cnt,
    row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, token ASC)
      AS rank,
    sum(cnt) OVER (PARTITION BY grp) AS tot
  FROM c
)
SELECT grp AS "group", token, CAST(cnt AS BIGINT) AS cnt,
  CAST(cnt * 10000 // greatest(tot, 1) AS BIGINT) AS share_bp,
  CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


ORACLE["pr_curve"] = f"""
WITH s AS ({ORACLE["classifier_scores"]}),
g AS ({ORACLE["gopher_rules"]}),
j AS (
  SELECT s.logit_milli AS sc, g.passes AS lab
  FROM s JOIN g ON s.doc_id = g.doc_id
  WHERE s.logit_milli IS NOT NULL AND g.passes IS NOT NULL
), grp AS (
  SELECT sc,
    cast(coalesce(count(*) FILTER (lab), 0) AS bigint) AS pos,
    cast(coalesce(count(*) FILTER (NOT lab), 0) AS bigint) AS neg
  FROM j GROUP BY sc
), c AS (
  SELECT sc,
    sum(pos) OVER (ORDER BY sc DESC) AS cp,
    sum(pos + neg) OVER (ORDER BY sc DESC) AS cn
  FROM grp
), t AS (
  SELECT cast(coalesce(sum(pos), 0) AS bigint) AS p,
         cast(coalesce(sum(pos + neg), 0) AS bigint) AS n
  FROM grp
)
SELECT sc AS threshold,
  CAST(cp AS BIGINT) AS tp,
  CAST(cn - cp AS BIGINT) AS fp,
  CAST(p - cp AS BIGINT) AS fn,
  CAST(n - cn - (p - cp) AS BIGINT) AS tn,
  CAST(cp * 10000 // greatest(cn, 1) AS BIGINT) AS precision_bp,
  CAST(cp * 10000 // greatest(p, 1) AS BIGINT) AS recall_bp
FROM c, t
"""


def _part_balance_sql(table, col, label, n=32, skew_bp=15000):
    return f"""
SELECT '{label}' AS key, {n} AS n_partitions,
  CAST(nr AS BIGINT) AS n_rows, CAST(nulls AS BIGINT) AS null_rows,
  CAST(CASE WHEN ub < {n} THEN 0 ELSE mn END AS BIGINT) AS min_rows,
  CAST(mx AS BIGINT) AS max_rows,
  CAST(nr // {n} AS BIGINT) AS avg_rows,
  CAST(CASE WHEN nr > 0 THEN mx * {n} * 10000 // nr ELSE 10000 END
       AS BIGINT) AS max_skew_bp,
  (CASE WHEN nr > 0 THEN mx * {n} * 10000 // nr ELSE 10000 END)
    <= {skew_bp} AS balanced
FROM (
  SELECT
    coalesce(sum(CASE WHEN bkt IS NOT NULL THEN 1 ELSE 0 END), 0) AS ub,
    sum(CASE WHEN bkt IS NOT NULL THEN n END) AS nr,
    min(CASE WHEN bkt IS NOT NULL THEN n END) AS mn,
    max(CASE WHEN bkt IS NOT NULL THEN n END) AS mx,
    coalesce(sum(CASE WHEN bkt IS NULL THEN n END), 0) AS nulls
  FROM (
    SELECT CAST('0x' || substr(md5(CAST("{col}" AS VARCHAR)), 1, 15)
                AS BIGINT) % {n} AS bkt,
      count(*) AS n
    FROM {table} GROUP BY 1)
) s
"""


ORACLE["partition_balance"] = (
    _part_balance_sql("events", "user_id", "events.user_id")
    + "\nUNION ALL\n"
    + _part_balance_sql("documents", "lang", "documents.lang")
)


# duplicated-id triage over the composed re-ingest feeds; content hash
# mirrors id_collisions' tagged concat (\x01 NULL, \x02 value, \x03 sep)
ORACLE["id_collisions"] = """
WITH u AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id, text, lang, source FROM documents
  WHERE doc_id IS NOT NULL AND doc_id % 9 = 0
  UNION ALL
  SELECT doc_id, text || ' v2', lang, source FROM documents
  WHERE doc_id IS NOT NULL AND doc_id % 15 = 0
), f AS (
  SELECT doc_id AS id,
    md5(
      (CASE WHEN text IS NULL THEN chr(1)
            ELSE chr(2) || CAST(text AS VARCHAR) END)
      || chr(3) ||
      (CASE WHEN lang IS NULL THEN chr(1)
            ELSE chr(2) || CAST(lang AS VARCHAR) END)
      || chr(3) ||
      (CASE WHEN source IS NULL THEN chr(1)
            ELSE chr(2) || CAST(source AS VARCHAR) END)
    ) AS fp
  FROM u WHERE doc_id IS NOT NULL
)
SELECT id, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT fp) AS INT) AS n_variants,
  count(DISTINCT fp) = 1 AS benign
FROM f GROUP BY 1 HAVING count(*) >= 2
ORDER BY n_rows DESC, id ASC LIMIT 1000
"""


# suite re-composition with the session-16 members — RAW-table variants
# of the provenance/key checks (no composed mirror/twin/re-ingest feeds)
_LANG_CONFLICTS_RAW = """
WITH d AS (
  SELECT md5(coalesce(array_to_string(list_transform(
      list_filter(string_split(text, ' '), x -> x <> ''),
      x -> lower(x)), ' '), '')) AS fp,
    coalesce(CAST(lang AS VARCHAR), '__null__') AS lg
  FROM documents WHERE text IS NOT NULL
), per AS (
  SELECT fp, lg FROM d GROUP BY fp, lg
)
SELECT fp FROM per GROUP BY fp HAVING count(*) >= 2
"""

_ID_COLLISIONS_RAW = """
WITH f AS (
  SELECT doc_id AS id,
    md5(
      (CASE WHEN text IS NULL THEN chr(1)
            ELSE chr(2) || CAST(text AS VARCHAR) END)
      || chr(3) ||
      (CASE WHEN lang IS NULL THEN chr(1)
            ELSE chr(2) || CAST(lang AS VARCHAR) END)
      || chr(3) ||
      (CASE WHEN source IS NULL THEN chr(1)
            ELSE chr(2) || CAST(source AS VARCHAR) END)
    ) AS fp
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT id FROM f GROUP BY id
HAVING count(*) >= 2 AND count(DISTINCT fp) >= 2
"""

ORACLE["check_suite"] = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS check_id, CAST(count(*) AS BIGINT) AS n_violations,
       CASE WHEN count(*) = 0 THEN 'pass' ELSE 'fail' END AS status
FROM ({sql})"""
    for name, sql in [
        ("doc_rules", ORACLE["validate_documents"]),
        ("events_user_unique", ORACLE["uniqueness_events_user"]),
        ("lineitem_supplier_ref", ORACLE["referential_lineitem_supplier"]),
        ("span_structure", ORACLE["span_structure"]),
        (
            "fd_violations",
            "SELECT * FROM (%s) WHERE NOT holds" % ORACLE["functional_deps"],
        ),
        ("hot_keys", "SELECT * FROM (%s) WHERE is_hot" % ORACLE["skew_report"]),
        (
            "encoding_damage",
            "SELECT * FROM (%s) WHERE NOT clean" % ORACLE["encoding_anomalies"],
        ),
        (
            "span_grammar",
            "SELECT * FROM (%s) WHERE NOT grammar_ok"
            % ORACLE["span_grammar"],
        ),
        ("uncaptioned_media", ORACLE["caption_check"]),
        ("lang_conflicts", _LANG_CONFLICTS_RAW),
        (
            "key_imbalance",
            "SELECT * FROM (%s) WHERE NOT balanced"
            % _part_balance_sql("events", "user_id", "events.user_id"),
        ),
        ("id_collisions", _ID_COLLISIONS_RAW),
    ]
)


ORACLE["group_freshness"] = """
WITH g AS (
  SELECT coalesce(CAST(event_type AS VARCHAR), '__null__') AS "group",
    CAST(count(*) AS BIGINT) AS n_rows,
    epoch_us(max(ts)) // 1000000 AS max_ts_s
  FROM events GROUP BY 1
)
SELECT "group", n_rows,
  CAST(max_ts_s AS BIGINT) AS max_ts_s,
  CAST(epoch_us(TIMESTAMP '2024-01-31 12:00:00') // 1000000 - max_ts_s
       AS BIGINT) AS lag_s,
  coalesce(epoch_us(TIMESTAMP '2024-01-31 12:00:00') // 1000000 - max_ts_s
           <= 86400, false) AS fresh
FROM g
"""


ORACLE["dispersion_profile"] = """
WITH per AS (
  SELECT coalesce(CAST(event_type AS VARCHAR), '__null__') AS "group",
    user_id, count(*) AS n
  FROM events WHERE user_id IS NOT NULL
  GROUP BY 1, 2
), s AS (
  SELECT "group", CAST(count(*) AS BIGINT) AS n_keys,
    CAST(sum(n) AS BIGINT) AS n_events,
    CAST(sum(n * n) AS BIGINT) AS q
  FROM per GROUP BY 1
)
SELECT "group", n_keys, n_events,
  CAST(n_events * 100 // n_keys AS BIGINT) AS mean_events_centi,
  CAST(CASE WHEN n_keys >= 2 AND n_events > 0 THEN
    (n_keys * q - n_events * n_events) * 100
    // ((n_keys - 1) * n_events) END AS BIGINT) AS fano_centi,
  coalesce(CASE WHEN n_keys >= 2 AND n_events > 0 THEN
    (n_keys * q - n_events * n_events) * 100
    // ((n_keys - 1) * n_events) END >= 200, false) AS bursty
FROM s
"""


# bigram PMI with positional marginals; floor(1000·ln) per pair — the
# lm_scores cross-engine float technique
ORACLE["pmi_collocations"] = """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), pr AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM tok, unnest(generate_series(1, len(tk) - 1)) AS g(i)
  WHERE len(tk) >= 2
), cb AS (
  SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY 1, 2
), c1 AS (
  SELECT w1, sum(n_pair) AS c1 FROM cb GROUP BY 1
), c2 AS (
  SELECT w2, sum(n_pair) AS c2 FROM cb GROUP BY 1
), n AS (
  SELECT sum(n_pair) AS nn FROM cb
)
SELECT cb.w1, cb.w2, CAST(cb.n_pair AS BIGINT) AS n_pair,
  CAST(floor(ln(
      (CAST(cb.n_pair AS DOUBLE) * nn)
      / (CAST(c1.c1 AS DOUBLE) * CAST(c2.c2 AS DOUBLE))
    ) * 1000) AS BIGINT) AS pmi_milli
FROM cb JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
WHERE cb.n_pair >= 2
ORDER BY pmi_milli DESC, cb.w1 ASC, cb.w2 ASC
LIMIT 20
"""


# graph-shape rollup over the md5-LSH candidate edges (both pipelines
# replayed end-to-end; LSH pairs are already canonical id_a < id_b)
ORACLE["dedup_graph_stats"] = """
WITH mh AS ({MH}),
e AS (
  SELECT DISTINCT id_a AS lo, id_b AS hi FROM mh
), deg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT lo AS id FROM e UNION ALL SELECT hi FROM e
  ) GROUP BY 1
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
    CAST(coalesce(sum((d * (d - 1)) // 2), 0) AS BIGINT) AS n_wedges
  FROM deg
), en AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1
  JOIN e e2 ON e1.hi = e2.lo
  JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
  CAST(CASE WHEN n_wedges > 0 THEN (30000 * n_triangles) // n_wedges END
       AS BIGINT) AS closure_bp,
  CAST(0 AS BIGINT) AS n_capped_nodes
FROM base, en, tri
""".replace("{MH}", ORACLE["minhash_pairs_md5"])


def _compression_quality_oracle() -> str:
    """DuckDB has no deflate, so the compression oracle precomputes
    ``(md5(text), n_bytes, n_compressed)`` with the SAME stdlib zlib the
    Spark UDF uses and inlines it as a VALUES table keyed by content
    hash — corpus-independent: it covers the deterministic gate corpora
    (sf0.001, sf0.01) plus the hostile fixture texts, and joins against
    whatever ``documents`` view the gate mounts.  An unknown text joins
    to NULL metrics and hash-fails loudly instead of silently passing.
    Ratio/flag arithmetic is replayed in SQL with the exact expression
    shape of ``text.compression_signals`` (floor of a double quotient of
    int64s — exact for these magnitudes in both engines)."""
    import zlib

    import duckdb as _dd

    from evalidate_spark.fixtures import HOSTILE_DOCS

    texts = {t[1] for t in HOSTILE_DOCS if t[1] is not None}
    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if os.path.exists(path):
            texts.update(
                r[0]
                for r in _dd.sql(
                    f"SELECT DISTINCT text FROM '{path}' WHERE text IS NOT NULL"
                ).fetchall()
            )
    vals = []
    seen = set()
    for t in sorted(texts):
        b = t.encode("utf-8")
        h = hashlib.md5(b).hexdigest()
        if h in seen:
            continue
        seen.add(h)
        vals.append(f"('{h}', {len(b)}, {len(zlib.compress(b, 6))})")
    if not vals:
        vals = ["('', NULL, NULL)"]
    ratio = "CAST(floor(10000 * n_compressed / n_bytes) AS bigint)"
    return f"""
SELECT doc_id, n_bytes, n_compressed,
  CASE WHEN n_bytes > 0 THEN {ratio} END AS ratio_bp,
  coalesce(n_bytes >= 64 AND n_bytes > 0 AND {ratio} < 3000, false)
    AS too_repetitive,
  coalesce(n_bytes >= 64 AND n_bytes > 0 AND {ratio} > 9500, false)
    AS too_random
FROM (
  SELECT d.doc_id, CAST(z.nb AS bigint) AS n_bytes,
         CAST(z.nc AS bigint) AS n_compressed
  FROM documents d
  LEFT JOIN (VALUES {', '.join(vals)}) z(h, nb, nc)
    ON d.text IS NOT NULL AND md5(d.text) = z.h
)
"""


def oracle_sql() -> dict[str, str]:
    d = dict(ORACLE)
    d["embedding_dedup_attrition"] = _embedding_dedup_attrition_oracle()
    try:
        d["compression_quality"] = _compression_quality_oracle()
    except Exception:
        pass  # corpus unavailable → the query stays rows-only
    return d
