"""Constraint suggestion: profile a table and propose a rule spec.

The reference engine validates against a *hand-written* spec
(``/root/reference/src/evalidate.erl``; rule records
``/root/reference/include/evalidate.hrl:11-31``).  At corpus scale the
spec itself is a liability — nobody hand-writes bounds for 400 columns —
so this operator closes the loop the way Deequ's ``ConstraintSuggestion``
does for its checks: scan the data once, emit the spec the data already
satisfies, feed it straight back into :func:`evalidate_spark.validate`.

Suggested rules (one output row each, ``column / rule / param``):

* ``required``  — the column has zero NULLs.
* ``type``      — schema-derived reference type name (``binary`` /
  ``integer`` / ``float`` / ``boolean``); data-independent.
* ``allowed``   — string column whose exact distinct-value count is
  ``<= max_allowed``; param is the comma-joined sorted value set.
* ``size``      — numeric: ``[floor(min), ceil(max)]`` value bounds;
  string: ``[min_len, max_len]`` char-length bounds.

Scale design (10^12 rows): TWO scans, both single-aggregation passes
with partial (map-side) aggregation and a one-row shuffle per partition.
Pass 1 estimates per-column cardinality with HyperLogLog++ (O(1) sketch
memory) purely to decide which string columns are safe ``allowed``
candidates; pass 2 — the returned, lazy plan — computes the stats plus
``collect_set`` for *verified-small* candidates only, so no unbounded
value set is ever collected.  The final unpivot is an ``explode`` over a
single row.  Exact mode (``approx_distinct=False``) swaps HLL for
``count(DISTINCT)`` — the oracle/audit path, same contract as
:func:`evalidate_spark.operators.table_checks.profile`.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from .table_checks import _NUMERIC, _unpivot

__all__ = [
    "suggest_constraints",
    "suggestions_to_spec",
    "functional_dependencies",
]

# Spark typeName -> reference type-validator name (spec.TYPE_NAMES).
# Types outside this map (dates, arrays, structs, maps) get no type rule:
# the reference type system (/root/reference/src/evv.erl:100-125) has no
# counterpart, and guessing one would make the suggested spec fail its
# own round-trip.
_TYPE_MAP = {
    "string": "binary",
    "byte": "integer",
    "short": "integer",
    "integer": "integer",
    "long": "integer",
    "float": "float",
    "double": "float",
    "boolean": "boolean",
}

def suggest_constraints(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    max_allowed: int = 8,
    approx_distinct: bool = True,
) -> DataFrame:
    """Suggest a constraint spec the data currently satisfies.

    Returns ``column, rule, param`` rows (deterministic given the data).
    ``max_allowed`` caps the ``allowed``-set size; candidates are
    pre-screened by cardinality (HLL by default) before any value set is
    collected, so executor memory stays bounded on high-cardinality
    columns.
    """
    cols = list(columns) if columns else [f.name for f in df.schema.fields]
    types = {f.name: f.dataType.typeName() for f in df.schema.fields}
    for c in cols:
        if c not in types:
            raise ValueError(f"suggest_constraints: unknown column {c!r}")

    str_cols = [c for c in cols if types[c] == "string"]
    # ---- pass 1 (eager, one row): cardinality screen for allowed-sets.
    # HLL standard error ~2%; the 1.5x slack means a true cardinality
    # beyond ~1.5*max_allowed can never slip into the collect_set pass.
    if str_cols:
        dfn = F.countDistinct if not approx_distinct else F.approx_count_distinct
        screen = df.agg(
            *[dfn(F.col("`%s`" % c)).alias(c) for c in str_cols]
        ).first()
        budget = max_allowed if not approx_distinct else int(max_allowed * 1.5)
        candidates = [c for c in str_cols if (screen[c] or 0) <= budget]
    else:
        candidates = []

    # ---- pass 2 (lazy, returned): stats + capped value sets in ONE agg.
    aggs: List = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        qc = F.col("`%s`" % c)
        aggs.append(F.count(qc).alias(f"{c}__nn"))
        if types[c] in _NUMERIC:
            aggs.append(F.floor(F.min(qc)).cast("long").alias(f"{c}__lo"))
            aggs.append(F.ceil(F.max(qc)).cast("long").alias(f"{c}__hi"))
            # raw doubles back the int64-range guard below: a cast('long')
            # on an out-of-range double clamps, and a clamped bound would
            # make the suggested spec reject its own data
            aggs.append(F.min(qc).cast("double").alias(f"{c}__rlo"))
            aggs.append(F.max(qc).cast("double").alias(f"{c}__rhi"))
        elif types[c] == "string":
            aggs.append(F.min(F.length(qc)).alias(f"{c}__lo"))
            aggs.append(F.max(F.length(qc)).alias(f"{c}__hi"))
        if c in candidates:
            # slice is belt-and-braces: the screen already bounds the set,
            # the cap bounds the *emitted* row even if data moved under us
            aggs.append(
                F.slice(
                    F.sort_array(F.collect_set(qc)), 1, max_allowed + 1
                ).alias(f"{c}__set")
            )
    row = df.agg(*aggs)

    def col(c: str, suffix: str):
        return F.col(f"`{c}__{suffix}`")

    def entry(c: str, rule: str, param, keep):
        # identical field names in every struct: array() requires it
        return F.struct(
            F.lit(c).alias("column"),
            F.lit(rule).alias("rule"),
            param.alias("param"),
            keep.alias("keep"),
        )

    parts = []
    for c in cols:
        has_bounds = types[c] in _NUMERIC or types[c] == "string"
        parts.append(
            entry(
                c, "required", F.lit(""),
                (col(c, "nn") == F.col("__n")) & (F.col("__n") > 0),
            )
        )
        tname = _TYPE_MAP.get(types[c])
        if tname:
            parts.append(entry(c, "type", F.lit(tname), F.lit(True)))
        if c in candidates:
            parts.append(
                entry(
                    c,
                    "allowed",
                    F.concat_ws(",", col(c, "set")),
                    F.size(col(c, "set")).between(1, max_allowed),
                )
            )
        if has_bounds:
            keep = col(c, "nn") > 0
            if types[c] in _NUMERIC:
                # Size bounds are integers in the reference DSL — a column
                # whose envelope exceeds int64 gets no size rule at all
                keep = (
                    keep
                    & (col(c, "rlo") >= F.lit(-9.2233720368547e18))
                    & (col(c, "rhi") <= F.lit(9.2233720368547e18))
                )
            bounds = F.concat(
                F.lit("["), col(c, "lo").cast("string"), F.lit(","),
                col(c, "hi").cast("string"), F.lit("]"),
            )
            parts.append(entry(c, "size", bounds, keep))
    return _unpivot(row, parts).where(F.col("keep")).select("column", "rule", "param")


def suggestions_to_spec(rows, schema_types: Optional[dict] = None) -> list:
    """Turn collected suggestion rows back into an executable rule spec.

    ``rows`` is any iterable of ``(column, rule, param)`` (e.g.
    ``suggest_constraints(df).collect()``).  The result feeds
    :func:`evalidate_spark.validate` directly — by construction the data
    that produced the suggestions passes the returned spec (the
    round-trip is asserted in ``tests/test_table_ops.py``).

    ``allowed`` params are comma-joined, so value sets whose members
    contain commas do not round-trip; ``suggest_constraints`` is still
    correct for them (param is informational), this inverse is not.
    """
    from ..spec import OPTIONAL, REQUIRED, Allowed, Rule, Size, Type

    by_col: dict = {}
    for r in rows:
        c, rule, param = r[0], r[1], r[2]
        by_col.setdefault(c, {})[rule] = param
    out = []
    for c, rules in by_col.items():
        validators = []
        if "type" in rules:
            validators.append(Type(rules["type"]))
        if "allowed" in rules:
            validators.append(Allowed(rules["allowed"].split(",")))
        if "size" in rules:
            lo, hi = rules["size"].strip("[]").split(",")
            validators.append(Size(int(lo), int(hi)))
        out.append(
            Rule(
                key=c,
                presence=REQUIRED if "required" in rules else OPTIONAL,
                validators=validators,
            )
        )
    return out


def functional_dependencies(
    df: DataFrame, pairs: Sequence[Tuple[str, str]]
) -> DataFrame:
    """Test candidate functional dependencies ``determinant -> dependent``.

    The other half of Deequ-style constraint suggestion: ``allowed``/
    ``size`` bounds describe single columns, FDs describe column
    *relationships* (`n_nationkey -> n_name`, `sku -> brand`) — exactly
    the uniqueness/consistency invariants a validation spec wants to pin
    before the data drifts.  One row per candidate pair:

    ``(determinant, dependent, n_keys, violating_keys, max_images,
    holds)`` where ``n_keys`` counts distinct non-NULL determinant
    values, ``violating_keys`` those mapping to more than one image,
    ``max_images`` the worst key's image count, and
    ``holds = violating_keys == 0`` (vacuously true on an empty table).

    NULL contract: rows with a NULL determinant are excluded (no key
    identity); a NULL *dependent* is one image value of its own — a key
    mapping to both ``'x'`` and NULL is a violation, matching what a
    downstream NOT-NULL-on-match check would observe.

    Scale shape (10^12 rows): per pair, an explicit two-phase plan —
    ``groupBy(det, dep)`` (map-side combined; the heavy shuffle keys on
    the PAIR, so a hot determinant with many images still spreads across
    reducers) then ``groupBy(det)`` counting images, then a 1-row
    summary agg.  No Expand-based ``count(DISTINCT)``, no value
    collection, O(1) output.  Candidate pairs are unioned 1-row plans —
    keep the pair list bounded (it is a spec, not a search; for FD
    *mining* over all column pairs, screen with
    :func:`suggest_constraints`'s HLL pass first)."""
    if not pairs:
        raise ValueError("functional_dependencies needs at least one pair")
    names = {f.name for f in df.schema.fields}
    outs: List[DataFrame] = []
    for det, dep in pairs:
        for c in (det, dep):
            if c not in names:
                raise ValueError(f"functional_dependencies: unknown column {c!r}")
        kd = F.col("`%s`" % det)
        vd = F.col("`%s`" % dep)
        images = (
            df.filter(kd.isNotNull())
            .groupBy(kd.alias("__k"), vd.alias("__v"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__imgs"))
        )
        viol = F.sum(F.when(F.col("__imgs") > 1, 1).otherwise(0))
        outs.append(
            images.agg(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.coalesce(viol, F.lit(0)).cast("long").alias("violating_keys"),
                F.coalesce(F.max("__imgs"), F.lit(0)).cast("long").alias("max_images"),
                (F.coalesce(viol, F.lit(0)) == 0).alias("holds"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def rule_cooccurrence(
    violations,
    rule_col: str = "rule_id",
    id_col: str = "doc_id",
):
    """Which rules fire TOGETHER — the spec-lint signal
    :func:`rule_firing_stats` (per-rule totals) cannot see: a rule pair
    with overlap ≈ 10000 bp is redundant (one of them can be dropped, or
    they encode one real-world defect and should share an on_error
    message), and a pair that never co-fires but guards the same column
    marks disjoint failure populations worth separate dashboards.

    Input: typed violation rows (the engine's ``violations`` frame).
    Output: one row per unordered rule pair that co-fires on at least
    one document —

    ``(rule_a, rule_b, n_both, n_a, n_b, overlap_bp)``

    with ``rule_a < rule_b``, ``n_*`` = DISTINCT documents each rule
    fires on, and ``overlap_bp`` = exact integer-bp Jaccard of the two
    doc sets (``n_both / (n_a + n_b − n_both)``).  NULL-id rows collapse
    to one (NULL, rule) row in the distinct and never pair (equi-join
    semantics) — identical in SQL.

    Scale shape: one distinct over (doc, rule) — the only
    row-cardinality shuffle; the pair self-join keys on doc id and fans
    out by (rules-per-doc)², bounded by the RULE-SET size, not the
    corpus; per-rule totals are a rule-cardinality aggregate joined back
    by broadcast."""
    from pyspark.sql import functions as F

    rv = violations.select(
        F.col("`%s`" % id_col).alias("__d"),
        F.col("`%s`" % rule_col).alias("__r"),
    ).distinct()
    counts = rv.groupBy(F.col("__r")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = rv.select(F.col("__d"), F.col("__r").alias("rule_a"))
    b = rv.select(F.col("__d"), F.col("__r").alias("rule_b"))
    pairs = (
        a.join(b, "__d")
        .filter(F.col("rule_a") < F.col("rule_b"))
        .groupBy("rule_a", "rule_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ca = counts.select(F.col("__r").alias("rule_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("__r").alias("rule_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "rule_a")
        .join(F.broadcast(cb), "rule_b")
        .select(
            "rule_a",
            "rule_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("(n_both * 10000) DIV (n_a + n_b - n_both)")
            .cast("long")
            .alias("overlap_bp"),
        )
    )


def rule_drift(
    base_violations,
    cur_violations,
    base_rows: int = None,
    cur_rows: int = None,
    rule_col: str = "rule_id",
    id_col: str = "doc_id",
    alert_bp: int = 500,
):
    """Per-rule violation-RATE drift between two corpus slices — the
    alert that catches "the new crawl batch breaks rule X twice as
    often" before it poisons a training mix.  Inputs are two typed
    violation frames (baseline / current) plus each slice's TOTAL row
    count (so rules that stopped firing still show a rate drop, and
    rates are per-document, not per-violation).

    Output per rule (full outer over the union of rules):

    ``(rule_id, base_docs, cur_docs, base_rate_bp, cur_rate_bp,
    delta_bp, alert)``

    with rates = distinct offending docs · 10000 div slice rows (exact
    ints), ``delta_bp = cur − base`` and ``alert = |delta| >=
    alert_bp``.  A rule absent from one side reads as rate 0 there —
    new rules and silenced rules both surface.

    Scale shape: one distinct + rule-cardinality aggregate per side,
    then a rule-cardinality full outer join — nothing at corpus
    cardinality after the distincts.  *base_rows*/*cur_rows* must come
    from counts the caller already has (manifest totals, profile rows) —
    a violations frame cannot know its parent's row count, so omitting
    them raises rather than silently normalising per-violation."""
    from pyspark.sql import functions as F

    if base_rows is None or cur_rows is None:
        raise ValueError("rule_drift needs explicit base_rows and cur_rows")
    if base_rows <= 0 or cur_rows <= 0:
        raise ValueError("rule_drift: slice row counts must be positive")

    def _rates(v, n_rows: int, docs_name: str, rate_name: str):
        return (
            v.select(
                F.col("`%s`" % rule_col).alias("rule_id"),
                F.col("`%s`" % id_col).alias("__d"),
            )
            .distinct()
            .groupBy("rule_id")
            .agg(F.count(F.lit(1)).cast("long").alias(docs_name))
            .withColumn(
                rate_name,
                F.expr("(%s * 10000) DIV %d" % (docs_name, int(n_rows)))
                .cast("long"),
            )
        )

    b = _rates(base_violations, base_rows, "base_docs", "base_rate_bp")
    c = _rates(cur_violations, cur_rows, "cur_docs", "cur_rate_bp")
    j = b.join(c, "rule_id", "full_outer").select(
        "rule_id",
        F.coalesce("base_docs", F.lit(0)).cast("long").alias("base_docs"),
        F.coalesce("cur_docs", F.lit(0)).cast("long").alias("cur_docs"),
        F.coalesce("base_rate_bp", F.lit(0)).cast("long").alias("base_rate_bp"),
        F.coalesce("cur_rate_bp", F.lit(0)).cast("long").alias("cur_rate_bp"),
    )
    delta = F.col("cur_rate_bp") - F.col("base_rate_bp")
    return j.select(
        "*",
        delta.alias("delta_bp"),
        (F.abs(delta) >= int(alert_bp)).alias("alert"),
    )
