"""Span-sequence structural validation — the north-rule checks over the
interleaved text+media documents table
(``doc_id:string, spans:array<struct<kind,text,media_ref,offset>>``).

This is the reference's "rules mapped over each object in a list" shape
(``/root/reference/src/evalidate.erl:48-49``; object-list test
``/root/reference/test/evalidate_SUITE.erl:1231-1279``) plus cross-element
sequence checks the reference cannot express.  Everything is explode-free:
array higher-order functions (``forall``/``transform``/``zip_with``/
``slice``) keep the work inside one fused projection per row — no shuffle,
no row multiplication, which is what makes this viable at 10^12 docs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..spec import Allowed, Rule, Size, Type
from .table_checks import _wave_transitions, _waves

KINDS = ("text", "media")


def span_rules() -> list:
    """Per-element span rules in engine spec form (compiled by the engine
    into HOF checks with span_index attribution)."""
    return [
        Rule(key="doc_id", presence="required", validators=[Type("binary"), Size(1, None)]),
        Rule(
            key="spans",
            presence="required",
            validators=[Type("list"), Size(1, None)],
            childs=[
                Rule(key="kind", presence="required", validators=[Allowed(list(KINDS))]),
                Rule(key="offset", presence="required", validators=[Size(0, None)]),
            ],
        ),
    ]


def _spans(col: str) -> Column:
    return F.col("`%s`" % col)


def _kind_sig(spans: Column, kind_chars: Sequence[tuple], other_char: str) -> Column:
    """A doc's span-kind signature: one char per span from *kind_chars*
    (unknown/NULL kinds become *other_char*), ``''`` for a NULL or empty
    span array (never NULL).  The one fold behind :func:`span_grammar`,
    :func:`span_templates`, :func:`template_drift` and
    :func:`template_source_matrix`."""

    def char(s):
        e = None
        for kind, c in kind_chars:
            e = (F.when(s["kind"] == kind, F.lit(c)) if e is None
                 else e.when(s["kind"] == kind, F.lit(c)))
        return e.otherwise(F.lit(other_char))

    return F.coalesce(F.array_join(F.transform(spans, char), ""), F.lit(""))


def kind_consistency_violations(spans: Column) -> Column:
    """Indices of spans violating text/media consistency: kind='text' must
    carry text and no media_ref; kind='media' the reverse."""
    flags = F.transform(
        spans,
        lambda s, i: F.when(
            ~(
                (
                    (s["kind"] == "text")
                    & s["text"].isNotNull()
                    & s["media_ref"].isNull()
                )
                | (
                    (s["kind"] == "media")
                    & s["media_ref"].isNotNull()
                    & s["text"].isNull()
                )
            ),
            i,
        ),
    )
    return F.filter(flags, lambda x: x.isNotNull())


def offset_monotonic_ok(spans: Column) -> Column:
    """offsets non-decreasing within a doc — pairwise zip of the array with
    its tail (``zip_with`` + ``forall``), no window, no explode."""
    tail = F.slice(spans, 2, F.greatest(F.size(spans) - 1, F.lit(0)))
    pairs_ok = F.zip_with(
        F.slice(spans, 1, F.greatest(F.size(spans) - 1, F.lit(0))),
        tail,
        lambda a, b: a["offset"] <= b["offset"],
    )
    return F.forall(pairs_ok, lambda x: x)


def span_structure_violations(
    docs: DataFrame, doc_id: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Structural violation rows over the documents table:

    ``(doc_id, rule_id, span_index, message)`` for
    * kind not in {text, media}
    * text/media_ref inconsistency with kind
    * offset inversions (reported at the left index of each bad pair)

    One fused projection + one sparse explode of failing indices.
    """
    spans = _spans(spans_col)
    bad_kind = F.filter(
        F.transform(spans, lambda s, i: F.when(~s["kind"].isin(*KINDS), i)),
        lambda x: x.isNotNull(),
    )
    bad_cons = kind_consistency_violations(spans)
    inversions = F.filter(
        F.transform(
            F.zip_with(
                F.slice(spans, 1, F.greatest(F.size(spans) - 1, F.lit(0))),
                F.slice(spans, 2, F.greatest(F.size(spans) - 1, F.lit(0))),
                lambda a, b: a["offset"] > b["offset"],
            ),
            lambda bad, i: F.when(bad, i),
        ),
        lambda x: x.isNotNull(),
    )

    def emit(rule_id: str, idxs: Column, message: str) -> Column:
        return F.transform(
            idxs,
            lambda i: F.struct(
                F.lit(rule_id).alias("rule_id"),
                i.cast("int").alias("span_index"),
                F.lit(message).alias("message"),
            ),
        )

    all_v = F.concat(
        emit("span:kind_allowed", bad_kind, "span kind is not one of text|media"),
        emit(
            "span:kind_consistency",
            bad_cons,
            "text/media_ref fields are inconsistent with span kind",
        ),
        emit("span:offset_monotonic", inversions, "span offset decreases"),
    )
    out = docs.select(F.col("`%s`" % doc_id).alias("doc_id"), all_v.alias("__v")).filter(
        F.size("__v") > 0
    )
    return out.select(
        "doc_id", F.explode("__v").alias("v")
    ).select("doc_id", "v.rule_id", "v.span_index", "v.message")


def reconstruct_text(
    docs: DataFrame,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Flatten the interleaved span sequence back into linear text — the
    render step a training pipeline runs after validation: spans are
    ordered by ``(offset NULLS LAST, original index)`` (a stable sort, so
    equal offsets keep ingest order), text spans contribute their text,
    media spans an inline ``<media:REF>`` placeholder, any other kind
    renders empty (structural validation flags those separately).

    Returns ``(doc_id, rendered, n_text_spans, n_media_spans)``.  A NULL
    spans array renders NULL with zero counts.

    Everything happens inside ONE fused projection per row: the sort is
    ``array_sort`` with an explicit comparator, the render a
    ``transform`` + ``concat_ws`` — no explode, no shuffle, no window, so
    the job is a pure map at any corpus size.
    """
    spans = _spans(spans_col)
    indexed = F.transform(
        spans,
        lambda s, i: F.struct(
            s["offset"].alias("off"),
            i.alias("ix"),
            s["kind"].alias("kind"),
            s["text"].alias("txt"),
            s["media_ref"].alias("ref"),
        ),
    )

    def _cmp(a: Column, b: Column) -> Column:
        ao, bo = a["off"], b["off"]
        return (
            F.when(ao.isNull() & bo.isNull(), a["ix"] - b["ix"])
            .when(ao.isNull(), F.lit(1))
            .when(bo.isNull(), F.lit(-1))
            .when(ao < bo, F.lit(-1))
            .when(ao > bo, F.lit(1))
            .otherwise(a["ix"] - b["ix"])
        ).cast("int")

    pieces = F.transform(
        F.array_sort(indexed, _cmp),
        lambda s: F.when(s["kind"] == "text", F.coalesce(s["txt"], F.lit("")))
        .when(
            s["kind"] == "media",
            F.concat(F.lit("<media:"), F.coalesce(s["ref"], F.lit("")), F.lit(">")),
        )
        .otherwise(F.lit("")),
    )

    def _kind_count(kind: str) -> Column:
        return F.when(spans.isNull(), F.lit(0)).otherwise(
            F.size(F.filter(spans, lambda s: s["kind"] == kind))
        ).cast("long")

    return docs.select(
        F.col("`%s`" % doc_id).alias("doc_id"),
        F.when(spans.isNotNull(), F.concat_ws("", pieces)).alias("rendered"),
        _kind_count("text").alias("n_text_spans"),
        _kind_count("media").alias("n_media_spans"),
    )


def media_refs(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """All (doc_id, media_ref) pairs — input to the referential anti-join.
    Filtered inside the array first so the explode multiplies only media
    spans (column-pruned scan reads just doc_id + spans.media_ref)."""
    refs = F.filter(
        F.transform(_spans(spans_col), lambda s: s["media_ref"]),
        lambda r: r.isNotNull(),
    )
    return docs.select(F.col("doc_id"), F.explode(refs).alias("media_ref"))


def span_grammar(
    docs: DataFrame,
    grammar: str,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
    kind_chars: Sequence[tuple] = (("text", "t"), ("media", "m")),
    other_char: str = "?",
) -> DataFrame:
    """Kind-SEQUENCE validation of the interleaved span array — the
    cross-element grammar the reference's per-element rules cannot
    express (its list mapping, ``/root/reference/src/evalidate.erl:48-49``,
    sees one object at a time): "a document must open with text", "no two
    media spans back-to-back", "every media span needs a text caption
    after it" are all constraints on the ORDER of kinds.

    Each doc's span kinds are folded to a signature string over a
    one-char alphabet (*kind_chars*; unknown/NULL kinds become
    *other_char*, which no sane grammar accepts) and matched against the
    *grammar* regex (unanchored, like the reference's regexp validator —
    anchor explicitly).  Returns one row per doc:

    ``(doc_id, kind_sig, n_spans, max_media_run, grammar_ok)``

    * ``kind_sig`` — '' for NULL/empty span arrays (never NULL: a doc
      with no spans still gets a verdict, and ``^t`` style grammars
      reject it as they should);
    * ``max_media_run`` — longest back-to-back run of the media char,
      the one sequence stat worth having even when the grammar passes
      (alt text / caption budgeting);
    * ``grammar_ok`` — the verdict.

    Scale shape: ONE fused per-row projection — transform + array_join +
    two regexp evaluations; no explode, no shuffle, no UDF.  The
    signature string is ≤ one char per span (a 10k-span doc folds to a
    10 kB string), so this stays cheap at 10^12 docs."""
    spans = _spans(spans_col)
    media_char = dict(kind_chars).get("media", "m")
    sig = _kind_sig(spans, kind_chars, other_char)
    runs = F.split(sig, "[^%s]+" % media_char)
    max_run = F.coalesce(
        F.array_max(F.transform(runs, lambda r: F.length(r))), F.lit(0)
    ).cast("int")
    return docs.select(
        F.col("`%s`" % doc_id).alias("doc_id"),
        sig.alias("kind_sig"),
        F.coalesce(F.size(spans), F.lit(0)).cast("int").alias("n_spans"),
        max_run.alias("max_media_run"),
        sig.rlike(grammar).alias("grammar_ok"),
    )


def span_templates(
    docs: DataFrame,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
    kind_chars: Sequence[tuple] = (("text", "t"), ("media", "m")),
    other_char: str = "?",
    min_docs: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Structural-template mining over the interleaved span arrays —
    the layout-level boilerplate detector: docs sharing one kind-sequence
    skeleton (the :func:`span_grammar` signature) were almost certainly
    produced by one extractor template, and a template owning a large
    corpus share is the structural analogue of a duplicated line.
    Returns the top *top_k* templates with ≥ *min_docs* members::

        (template, n_docs, share_bp, example_doc_id)

    ``share_bp`` is the template's exact integer-bp share of all docs
    (including NULL/empty-span docs, which report as the ``''``
    template — an empty skeleton is itself a data-quality finding);
    ``example_doc_id`` is the minimum member id (deterministic, and the
    row a reviewer opens first).

    Scale shape: the per-doc signature fold is the same explode-free
    projection as ``span_grammar`` (≤1 char per span), then ONE groupBy
    at template cardinality (bounded by distinct layouts, not docs), a
    broadcast 1-row total, and a TakeOrdered top-k — no corpus-sized
    window, no second scan."""
    if min_docs < 1:
        raise ValueError("span_templates: min_docs must be >= 1")
    spans = _spans(spans_col)
    sig = _kind_sig(spans, kind_chars, other_char)
    per_template = (
        docs.select(
            sig.alias("template"),
            F.col("`%s`" % doc_id).alias("__id"),
        )
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("__id").alias("example_doc_id"),
        )
    )
    total = per_template.agg(
        F.sum("n_docs").cast("long").alias("__total")
    )
    return (
        per_template.filter(F.col("n_docs") >= int(min_docs))
        .crossJoin(F.broadcast(total))
        .select(
            "template",
            "n_docs",
            F.expr("n_docs * 10000L DIV greatest(__total, 1)")
            .cast("long")
            .alias("share_bp"),
            "example_doc_id",
        )
        .orderBy(F.col("n_docs").desc(), F.col("template").asc())
        .limit(int(top_k))
    )


def template_drift(
    docs: DataFrame,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
    kind_chars: Sequence[tuple] = (("text", "t"), ("media", "m")),
    other_char: str = "?",
    n_waves: int = 5,
) -> DataFrame:
    """Wave-over-wave span-TEMPLATE drift — the extractor-swap tripwire:
    docs slice into *n_waves* equal id-ranges (ingest order proxy) and
    consecutive waves' template distributions (the :func:`span_templates`
    skeletons, one per doc) compare by total-variation distance —
    ``(from_wave, to_wave, tvd_bp, new_templates, new_docs_bp)``.

    A TVD spike between waves means the upstream extractor changed the
    LAYOUT it emits (new pipeline version, new source mix) even when
    per-doc validation still passes; ``new_templates`` / ``new_docs_bp``
    count skeletons (and their doc share of the TO wave) never seen in
    the FROM wave.  The layout analogue of ``text.vocab_drift`` and the
    structural analogue of ``similarity.embedding_drift`` — the three
    drift monitors cover text, vectors, and layout.

    Plan: one :func:`_kind_sig` TEMPLATE per doc, waves from
    ``table_checks._waves``, then the shared wave-over-wave roll-up
    ``table_checks._wave_transitions`` keyed on the template: one
    template-keyed groupBy computes all waves' conditional counts, a
    broadcast 1-row total, then ONE aggregate emits every transition's
    exact int-bp terms and a tiny unpivot — the shuffle is
    template-cardinality, never corpus-cardinality, and nothing is
    rescanned per transition.  NULL ids are excluded (no wave position);
    NULL/empty span arrays participate as the ``''`` template (layout
    absence drifting in IS drift)."""
    if n_waves < 2:
        raise ValueError("template_drift: n_waves must be >= 2")
    ids = F.col("`%s`" % doc_id)
    d = docs.filter(ids.isNotNull()).select(
        ids.alias("__id"),
        _kind_sig(_spans(spans_col), kind_chars, other_char).alias("__t"),
    )
    return _wave_transitions(_waves(d, n_waves), n_waves, "new_templates", "new_docs_bp")


def template_source_matrix(
    docs: DataFrame,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
    source_col: str = "source",
    kind_chars: Sequence[tuple] = (("text", "t"), ("media", "m")),
    other_char: str = "?",
    min_docs: int = 2,
) -> DataFrame:
    """Feed-attribution companion to :func:`template_drift`: the drift
    report says WHEN the layout mix moved; this matrix says WHICH FEED
    emits which layout — ``(source, template, n_docs, source_share_bp)``
    per (source, template) cell with ≥ *min_docs* members, where
    ``source_share_bp`` is the template's exact integer-bp share of its
    OWN source's docs.  A feed whose dominant template changes between
    runs is the extractor to go look at.

    NULL sources report as ``'__null__'`` (repo convention); NULL/empty
    span arrays form the ``''`` template.  Plan: the explode-free
    signature fold, ONE groupBy at (source × template) cardinality, a
    broadcast source-totals join (source-cardinality), no corpus window.
    Deterministic output — every cell is exact counts."""
    if min_docs < 1:
        raise ValueError("template_source_matrix: min_docs must be >= 1")
    spans = _spans(spans_col)
    sig = _kind_sig(spans, kind_chars, other_char)
    src = F.coalesce(
        F.col("`%s`" % source_col).cast("string"), F.lit("__null__")
    )
    cells = (
        docs.select(src.alias("source"), sig.alias("template"))
        .groupBy("source", "template")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    totals = cells.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("__tot")
    )
    return (
        cells.filter(F.col("n_docs") >= int(min_docs))
        .join(F.broadcast(totals), "source")
        .select(
            "source",
            "template",
            "n_docs",
            F.expr("n_docs * 10000L DIV greatest(__tot, 1)")
            .cast("long")
            .alias("source_share_bp"),
        )
    )


def caption_proximity_violations(
    docs: DataFrame,
    max_distance: int,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Uncaptioned-media detection — every media span must have a text
    span (with actual text) within *max_distance* offset units:
    ``(doc_id, span_index, offset)`` rows for media spans that don't.
    The alignment rule of an interleaved corpus: a media payload with no
    nearby caption contributes nothing to text-conditioned training and
    usually marks extraction breakage (figure ripped from its paragraph).

    Explode-free like the other span checks: one ``transform`` with a
    nested ``exists`` per media span — O(spans²) per doc inside a single
    fused projection, no shuffle; interleaved docs are narrow (the 10k-span
    outlier costs 10^8 comparisons in ONE task, still cheaper than any
    row-multiplying alternative).  NULL offsets satisfy nothing: a media
    span with NULL offset is always a violation, a text span with NULL
    offset never captions."""
    spans = _spans(spans_col)
    d = F.lit(int(max_distance))
    bad = F.filter(
        F.transform(
            spans,
            lambda s, i: F.when(
                (s["kind"] == "media")
                & ~F.coalesce(
                    F.exists(
                        spans,
                        lambda t: (t["kind"] == "text")
                        & t["text"].isNotNull()
                        & t["offset"].isNotNull()
                        & s["offset"].isNotNull()
                        & (F.abs(t["offset"] - s["offset"]) <= d),
                    ),
                    F.lit(False),
                ),
                F.struct(
                    i.cast("int").alias("span_index"),
                    s["offset"].cast("int").alias("offset"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return docs.select(
        F.col("`%s`" % doc_id).alias("doc_id"), F.explode(bad).alias("__v")
    ).select("doc_id", F.col("__v.span_index"), F.col("__v.offset"))


def media_reuse(
    docs: DataFrame, doc_id: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Media-asset reuse report — per referenced asset, how many spans
    cite it and across how many DISTINCT documents: ``(media_ref,
    n_occurrences, n_docs, shared)``.  The planning input for media
    dedup and media-shard layout: an asset cited by 10^5 docs should be
    stored once and broadcast, not fetched 10^5 times, and a
    boilerplate logo cited everywhere is the media-side analogue of a
    boilerplate text shingle.

    Builds on :func:`media_refs` (filter inside the array, explode only
    media spans), then one map-side-combined aggregate at asset
    cardinality.  NULL refs are dropped there; ``shared = n_docs >= 2``."""
    refs = media_refs(docs, spans_col=spans_col)
    return refs.groupBy("media_ref").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        (F.countDistinct("doc_id") >= 2).alias("shared"),
    )


def span_overlap_violations(
    docs: DataFrame,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Span-EXTENT overlap check — beyond offset monotonicity
    (:func:`span_structure_violations`): a text span occupies
    ``[offset, offset + length(text))`` in the reconstructed document,
    so the NEXT span's offset must be ≥ that end or the two spans claim
    the same character range (double-extraction, mis-spliced media).
    Media/unknown spans occupy a single position (length 0 — the
    placeholder is not part of source text offsets).

    Emits ``(doc_id, span_index, end_prev, offset_next)`` at the LEFT
    index of each overlapping pair, offset-sorted with the stable
    (offset, original index) order reconstruct_text uses — so the check
    matches what rendering would actually interleave.  NULL offsets are
    unplaceable and excluded here (offset-presence rules flag them).

    One fused projection per row: array_sort with the explicit
    comparator, zip_with of the sorted array with its tail, sparse
    explode of violations only.  No shuffle."""
    spans = _spans(spans_col)
    indexed = F.transform(
        spans,
        lambda s, i: F.struct(
            s["offset"].alias("off"),
            i.alias("ix"),
            F.when(s["kind"] == "text", F.length(s["text"]))
            .otherwise(F.lit(0))
            .alias("len"),
        ),
    )

    def _cmp(a: Column, b: Column) -> Column:
        ao, bo = a["off"], b["off"]
        return (
            F.when(ao.isNull() & bo.isNull(), a["ix"] - b["ix"])
            .when(ao.isNull(), F.lit(1))
            .when(bo.isNull(), F.lit(-1))
            .when(ao < bo, F.lit(-1))
            .when(ao > bo, F.lit(1))
            .otherwise(a["ix"] - b["ix"])
        ).cast("int")

    srt = F.filter(
        F.array_sort(indexed, _cmp), lambda s: s["off"].isNotNull()
    )
    n = F.size(srt)
    pairs = F.zip_with(
        F.slice(srt, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(srt, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.when(
            a["off"] + F.coalesce(a["len"], F.lit(0)) > b["off"],
            F.struct(
                a["ix"].cast("int").alias("span_index"),
                (a["off"] + F.coalesce(a["len"], F.lit(0)))
                .cast("int")
                .alias("end_prev"),
                b["off"].cast("int").alias("offset_next"),
            ),
        ),
    )
    bad = F.filter(pairs, lambda x: x.isNotNull())
    return docs.select(
        F.col("`%s`" % doc_id).alias("doc_id"), F.explode(bad).alias("__v")
    ).select(
        "doc_id",
        F.col("__v.span_index"),
        F.col("__v.end_prev"),
        F.col("__v.offset_next"),
    )
