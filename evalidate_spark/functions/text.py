"""Text analysis over document tables — token counting, quality scoring,
language-ID heuristic, fingerprinting, shingling.

All operators are pure Column expressions (whole-stage codegen, no shuffle,
no Python): each is a per-row projection that composes with the validation
engine's fused pass.  At 10^12 docs these add zero extra stages — they ride
the same scan.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import Column, DataFrame, Window, functions as F

# A small multilingual stopword/marker table for the heuristic language ID.
# Deliberately tiny and transparent: the point is a deterministic, cheap,
# JVM-side guess — swap in a real model via a pandas UDF when available.
LANG_MARKERS: Dict[str, Sequence[str]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "de", "et", "un", "est", "que"),
}

STOPWORDS_EN = LANG_MARKERS["en"] + ("it", "for", "on", "with", "as", "this")


def tokens(col: Column) -> Column:
    """Whitespace tokenisation (array<string>); empty string → empty array."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# Without a vocab: a BPE-ish token estimate — word-pieces of up to 4
# chars, counting ceil(len(word)/4) per word (pure Column expression, zero
# Python).  With ``vocab`` (e.g. from functions.bpe.learn_bpe_vocab): REAL
# vocab-merge tokenization, greedy longest-match over the learned pieces,
# Arrow-batched.
def token_count_bpe(col: Column, piece_len: int = 4, vocab=None) -> Column:
    if vocab is not None:
        from .bpe import token_count_bpe_vocab

        return token_count_bpe_vocab(col, vocab)
    return F.aggregate(
        tokens(col),
        F.lit(0),
        lambda acc, t: acc + F.ceil(F.length(t) / piece_len).cast("int"),
    )


def stopword_count(col: Column, stopwords: Sequence[str] = STOPWORDS_EN) -> Column:
    return F.size(F.filter(tokens(col), lambda t: F.lower(t).isin(*stopwords)))


def punct_count(col: Column) -> Column:
    """Number of punctuation characters."""
    return F.length(col) - F.length(F.regexp_replace(col, r"[\p{Punct}]", ""))


def quality_metrics(
    df: DataFrame, text_col: str = "text", stopwords: Sequence[str] = STOPWORDS_EN
) -> DataFrame:
    """Per-doc quality columns: ``n_chars_q, n_tokens, n_tokens_bpe,
    mean_token_len, stopword_ratio, punct_ratio, uniq_token_ratio``.

    One tokenize per row: the token-derived counters fold into a single
    let-bound struct column first, then the ratio columns derive from the
    struct's fields — referencing ``tokens(c)`` from each output column
    would inline (and re-run) the split per column (HOFs skip codegen's
    subexpression elimination).  ``mean_token_len`` is EXACT word chars /
    words (an ``aggregate`` over the token array) — the former
    ``(length - n + 1) / n`` shortcut counted every whitespace character
    beyond one-per-gap as token chars, inflating the metric on indented
    or multi-space text (review finding)."""
    c = F.col("`%s`" % text_col)
    st = F.transform(
        F.array(tokens(c)),
        lambda tk: F.struct(
            F.size(tk).alias("n"),
            F.aggregate(
                tk, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
            ).alias("wc"),
            F.aggregate(
                tk,
                F.lit(0),
                lambda a, x: a + F.ceil(F.length(x) / 4).cast("int"),
            ).alias("bpe"),
            F.size(F.filter(tk, lambda x: F.lower(x).isin(*stopwords))).alias("sw"),
            F.size(F.array_distinct(tk)).alias("uq"),
        ),
    )[0]
    with_st = df.select("*", st.alias("__qm"))
    q = F.col("__qm")
    n_tok = q["n"]
    return with_st.select(
        "*",
        F.length(c).alias("n_chars_q"),
        n_tok.alias("n_tokens"),
        q["bpe"].alias("n_tokens_bpe"),
        F.when(n_tok > 0, q["wc"] / n_tok).alias("mean_token_len"),
        F.when(n_tok > 0, q["sw"] / n_tok).alias("stopword_ratio"),
        F.when(F.length(c) > 0, punct_count(c) / F.length(c)).alias("punct_ratio"),
        F.when(n_tok > 0, q["uq"] / n_tok).alias("uniq_token_ratio"),
    ).drop("__qm")


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0..1 quality score — simple interpretable gates (length,
    token length sanity, repetition); tune weights per corpus."""
    m = quality_metrics(df, text_col)
    length_ok = F.col("n_chars_q").between(50, 50_000).cast("double")
    token_len_ok = F.col("mean_token_len").between(2.0, 12.0).cast("double")
    rep_ok = (F.col("uniq_token_ratio") >= 0.3).cast("double")
    score = (length_ok + token_len_ok + rep_ok) / 3.0
    return m.withColumn("quality_score", F.round(score, 4))


def lang_marker_counts(
    df: DataFrame, text_col: str = "text", markers: Optional[Dict[str, Sequence[str]]] = None
) -> DataFrame:
    """Per-language marker-word hit counts (``<lang>_hits`` integer columns)
    — the evidence table for heuristic language ID."""
    markers = markers or LANG_MARKERS
    c = F.col("`%s`" % text_col)
    toks = tokens(c)

    def hits(ws):
        return F.size(F.filter(toks, lambda t: F.lower(t).isin(*ws)))

    cols = [hits(tuple(ws)).alias(f"{lang}_hits") for lang, ws in markers.items()]
    return df.select("*", *cols)


def lang_id(
    df: DataFrame, text_col: str = "text", markers: Optional[Dict[str, Sequence[str]]] = None
) -> DataFrame:
    """Heuristic language guess: argmax of marker hits, ``und`` when no
    marker matched, NULL for NULL text (missing text is a presence
    problem, not an undetermined language — merging the two would let a
    per-language stratified sample treat missing-text docs as a real
    'und' corpus slice).  Ties break by the marker-table order
    (deterministic)."""
    markers = markers or LANG_MARKERS
    m = lang_marker_counts(df, text_col, markers)
    langs = list(markers.keys())
    pairs = F.array(
        *[F.struct(F.col(f"{l}_hits").alias("hits"), F.lit(i).alias("ix")) for i, l in enumerate(langs)]
    )
    # array_max on struct compares fieldwise: (hits, ix) — higher hits wins,
    # and among equal hits the LAST index wins, so negate ix to prefer order
    best = F.array_max(
        F.transform(pairs, lambda p: F.struct(p["hits"].alias("hits"), (-p["ix"]).alias("nix")))
    )
    guess = F.when(
        F.col("`%s`" % text_col).isNull(), F.lit(None).cast("string")
    ).when(
        best["hits"] > 0,
        F.element_at(F.array(*[F.lit(l) for l in langs]), -best["nix"] + 1),
    ).otherwise(F.lit("und"))
    return m.withColumn("lang_guess", guess)


def top_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-level top-k token n-grams → ``(ngram, n_docs, occurrences)``,
    where a doc with fewer than *n* tokens contributes its whole text as
    one (lower-order) gram — :func:`shingles`' short-doc fallback, pinned
    by the oracle gate; pre-filter ``size(tokens(text)) >= n`` if strict
    order-*n* grams are required —
    ordered by occurrences desc with an ngram-asc tiebreak (deterministic
    across engines).

    The one legitimate ``explode`` in the text stack: this is a corpus
    AGGREGATION, not a per-row annotation, so rows must fan out to group.
    Scale shape: pass 1 counts occurrences (shuffle of map-side-combined
    (ngram, partial count) rows, bounded by distinct n-grams per partition)
    and takes the top-k via TakeOrdered — no global sort; pass 2 computes
    exact document frequency for ONLY those k n-grams by broadcast-
    filtering the per-doc distinct explode BEFORE its aggregate, so the
    second shuffle carries ≤ k groups instead of the full vocabulary.
    (Valid because ordering uses occurrences only, and every top n-gram
    necessarily appears in pass 2's input.)"""
    c = F.col("`%s`" % text_col)
    sh = shingles(c, n)
    occ = (
        df.select(F.explode(sh).alias("ngram"))
        .filter(F.col("ngram") != "")
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    top = occ.orderBy(F.col("occurrences").desc(), F.col("ngram").asc()).limit(k)
    per_doc = (
        df.select(F.explode(F.array_distinct(sh)).alias("ngram"))
        .join(F.broadcast(top.select("ngram")), "ngram")
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        top.join(per_doc, "ngram")
        .orderBy(F.col("occurrences").desc(), F.col("ngram").asc())
        .select("ngram", "n_docs", "occurrences")
    )


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    stride: int = 0,
):
    """Split each doc into token-window chunks — the RAG/pretraining prep
    step: ``(doc_id, chunk_ix, n_tokens, chunk)``.  ``stride`` <
    ``chunk_tokens`` gives overlapping windows (0 → disjoint).  Windows
    start at ``i·stride``; generation stops with the first window that
    reaches the last token, so every token is covered and the tail chunk
    is shorter only when ``n - chunk_tokens`` isn't a stride multiple.
    Pure
    sequence/slice Column exprs + one explode — no UDF, no shuffle;
    NULL/empty docs yield no chunks."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    stride = stride or chunk_tokens
    if not (0 < stride <= chunk_tokens):
        raise ValueError("stride must be in (0, chunk_tokens]")
    ids = F.col("`%s`" % id_col)
    toks = tokens(F.col("`%s`" % text_col))
    base = df.filter(F.col("`%s`" % text_col).isNotNull()).select(
        ids.alias("doc_id"), toks.alias("__tk")
    ).filter(F.size("__tk") > 0)
    n = F.size(F.col("__tk"))
    last_ix = F.greatest(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("long"), F.lit(0)
    )
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), last_ix),
        lambda i: F.struct(
            i.cast("long").alias("chunk_ix"),
            F.slice(F.col("__tk"), (i * stride + 1).cast("int"), chunk_tokens).alias(
                "__c"
            ),
        ),
    )
    return base.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id",
        F.col("c.chunk_ix").alias("chunk_ix"),
        F.size("c.__c").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.col("c.__c")).alias("chunk"),
    )


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB) — no lookarounds, no backrefs — so redaction is replayable
# by the SQL oracle.  Order matters: URLs first (may contain '@'), then
# emails, then phones.
PII_PATTERNS = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+[0-9]{7,15}", "<PHONE>"),
)


def pii_counts(col: Column) -> Column:
    """Struct ``(n_url, n_email, n_phone)`` of PII matches in the text.

    Counts are per-pattern over the RAW text: a span matching two
    patterns (an email inside a URL) counts in both — they are a
    diagnostic surface-rate signal, not a partition.  The authoritative
    scrub is :func:`redact_pii`, whose sequential replacement applies
    each pattern to the previous pattern's output."""
    return F.struct(
        *[
            F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))).alias(
                "n_%s" % name
            )
            for name, pat, _ in PII_PATTERNS
        ]
    )


def redact_pii(col: Column) -> Column:
    """Replace every URL, then email, then phone match with its
    ``<TOKEN>`` — the standard scrub before training text leaves the
    pipeline.  Pure ``regexp_replace`` chain (JVM codegen, no Python)."""
    out = col
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


# HTML-strip chain — one syntax valid under Java regex AND RE2 (no
# backreferences: RE2 silently fails to match them, so script/style get
# separate patterns).  Order is the contract: script/style bodies first
# (their content is code, not prose), comments, block-level closers to
# newlines (preserves paragraph token boundaries), every remaining tag to
# a space, then the six core entities (&amp; LAST so '&amp;lt;' decodes
# to the literal '&lt;', not '<'), then whitespace collapse.
HTML_STRIP_PATTERNS = (
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?i)<(br|/p|/div|/li|/tr|/h[1-6])\b[^>]*>", "\n"),
    (r"<[^>]+>", " "),
)
HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_to_text(col: Column) -> Column:
    """Extract prose from HTML markup — the first transform of a web
    ingest: drop script/style/comment bodies, turn block boundaries into
    newlines (so tokenization sees paragraph breaks), strip remaining
    tags, decode the core entities, collapse whitespace.  The final
    collapse is NEWLINE-PRESERVING (horizontal runs → one space, newline
    runs → one newline) so the block boundaries genuinely survive to the
    output — line-oriented consumers (Gopher/C4 line rules, chunking)
    see paragraph breaks, not one flattened line.  Pure
    ``regexp_replace``/``replace`` chain (JVM codegen, zero shuffle);
    plain text without markup passes through modulo whitespace
    collapsing, and NULL stays NULL.  A heuristic extractor, not an HTML5
    parser — boilerplate REMOVAL (nav/footer) is
    :func:`remove_frequent_segments`'s job downstream."""
    out = col
    for pat, rep in HTML_STRIP_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in HTML_ENTITIES:
        # literal replace, not regexp — entity text must never be
        # interpreted as a pattern
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(out, r"[^\S\n]+", " ")   # horizontal runs → space
    out = F.regexp_replace(out, " ?\n+ ?", "\n")    # newline runs → newline
    return F.regexp_replace(out, r"^\s+|\s+$", "")  # trim incl. newlines


# Encoding-anomaly patterns — one syntax that parses identically under
# Java regex (Spark) and RE2 (DuckDB), pinned by the oracle gate:
#   repl  — U+FFFD replacement chars, the scar of a lossy decode;
#   ctrl  — C0 controls (minus \t\n\r), DEL, and C1 (raw \x80-\x9F in
#           decoded text almost always means a cp1252/latin-1 mixup);
#   moji  — classic UTF-8-bytes-decoded-as-latin-1 digraphs: 'â' U+20AC
#           (the 'â€œ/â€™' family) and 'Ã' + any latin-1-range char
#           ('Ã©' for 'é', 'Ã¼' for 'ü', ...).
ENCODING_PATTERNS = (
    ("repl_chars", "�"),
    ("ctrl_chars", r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]"),
    ("mojibake_seqs", r"(\x{00E2}\x{20AC}|\x{00C3}[\x{0080}-\x{00FF}])"),
)


def encoding_anomalies(col: Column) -> Column:
    """Struct of encoding-damage counters for a text column — the decode
    health check of a web-scale ingest (bad transcodes poison tokenizers
    and dedup alike).  ``(repl_chars, ctrl_chars, mojibake_seqs, clean)``
    — counts of U+FFFD, stray control bytes, and latin-1-mojibake
    digraphs, plus ``clean = all three are zero``.  NULL text counts as
    clean-by-absence (all zeros, clean=true) so the struct is always
    populated.  Pure ``regexp_count`` projection: JVM codegen, no
    shuffle, rides the validation fast path's scan."""
    cnts = [
        F.coalesce(F.regexp_count(col, F.lit(pat)), F.lit(0)).alias(name)
        for name, pat in ENCODING_PATTERNS
    ]
    # clean via ONE short-circuiting rlike on the alternation — not by
    # summing the three counts, which would inline each regexp_count
    # twice into the projection
    dirty = F.coalesce(
        col.rlike("|".join(p for _, p in ENCODING_PATTERNS)), F.lit(False)
    )
    return F.struct(*cnts, (~dirty).alias("clean"))


def repetition_ratio_bp(col: Column, k: int = 2) -> Column:
    """Repeated-k-gram ratio in integer basis points:
    ``floor((1 - distinct_kgrams/kgrams) * 10000)`` — the boilerplate /
    degenerate-repetition quality signal (0 = all shingles unique, 10000 →
    one shingle repeated throughout).  Short docs (< k tokens) yield one
    whole-text shingle → 0.

    The shingle array is LET-BOUND via a 1-element ``transform``:
    referencing the HOF expression three times (total, distinct, guard)
    would inline three interpreted copies of the whole shingling tree —
    measured 20× slower at corpus scale."""
    sh = shingles(col, k)
    # NULL text → NULL (like every sibling text op), not a perfect score
    return F.when(
        col.isNotNull(),
        F.element_at(
            F.transform(
                F.array(sh),
                lambda s: F.when(
                    F.size(s) > 0,
                    F.floor(
                        (F.lit(1.0) - F.size(F.array_distinct(s)) / F.size(s)) * 10_000
                    ).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            ),
            1,
        ),
    )


REPORT_METRICS = (
    "docs_total",
    "docs_null_text",
    "docs_empty_text",
    "docs_distinct_fingerprint",
    "tokens_total",
    "chars_total",
    "docs_with_pii",
    "rep_bp_total",
)


def ngram_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document corpus-duplicated n-gram statistics — the scalable
    Spark-native proxy for suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a k-token
    shingle is *duplicated* when it occurs in ≥ ``min_docs`` documents
    (per-doc multiplicity ignored via ``array_distinct``).

    Returns ``(doc_id, n_ngrams, n_dup_ngrams, dup_bp)`` where ``dup_bp``
    is the duplicated fraction in basis points.  Contracts: NULL text →
    0 n-grams; NULL doc_id rows report ``n_dup_ngrams`` = 0 (NULL keys
    never join back) and collapse into one output group, exactly like a
    SQL GROUP BY.

    Plan: distinct-shingle explode → map-side-combined count per shingle
    (one shuffle), inner join of the exploded set against the ≥min_docs
    shingle list (second shuffle; hot boilerplate shingles are bounded
    because the per-doc side is already distinct), per-doc roll-up, and a
    doc-keyed left join for the totals.  At PB scale the shingle count
    table is the only global state and it shrinks with ``min_docs``;
    pre-bucketing both sides by shingle hash removes the join shuffle."""
    did, txt = F.col("`%s`" % id_col), F.col("`%s`" % text_col)
    # zero-token text (NULL / empty / whitespace-only) → no shingles; the
    # whole-text fallback shingle is only for 1..k-1-token docs
    sh = F.when(
        txt.isNull() | (F.size(tokens(txt)) == 0), F.array().cast("array<string>")
    ).otherwise(F.array_distinct(shingles(txt, k)))
    base = df.select(did.alias("doc_id"), sh.alias("__sh"))
    totals = base.groupBy("doc_id").agg(
        F.sum(F.size("__sh")).cast("long").alias("n_ngrams")
    )
    exploded = base.select("doc_id", F.explode("__sh").alias("__ng"))
    dup_ngrams = (
        exploded.groupBy("__ng")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__ng")
    )
    per_doc = (
        exploded.join(dup_ngrams, "__ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_ngrams"))
    )
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce("n_dup_ngrams", F.lit(0)).cast("long").alias("n_dup_ngrams"),
        )
        .withColumn(
            "dup_bp",
            F.when(
                F.col("n_ngrams") > 0,
                F.floor(F.col("n_dup_ngrams") * 10_000 / F.col("n_ngrams")),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )


def corpus_report(
    df: DataFrame, text_col: str = "text", exact_distinct: bool = False
) -> DataFrame:
    """One-stop corpus health summary as a tall ``(metric, value)`` table
    of INTEGER metrics (floats are hash-fragile across engines): totals,
    NULL/empty text counts, distinct-fingerprint count (dedup headroom),
    token/char volume, PII-bearing docs, summed repetition basis points.

    ONE projection computes every per-doc signal, ONE hash aggregate
    folds them (map-side combined, 1-row result, then a stack to tall
    shape — no data shuffle beyond the aggregate).  Distinct fingerprints
    default to ``approx_count_distinct`` (HLL, mergeable at any scale);
    ``exact_distinct=True`` is the audit/oracle mode, same stance as
    :func:`~evalidate_spark.operators.table_checks.profile`."""
    c = F.col("`%s`" % text_col)
    pii = pii_counts(c)
    proj = df.select(
        c.alias("__t"),
        fingerprint(c).alias("__fp"),
        F.when(c.isNotNull(), F.size(tokens(c))).alias("__ntok"),
        F.length(c).alias("__nch"),
        ((pii["n_url"] + pii["n_email"] + pii["n_phone"]) > 0).alias("__pii"),
        repetition_ratio_bp(c).alias("__rep"),
    )
    dcount = (F.count_distinct if exact_distinct else F.approx_count_distinct)(
        F.col("__fp")
    )
    row = proj.agg(
        F.count(F.lit(1)).alias("docs_total"),
        F.count(F.when(F.col("__t").isNull(), 1)).alias("docs_null_text"),
        F.count(F.when(F.col("__t") == "", 1)).alias("docs_empty_text"),
        dcount.alias("docs_distinct_fingerprint"),
        F.coalesce(F.sum("__ntok"), F.lit(0)).alias("tokens_total"),
        F.coalesce(F.sum("__nch"), F.lit(0)).alias("chars_total"),
        F.count(F.when(F.col("__pii"), 1)).alias("docs_with_pii"),
        F.coalesce(F.sum("__rep"), F.lit(0)).alias("rep_bp_total"),
    )
    stack = "stack(%d, %s) as (metric, value)" % (
        len(REPORT_METRICS),
        ", ".join("'%s', cast(%s as bigint)" % (m, m) for m in REPORT_METRICS),
    )
    return row.select(F.expr(stack))


def frequent_segments(
    df: DataFrame,
    delim: str = "\n",
    min_doc_frac: float = 0.5,
    text_col: str = "text",
    max_frequent: int = 10_000,
) -> list:
    """The corpus boilerplate dictionary: distinct segments (text split on
    *delim*) occurring in ≥ ``ceil(min_doc_frac · n_docs)`` documents,
    as a sorted Python list.

    One map-side-combined groupBy over per-doc-distinct segments; the
    result is small BY DEFINITION (a segment must appear in a large
    fraction of all documents), so collecting it is bounded — and if the
    threshold is set so low the dictionary exceeds *max_frequent*, this
    RAISES rather than silently truncating (a capped dictionary would
    silently rewrite the corpus wrong)."""
    import math
    import re

    text = F.col("`%s`" % text_col)
    docs = df.filter(text.isNotNull())
    n_docs = docs.count()
    if n_docs == 0:
        return []
    thresh = math.ceil(min_doc_frac * n_docs)
    seg = F.explode(F.array_distinct(F.split(text, re.escape(delim)))).alias("seg")
    freq = (
        docs.select(seg)
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= thresh)
    )
    rows = freq.select("seg").limit(max_frequent + 1).collect()
    if len(rows) > max_frequent:
        raise ValueError(
            "boilerplate dictionary exceeds max_frequent=%d — raise min_doc_frac "
            "or max_frequent" % max_frequent
        )
    return sorted(r["seg"] for r in rows)


def remove_frequent_segments(
    df: DataFrame,
    delim: str = "\n",
    min_doc_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_frequent: int = 10_000,
) -> DataFrame:
    """Cross-document boilerplate removal (the CCNet/Gopher line-dedup
    pattern): drop every segment that appears in ≥ *min_doc_frac* of the
    corpus — navigation chrome, cookie banners, license headers with
    ``delim='\\n'``; corpus-driven stopword pruning with ``delim=' '`` —
    returning ``(doc_id, clean_text, n_removed)``.

    Split is on the LITERAL delimiter (empty segments between consecutive
    delimiters are preserved), so when nothing is removed ``clean_text``
    reconstructs the original byte-for-byte.  NULL text → NULL clean_text
    and NULL n_removed (missing ≠ cleaned-to-empty).

    Scale shape: the dictionary pass is one small aggregate (see
    :func:`frequent_segments` for the bound); the corpus pass compiles the
    dictionary into a literal array and is ONE shuffle-free projection —
    pure Column HOFs, membership test per segment, no join, no explode of
    the corpus."""
    import re

    text = F.col("`%s`" % text_col)
    segs = frequent_segments(df, delim, min_doc_frac, text_col, max_frequent)
    parts = F.split(text, re.escape(delim))
    if segs:
        lit = F.lit(segs)  # ONE array-literal node, not 10k Literal children
        kept = F.filter(parts, lambda t: ~F.array_contains(lit, t))
    else:
        kept = parts  # empty dictionary: exact identity reconstruction
    return df.select(
        F.col("`%s`" % id_col).alias("doc_id"),
        F.when(text.isNotNull(), F.array_join(kept, delim)).alias("clean_text"),
        # explicit NULL guard: with ANSI off, size(NULL) is -1, which would
        # silently turn the documented NULL n_removed into 0
        F.when(text.isNotNull(), (F.size(parts) - F.size(kept)).cast("int")).alias(
            "n_removed"
        ),
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalised, lowercased text (content-defined identity for
    exact dedup and lineage; md5 chosen for cross-engine oracle parity).
    NULL text → NULL fingerprint (never md5('') — that would merge
    missing-text docs with genuinely empty ones, and SQL engines compute
    md5(NULL) = NULL)."""
    return F.when(
        col.isNotNull(), F.md5(F.concat_ws(" ", F.transform(tokens(col), F.lower)))
    )


def normalize_text(col: Column, form: str = "NFC") -> Column:
    """Canonical corpus text normalisation, the step before any
    fingerprint/dedup/tokenise pass: Unicode-normalise (*form*, NFC
    default — composed forms, so visually-identical accents fingerprint
    identically), strip non-whitespace C0/DEL control characters
    (``[\\x00-\\x08\\x0E-\\x1F\\x7F]``), collapse whitespace runs
    (``[ \\t\\r\\n\\x0b\\x0c]+`` — deliberately the explicit ASCII class,
    NOT ``\\s``: NBSP & friends are content, and regex engines disagree
    on Unicode ``\\s``) to single spaces, and trim.  NULL → NULL.

    Unicode normalisation has no Spark built-in, so this is the sanctioned
    slow path: an Arrow-batched pandas UDF (stdlib ``unicodedata``, no
    per-row Python boundary).  DuckDB replays it as ``nfc_normalize`` +
    the same two explicit regex classes — both engines implement the
    same published Unicode algorithm."""
    import re
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError("form must be NFC | NFD | NFKC | NFKD")
    ctrl = re.compile(r"[\x00-\x08\x0E-\x1F\x7F]")
    ws = re.compile(r"[ \t\r\n\x0b\x0c]+")

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            v = unicodedata.normalize(form, v)
            return ws.sub(" ", ctrl.sub("", v)).strip(" ")

        return s.map(one)

    return _norm(col)


def rolling_hashes(col: Column, window: int = 8) -> Column:
    """Winnowing-style rolling fingerprints: xxhash64 of each *window*-token
    shingle (array<bigint>) — input to MinHash and near-dup detection."""
    return F.transform(
        shingles(col, window), lambda s: F.xxhash64(s)
    )


def shingles(col: Column, k: int = 3, udf_safe: bool = False) -> Column:
    """k-token shingles (array<string>); docs shorter than k tokens yield a
    single shingle of the whole text.

    Two evaluation shapes, bit-identical outputs (pinned by the Arrow ≡
    expression tests):

    * default — token array LET-BOUND via a 1-element ``transform`` whose
      inner lambda captures it.  A per-index lambda that references
      ``tokens()`` directly would re-run the split+filter once PER SHINGLE
      (HOFs are interpreted, not codegen'd): O(tokens²) per doc, measured
      ~5× slower on every corpus query built on this.
    * ``udf_safe=True`` — k shifted slices folded with ``zip_with``
      (capture-free single-level lambdas; ``tokens()`` evaluated k+2
      times per ROW, still linear).  Required when the result feeds a
      pandas UDF: ``ExtractPythonUDFs`` cannot extract a UDF whose input
      tree contains a lambda capturing an outer lambda's variable and
      Spark dies with INTERNAL_ERROR "Cannot evaluate expression".  The
      SimHash Arrow vote is the only such consumer left (MinHash shingles
      through its own compiled explode, ``dedup._minhash_slots``)."""
    toks = tokens(col)
    if udf_safe:
        m = F.greatest(F.size(toks) - (k - 1), F.lit(1))
        zipped = F.slice(toks, 1, m)
        for j in range(2, k + 1):
            part = F.slice(toks, j, m)
            zipped = F.zip_with(
                zipped, part,
                lambda a, b: F.when(b.isNull(), a).otherwise(F.concat_ws(" ", a, b)),
            )
        # short/NULL/empty docs: one whole-text shingle ("" when no tokens)
        return F.when(
            F.size(toks) >= k, zipped
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.element_at(
        F.transform(
            F.array(toks),
            lambda t: F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(t) - (k - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            ),
        ),
        1,
    )


def lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
) -> DataFrame:
    """Per-doc bigram language-model fluency score — the perplexity-style
    quality filter of a training-data pipeline: gibberish, boilerplate,
    and mid-sentence truncations surface as high negative log-likelihood
    under a model trained on the corpus itself.  Returns
    ``(id, n_bigrams, nll_milli)`` where ``nll_milli`` is the mean
    per-bigram negative log-likelihood in MILLI-NATS, floored to an
    integer.  Each per-bigram term is floored to integer milli-nats
    BEFORE summing, so the aggregate is an integer sum — independent of
    float summation order and exactly replayable by any SQL engine.

    Model: add-alpha smoothed conditionals over the corpus's own bigrams,
    ``P(w2|w1) = (c(w1 w2) + alpha) / (c_prefix(w1) + alpha * V)`` with
    ``c_prefix(w1)`` the count of w1 as a bigram PREFIX (so the
    conditionals sum to ≤ 1 over the seen vocabulary) and ``V`` the
    distinct-successor vocabulary size.

    Scale shape: the corpus-wide tokenize+explode runs exactly TWICE —
    once to build the bigram-count table, once as the scoring probe; the
    prefix counts and the 1-row vocabulary size are derived from the
    (small) bigram-count table, never by re-exploding the corpus.  All
    counts are map-side combined; the two scoring joins are on token
    keys, where stopword prefixes are hot — AQE's skew-join split is the
    intended mitigation, as in the referential check.  Docs with NULL
    id/text or fewer than 2 tokens have no bigrams and are absent from
    the output by contract."""
    ids = F.col("`%s`" % id_col)
    tc = F.col("`%s`" % text_col)
    tk = tokens(tc)
    # token array LET-BOUND (1-element transform) — element_at(tokens(...))
    # inside the lambda re-runs the split+filter per bigram, O(tokens²)
    pairs_arr = F.element_at(
        F.transform(
            F.array(tk),
            lambda t: F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("w1"),
                    F.element_at(t, (i + 1).cast("int")).alias("w2"),
                ),
            ),
        ),
        1,
    )
    pairs = (
        df.filter(ids.isNotNull() & tc.isNotNull() & (F.size(tk) >= 2))
        .select(ids.alias("__id"), F.explode(pairs_arr).alias("p"))
        .select("__id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    cb = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__cb"))
    # prefix counts and vocab size roll up from the distinct-bigram table
    # (sum of successor counts / distinct successors) — no second corpus
    # explode for either
    cp = cb.groupBy("w1").agg(F.sum("__cb").alias("__cp"))
    vocab = cb.agg(F.countDistinct("w2").alias("__v"))
    lp = F.log(
        (F.col("__cb") + F.lit(float(alpha)))
        / (F.col("__cp") + F.lit(float(alpha)) * F.col("__v"))
    )
    scored = (
        pairs.join(cb, ["w1", "w2"])  # inner: self-scored pairs always exist
        .join(cp, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select("__id", F.floor(-lp * 1000).cast("long").alias("__m"))
    )
    return scored.groupBy(F.col("__id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.floor(F.sum("__m") / F.count(F.lit(1))).cast("long").alias("nll_milli"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-*k* TF-IDF terms:
    ``(doc_id, term, tf, df_docs, tfidf)``.

    The classic keyword-extraction / feature-selection pass over a corpus:
    ``tfidf = tf * ln(n_docs / df_docs)`` (plain IDF — a term in every doc
    scores 0).  NULL texts contribute no rows and don't count toward
    ``n_docs`` (the contract shared with every sibling text op).

    Ranking determinism across engines: two different (tf, df) pairs can
    be *mathematically* equal (``2·ln 2 = ln 4``) yet compare differently
    in floating point depending on evaluation order, so the top-k window
    orders by the score ROUNDED to 6 dp with a term-asc tiebreak — the
    selected row set is then engine-independent, which is what the DuckDB
    oracle hash-checks.

    Scale shape: one explode → two hash aggregates sharing the (id, term)
    shuffle → a term-keyed join (vocab-sized right side, left by Catalyst/
    AQE to pick broadcast vs shuffle at runtime) → one single-row broadcast
    for n_docs → per-doc window.  No driver-side data, no collect."""
    from pyspark.sql import Window

    ids = F.col("`%s`" % id_col)
    tc = F.col("`%s`" % text_col)
    # NULL ids excluded like every sibling op: count(DISTINCT id) skips
    # NULL, so a kept NULL-id row would make df_docs exceed n_docs —
    # negative IDF and a phantom NULL output group (review finding)
    live = df.filter(tc.isNotNull() & ids.isNotNull())
    toks = live.select(ids.alias("__id"), F.explode(tokens(tc)).alias("term"))
    tf = toks.groupBy("__id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n = live.agg(F.countDistinct(ids).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df_docs")), 6
            ),
        )
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__id").alias(id_col), "term", "tf", "df_docs", "tfidf"
        )
    )


def bm25_topk(
    df: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-*k* documents by BM25 relevance to a fixed query-term set:
    ``(doc_id, matched, bm25)``.

    Lucene-style BM25 (Robertson/Sparck-Jones IDF with the +1 inside the
    log so it never goes negative)::

        idf_t  = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
        s(d)   = sum_t idf_t * tf_td*(k1+1) / (tf_td + k1*(1-b+b*|d|/avgdl))

    Because the query-term set is small and fixed, the whole scorer is
    explode-free: one projection computes document length and per-term
    term frequency from a single let-bound lowered token array (named
    column, so the expensive split/transform tree appears once in the
    plan), one corpus aggregate yields (N, avgdl, df_t...) — a single
    bounded row collected to the driver — and a second projection inlines
    the resulting idf/avgdl as double literals.  Top-k is an
    ``orderBy().limit(k)`` → TakeOrdered, never a full sort.

    Scale shape at 100 TB: two pruned (id, text) scans, one single-row
    exchange for the stats, zero data shuffles.  Cross-engine hash
    determinism: the score is rounded to 6 dp and ties break on doc id,
    same convention as :func:`tfidf_top_terms`.

    Only documents matching >=1 query term are ranked; NULL ids/texts are
    excluded per the shared sibling-op contract."""
    import math

    if not terms:
        raise ValueError("bm25_topk: terms must be non-empty")
    lterms = [t.lower() for t in terms]
    if len(set(lterms)) != len(lterms):
        raise ValueError("bm25_topk: duplicate query terms")
    ids = F.col("`%s`" % id_col)
    tc = F.col("`%s`" % text_col)

    def _eq(term):
        def pred(t):
            return t == term

        return pred

    live = df.filter(ids.isNotNull() & tc.isNotNull())
    base = live.select(
        ids.alias("__id"),
        F.transform(tokens(tc), lambda t: F.lower(t)).alias("__tk"),
    )
    nt = len(lterms)
    proj = base.select(
        F.col("__id"),
        F.size("__tk").alias("__dl"),
        *[
            F.size(F.filter(F.col("__tk"), _eq(term))).alias("tf_%d" % i)
            for i, term in enumerate(lterms)
        ],
    )
    stats = proj.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__dl").alias("avgdl"),
        *[
            F.sum((F.col("tf_%d" % i) > 0).cast("long")).alias("df_%d" % i)
            for i in range(nt)
        ],
    ).first()
    n_docs = stats["n"]
    if not n_docs:
        return (
            proj.select(F.col("__id").alias(id_col))
            .withColumn("matched", F.lit(0).cast("long"))
            .withColumn("bm25", F.lit(0.0))
            .limit(0)
        )
    avgdl = float(stats["avgdl"])
    score = None
    for i in range(nt):
        dfreq = stats["df_%d" % i] or 0
        idf = math.log((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        tf = F.col("tf_%d" % i).cast("double")
        # association order mirrored literally by the DuckDB oracle:
        # (idf * (tf * (k1+1))) / (tf + k1 * ((1-b) + b * dl / avgdl))
        contrib = (F.lit(idf) * (tf * F.lit(k1 + 1.0))) / (
            tf
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("__dl").cast("double") / F.lit(avgdl)
            )
        )
        score = contrib if score is None else score + contrib
    matched = None
    for i in range(nt):
        m = (F.col("tf_%d" % i) > 0).cast("long")
        matched = m if matched is None else matched + m
    return (
        proj.select(
            F.col("__id").alias(id_col),
            matched.alias("matched"),
            F.round(score, 6).alias("bm25"),
        )
        .filter(F.col("matched") > 0)
        .orderBy(F.col("bm25").desc(), F.col("`%s`" % id_col).asc())
        .limit(k)
    )


# Gopher repetition/quality rules (Rae et al. 2021, Appendix A) use this
# fixed 8-word presence set: a document failing to contain >= 2 of them
# is unlikely to be running English prose.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: Sequence[str] = GOPHER_STOPWORDS,
) -> DataFrame:
    """Gopher-style document quality filter (Rae et al. 2021, Appendix A)
    as ONE fused projection of integer counts + rule verdicts.

    Per doc: ``n_words, n_word_chars, n_alpha_words, n_stop_hits,
    n_lines, n_bullet_lines, n_ellipsis_lines, n_symbols, fails
    (comma-joined sorted rule names), passes``.  Rules:

    * ``word_count``     — *min_words* <= words <= *max_words*
    * ``mean_word_len``  — mean word length in [3, 10]
    * ``symbol_ratio``   — (# + ellipsis) per word <= 0.1
    * ``bullet_lines``   — <= 90% of lines start with a bullet
    * ``ellipsis_lines`` — <= 30% of lines end with an ellipsis
    * ``alpha_words``    — >= 80% of words contain a letter
    * ``stopwords``      — >= 2 distinct Gopher stopwords present
    * ``no_text``        — NULL text fails everything with this marker

    Every threshold is evaluated by integer cross-multiplication
    (``10*symbols <= words``), never a float ratio, so the verdicts are
    bit-stable and replayable in any SQL engine.  Token and line arrays
    are let-bound once (``F.transform(F.array(...))``) — no per-rule
    re-split, no per-element re-evaluation (the O(tokens^2) HOF trap)."""
    c = F.col("`%s`" % text_col)

    tc = F.transform(
        F.array(tokens(c)),
        lambda tk: F.struct(
            F.size(tk).alias("w"),
            F.aggregate(
                tk, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
            ).alias("wc"),
            F.size(F.filter(tk, lambda x: x.rlike("[A-Za-z]"))).alias("aw"),
            F.size(
                F.array_distinct(
                    F.transform(
                        F.filter(tk, lambda x: F.lower(x).isin(*stopwords)),
                        lambda x: F.lower(x),
                    )
                )
            ).alias("sh"),
        ),
    )[0]
    lc = F.transform(
        F.array(
            F.filter(
                F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
                lambda x: x != "",
            )
        ),
        lambda ls: F.struct(
            F.size(ls).alias("l"),
            F.size(F.filter(ls, lambda x: x.rlike("^[-*•]"))).alias("bl"),
            F.size(F.filter(ls, lambda x: x.rlike("(\\.\\.\\.|…)$"))).alias("el"),
        ),
    )[0]
    sym = F.regexp_count(c, F.lit("#|\\.\\.\\.|…"))

    base = df.select(
        F.col("`%s`" % id_col),
        # carried through the projection so the no_text branch below can
        # key on the TEXT itself: under ANSI-off Spark size(NULL) is -1,
        # and -1 counts would evaluate the rules instead of no_text
        c.isNull().alias("__no_text"),
        tc["w"].cast("long").alias("n_words"),
        tc["wc"].cast("long").alias("n_word_chars"),
        tc["aw"].cast("long").alias("n_alpha_words"),
        tc["sh"].cast("long").alias("n_stop_hits"),
        lc["l"].cast("long").alias("n_lines"),
        lc["bl"].cast("long").alias("n_bullet_lines"),
        lc["el"].cast("long").alias("n_ellipsis_lines"),
        sym.cast("long").alias("n_symbols"),
    )
    w, wc = F.col("n_words"), F.col("n_word_chars")
    rules = [
        ("word_count", (w < min_words) | (w > max_words)),
        ("mean_word_len", (3 * w > wc) | (wc > 10 * w)),
        ("symbol_ratio", 10 * F.col("n_symbols") > w),
        ("bullet_lines", 10 * F.col("n_bullet_lines") > 9 * F.col("n_lines")),
        ("ellipsis_lines", 10 * F.col("n_ellipsis_lines") > 3 * F.col("n_lines")),
        ("alpha_words", 5 * F.col("n_alpha_words") < 4 * w),
        ("stopwords", F.col("n_stop_hits") < 2),
    ]
    fails = F.sort_array(
        F.filter(
            F.array(*[F.when(cond, F.lit(name)) for name, cond in rules]),
            lambda x: x.isNotNull(),
        )
    )
    fails = F.when(F.col("__no_text"), F.array(F.lit("no_text"))).otherwise(fails)
    return base.select(
        "*",
        F.concat_ws(",", fails).alias("fails"),
        (F.size(fails) == 0).alias("passes"),
    ).drop("__no_text")


def funnel_aggs(rules: Sequence[str], fails_col: str = "fails") -> list:
    """The funnel family's aggregates over the per-doc comma-joined
    *fails_col*: ``__in`` (docs entering) and ``__s<k>`` (docs whose fails
    set is disjoint from ``rules[:k+1]``).  Read by :func:`filter_funnel`
    and ``streaming.funnel_stream``; :func:`funnel_rows` finishes them."""
    fl = F.split(F.coalesce(F.col("`%s`" % fails_col), F.lit("")), ",")
    aggs = [F.count(F.lit(1)).alias("__in")]
    for i in range(len(rules)):
        prefix = F.array(*[F.lit(r) for r in rules[: i + 1]])
        aggs.append(
            F.sum((~F.arrays_overlap(fl, prefix)).cast("long")).alias("__s%d" % i)
        )
    return aggs


def funnel_rows(
    agg_df: DataFrame, rules: Sequence[str], keep: Sequence[str] = ()
) -> DataFrame:
    """The funnel family's finishing projection: the stage-0 ``input``
    row, then one row per rule — ``stage_ix, rule, docs_surviving,
    docs_dropped`` after the *keep* columns."""
    stages = [
        F.struct(
            F.lit(0).alias("stage_ix"),
            F.lit("input").alias("rule"),
            F.col("__in").alias("docs_surviving"),
            F.lit(0).cast("long").alias("docs_dropped"),
        )
    ]
    for i, r in enumerate(rules):
        prev = F.col("__in") if i == 0 else F.col("__s%d" % (i - 1))
        stages.append(
            F.struct(
                F.lit(i + 1).alias("stage_ix"),
                F.lit(r).alias("rule"),
                F.col("__s%d" % i).alias("docs_surviving"),
                (prev - F.col("__s%d" % i)).cast("long").alias("docs_dropped"),
            )
        )
    from ..operators.table_checks import _unpivot

    return _unpivot(agg_df, stages, keep)


def filter_funnel(
    flags: DataFrame,
    rules: Sequence[str],
    fails_col: str = "fails",
) -> DataFrame:
    """Cumulative filter funnel over a per-doc rule-verdict table (e.g.
    :func:`gopher_rules` output, whose ``fails`` is a comma-joined sorted
    rule-name list): apply *rules* in the given order and report, per
    stage, how many documents survive rules ``1..k`` and how many the
    stage dropped — the funnel chart a pipeline owner reads to see which
    filter does the cutting.  A stage-0 ``input`` row carries the corpus
    size; with no *rules* it is the only row.

    Survivors at stage k = docs whose fails set is disjoint from
    ``rules[:k]`` — ONE aggregate over the flags table (k disjointness
    sums fused into a single pass, :func:`funnel_aggs`), then a
    constant-size explode (:func:`funnel_rows`); nothing iterative,
    nothing collected."""
    rules = list(rules)
    return funnel_rows(flags.agg(*funnel_aggs(rules, fails_col)), rules)


def c4_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020, §2.2) as one fused
    projection — the line-level companion to :func:`gopher_rules`:

    * page DROPPED outright when it contains ``lorem ipsum`` (any case)
      or a ``{`` (code, not prose);
    * otherwise keep only lines that end in terminal punctuation
      (``. ! ? " '``), have >= *min_line_words* words, and do not
      mention ``javascript`` (any case).

    Per doc: ``n_lines, n_kept_lines, cleaned (kept lines re-joined
    with newlines; NULL when the page drops), keep_doc``.  NULL text →
    NULL counts, ``keep_doc`` false.  Lines are split/trimmed once
    (let-bound array); every per-line predicate touches only its own
    element, so the projection is linear in the text."""
    c = F.col("`%s`" % text_col)
    lc = F.transform(
        F.array(
            F.filter(
                F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
                lambda x: x != "",
            )
        ),
        lambda ls: F.struct(
            F.size(ls).alias("l"),
            F.filter(
                ls,
                lambda x: x.rlike("[.!?\"']$")
                & (
                    F.size(F.filter(F.split(x, r"\s+"), lambda w: w != ""))
                    >= min_line_words
                )
                & ~F.lower(x).contains("javascript"),
            ).alias("kept"),
        ),
    )[0]
    page_drop = F.lower(c).contains("lorem ipsum") | c.contains("{")
    return df.select(
        F.col("`%s`" % id_col),
        # explicit NULL-text guard: under ANSI-off Spark the size() chain
        # yields -1 instead of NULL for a NULL page
        F.when(c.isNotNull(), lc["l"]).cast("long").alias("n_lines"),
        F.when(~page_drop, F.size(lc["kept"]).cast("long")).alias("n_kept_lines"),
        F.when(~page_drop, F.concat_ws("\n", lc["kept"])).alias("cleaned"),
        F.coalesce(
            ~page_drop & (F.size(lc["kept"]) > 0), F.lit(False)
        ).alias("keep_doc"),
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: Sequence[int] = (2, 3),
    dup_n: int = 5,
) -> DataFrame:
    """Within-document repetition signals (Rae et al. 2021 "Gopher",
    Appendix A.1.2 — the repetitious-document filters), in integer basis
    points of the token-normalised text length:

    * ``top{n}_bp`` for each *n* in *top_ns* — chars covered by the
      single n-gram with the LARGEST total char coverage
      (``occurrences × gram_chars``; a strictly stronger variant of
      Gopher's most-frequent-n-gram fraction — max-coverage needs no
      count tie-break, so the value is engine-independent).
    * ``dup{dup_n}_bp`` — chars covered by ALL dup_n-grams occurring
      more than once (every occurrence counted; overlaps uncapped, so
      the value is clamped to 10 000).

    Contracts: NULL text → NULL metrics; zero-token text → all 0;
    a doc shorter than *n* tokens has no n-grams → 0.  The denominator
    is ``len(join(tokens, ' '))`` — whitespace-normalised, so multi-space
    runs don't dilute the signal.

    Plan: ONE fused per-row projection, zero shuffles at any scale.
    Tokens are LET-BOUND once via the 1-element ``transform`` (the
    :func:`shingles` trick); per n the gram array is ``array_sort``-ed
    and folded with a single ``aggregate`` over adjacent runs — O(G log
    G) per doc, no explode, nothing leaves the row.  (The corpus-level
    siblings :func:`ngram_dup_stats` / :func:`top_ngrams` answer the
    cross-doc question; this is the per-doc degenerate-repetition gate.)
    """
    for n in tuple(top_ns) + (dup_n,):
        if n < 2:
            raise ValueError("n-gram orders must be >= 2")
    did, txt = F.col("`%s`" % id_col), F.col("`%s`" % text_col)

    def grams(tk: Column, n: int) -> Column:
        return F.when(
            F.size(tk) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def run_fold(g: Column) -> Column:
        """(best_cover, dup_chars) over the sorted gram array: one linear
        pass; a run of length r covering gram p contributes r·len(p)."""
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit(0).cast("long").alias("dup"),
        )

        def close(acc):  # contribution of the run that just ended
            prod = acc["run"] * F.length(acc["prev"]).cast("long")
            return (
                F.greatest(acc["best"], prod),
                acc["dup"]
                + F.when(acc["run"] > 1, prod).otherwise(F.lit(0).cast("long")),
            )

        def merge(acc, x):
            best, dup = close(acc)
            boundary = x != acc["prev"]
            return F.struct(
                x.alias("prev"),
                F.when(boundary, F.lit(1).cast("long"))
                .otherwise(acc["run"] + 1)
                .alias("run"),
                F.when(boundary, best).otherwise(acc["best"]).alias("best"),
                F.when(boundary, dup).otherwise(acc["dup"]).alias("dup"),
            )

        def finish(acc):
            best, dup = close(acc)
            return F.struct(best.alias("best"), dup.alias("dup"))

        return F.aggregate(F.array_sort(g), init, merge, finish)

    def one_bp(n: int, field: str) -> Column:
        """One output column = one let-bound tokenize + ONE fold.  A shared
        struct would be re-inlined once per selected field by projection
        collapse — tripling every fold (the :func:`shingles` lesson);
        per-column trees keep total work at one fold per metric."""

        def body(tk: Column) -> Column:
            norm = F.length(F.array_join(tk, " ")).cast("long")
            chars = run_fold(grams(tk, n))[field]
            return F.when(
                norm > 0,
                F.least(
                    F.lit(10000).cast("long"),
                    F.floor(F.lit(10000.0) * chars / norm).cast("long"),
                ),
            ).otherwise(F.lit(0).cast("long"))

        return F.when(
            txt.isNotNull(),
            F.element_at(F.transform(F.array(tokens(txt)), body), 1),
        )

    out = [did.alias(id_col)]
    out += [one_bp(n, "best").alias("top%d_bp" % n) for n in top_ns]
    out.append(one_bp(dup_n, "dup").alias("dup%d_bp" % dup_n))
    return df.select(*out)


# Script classes as LITERAL codepoint-range character classes (the Python
# \u escapes resolve to literal chars before either engine sees them, so
# one class string is valid under Java regex AND RE2 — the
# encoding_anomalies portability rule).  Letter ranges only: the Latin
# class skips × (U+00D7) and ÷ (U+00F7).
SCRIPT_CLASSES: Dict[str, str] = {
    "latin": "[A-Za-zÀ-ÖØ-öø-ɏ]",
    "cyrillic": "[Ѐ-ӿ]",
    "greek": "[Ͱ-Ͽ]",
    "arabic": "[؀-ۿ]",
    "cjk": "[一-鿿぀-ヿ가-힯]",
}


def script_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Unicode script mix — the mixed-script / homoglyph
    spam signal (a "Latin" document whose vowels are Cyrillic lookalikes
    defeats exact dedup and poisons language ID; script counts catch it
    in one pass):

    ``(id, latin_n, cyrillic_n, greek_n, arabic_n, cjk_n, n_scripts,
    mixed)`` — per-script char counts over :data:`SCRIPT_CLASSES`,
    ``n_scripts`` = how many scripts appear at all, ``mixed`` =
    ``n_scripts >= 2``.  NULL text → NULL row metrics (sibling
    convention); chars outside every class (digits, punctuation,
    whitespace) count toward nothing.

    Counts are ``length(x) − length(regexp_replace(x, class, ''))`` —
    pure JVM-codegen'd projection, no UDF, no shuffle; each class is one
    single-char character class so the count is exactly the number of
    chars in that script."""
    did, txt = F.col("`%s`" % id_col), F.col("`%s`" % text_col)

    def count(cls: str) -> Column:
        return (
            F.length(txt) - F.length(F.regexp_replace(txt, cls, ""))
        ).cast("long")

    counts = {name: count(cls) for name, cls in SCRIPT_CLASSES.items()}
    n_scripts = sum(
        (F.when(c > 0, 1).otherwise(0) for c in counts.values()),
        F.lit(0),
    ).cast("int")
    return df.select(
        did.alias(id_col),
        *[c.alias("%s_n" % name) for name, c in counts.items()],
        n_scripts.alias("n_scripts"),
        (n_scripts >= 2).alias("mixed"),
    )


def lang_agreement(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    markers: Optional[Dict[str, Sequence[str]]] = None,
) -> DataFrame:
    """Declared-vs-detected language confusion counts — the metadata
    audit for a multilingual corpus (a feed that labels Spanish text
    ``en`` poisons per-language sampling quotas): one row per
    ``(lang, lang_guess)`` combination with ``n`` and a null-safe
    ``agree`` flag.  ``lang_guess`` comes from :func:`lang_id` (``und``
    = no marker hit, NULL = NULL text).

    Plan: the heuristic is a pure projection riding the scan; the only
    shuffle is the map-side-combined groupBy over the tiny
    (langs × guesses) key space."""
    g = lang_id(df, text_col, markers)
    lc = F.col("`%s`" % lang_col)
    return (
        g.groupBy(lc.alias(lang_col), F.col("lang_guess"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            lang_col,
            "lang_guess",
            "n",
            F.col("`%s`" % lang_col).eqNullSafe(F.col("lang_guess")).alias("agree"),
        )
    )


def compression_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    min_ratio_bp: int = 3000,
    max_ratio_bp: int = 9500,
    min_bytes: int = 64,
) -> DataFrame:
    """Compression-ratio quality signal (the CCNet/Dolma/RefinedWeb
    heuristic): ``deflate(text)`` size relative to the raw UTF-8 size.

    Highly repetitive boilerplate compresses far below normal prose
    (``too_repetitive`` when ratio < *min_ratio_bp*); random or
    binary-like strings barely compress at all (``too_random`` when
    ratio > *max_ratio_bp*).  Ratio is an integer basis-point quotient
    (``10000 * compressed // raw``), so downstream thresholds never sit
    on a float boundary.

    Compression has no Spark built-in, so this is the sanctioned slow
    path: ONE Arrow-batched pandas UDF (stdlib ``zlib``, no per-row
    Python boundary) emitting a struct of both byte counts in a single
    pass — the ratio and flags are plain JVM-side Column arithmetic on
    top.  Map-only: no shuffle, payloads never leave the executor.
    NULL text → NULL metrics, both flags false.  Flags only fire at
    ``n_bytes >= min_bytes``: below that the fixed ~11-byte deflate
    header dominates the quotient and every short doc would read as
    "random" (the ratio itself is still reported).  DuckDB has no deflate,
    so the driver query is rows-only; the bit-level contract is pinned
    in pytest against direct ``zlib`` calls on the same rows.
    """
    import zlib

    @F.pandas_udf("struct<raw: bigint, comp: bigint>")
    def _sizes(s: pd.Series) -> pd.DataFrame:
        raws, comps = [], []
        for v in s:
            if v is None:
                raws.append(None)
                comps.append(None)
            else:
                b = v.encode("utf-8")
                raws.append(len(b))
                comps.append(len(zlib.compress(b, level)))
        return pd.DataFrame({"raw": raws, "comp": comps})

    # two-step projection so the UDF appears ONCE in the plan (one
    # ArrowEvalPython node — plan-asserted in tests), never re-evaluated
    # per derived column
    sized = df.select(
        F.col("`%s`" % id_col),
        _sizes(F.col("`%s`" % text_col)).alias("__sz"),
    )
    ratio = (
        F.when(
            F.col("__sz.raw") > 0,
            F.floor(F.lit(10000) * F.col("__sz.comp") / F.col("__sz.raw")),
        )
        .otherwise(F.lit(None))
        .cast("long")
    )
    return sized.select(
        F.col("`%s`" % id_col),
        F.col("__sz.raw").alias("n_bytes"),
        F.col("__sz.comp").alias("n_compressed"),
        ratio.alias("ratio_bp"),
        F.coalesce(
            (F.col("__sz.raw") >= min_bytes) & (ratio < min_ratio_bp),
            F.lit(False),
        ).alias("too_repetitive"),
        F.coalesce(
            (F.col("__sz.raw") >= min_bytes) & (ratio > max_ratio_bp),
            F.lit(False),
        ).alias("too_random"),
    )


def cooccurring_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_support: int = 50,
    top_k: int = 30,
    max_tokens_per_doc: int = 30,
) -> DataFrame:
    """Frequent co-occurring token pairs: a-priori two-pass market-basket
    mining over documents (doc = basket, distinct tokens = items).

    Pass 1 counts document frequency per distinct token and keeps tokens
    with support ≥ *min_support* — the a-priori downward-closure prune
    (a pair can only be frequent if both members are).  Pass 2 keeps the
    frequent tokens of each doc, bounds them to the first
    *max_tokens_per_doc* in token order BEFORE any aggregation buffer
    exists (:func:`~evalidate_spark.functions.similarity.cap_per_group`
    on the doc key — same shuffle as the collect that follows), then
    generates ordered pairs with an explode-free nested
    ``transform``/``slice`` HOF, so the quadratic blow-up is a bounded
    C(cap,2) per doc and never a join.  One final groupBy on the pair
    key counts supporting docs; HAVING + TakeOrdered (count desc, then
    lexicographic) make the top-k engine-independent.

    Shuffles: token-count (pass 1, map-side combined), doc-key window +
    collect (pass 2, shared partitioning), pair-count (bounded rows).
    The frequent-token semi-join is broadcast under AQE at real scale.
    """
    pc, _ = _pair_counts(df, id_col, text_col, min_support, max_tokens_per_doc)
    return (
        pc.filter(F.col("n_docs") >= min_support)
        .orderBy(F.col("n_docs").desc(), "t_a", "t_b")
        .limit(top_k)
    )


def _pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_support: int,
    max_tokens_per_doc: int,
):
    """Shared a-priori pipeline: (pair-doc-counts, frequent-token DF counts).

    Pair counts are NOT support-filtered here (association_rules filters
    on the pair, cooccurring_pairs on its own threshold); token document
    frequencies are the pass-1 output and carry ``__df``."""
    from .similarity import cap_per_group

    tok = (
        df.filter(
            F.col("`%s`" % id_col).isNotNull()
            & F.col("`%s`" % text_col).isNotNull()
        )
        .select(
            F.col("`%s`" % id_col).alias("__id"),
            F.explode(
                F.array_distinct(F.split(F.lower(F.col("`%s`" % text_col)), " "))
            ).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    freq = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("__df"))
        .filter(F.col("__df") >= min_support)
    )
    kept = tok.join(freq.select("t"), "t", "left_semi")
    capped = cap_per_group(
        kept, ["__id"], "t", max_tokens_per_doc, min_size=2
    )
    toks = capped.groupBy("__id").agg(
        F.array_sort(F.collect_list("t")).alias("toks")
    )
    pairs = toks.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("toks"),
                    lambda x, i: F.transform(
                        F.slice(F.col("toks"), i + F.lit(2), F.size("toks")),
                        lambda y: F.struct(x.alias("t_a"), y.alias("t_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.t_a", "p.t_b")
    pc = pairs.groupBy("t_a", "t_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return pc, freq


def association_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_support: int = 50,
    min_conf_bp: int = 5000,
    top_k: int = 30,
    max_tokens_per_doc: int = 30,
) -> DataFrame:
    """Association rules over co-occurring tokens: for each frequent pair
    both directed rules ``ante → cons`` with exact integer confidence and
    a lift flag (Agrawal–Srikant a-priori, the rule-generation step).

    ``conf_bp = (10000·n_pair) div df(ante)`` — integer division, never a
    float; ``lift_gt1`` is the cross-multiplied comparison
    ``N·n_pair > df(ante)·df(cons)`` where ``N`` is the basket-universe
    size (docs with id and text), a single broadcast 1-row aggregate.
    The pair table is tiny after the support filter, so both
    doc-frequency joins broadcast under AQE; TakeOrdered on
    (conf desc, ante, cons) pins the output across engines.
    """
    pc, freq = _pair_counts(df, id_col, text_col, min_support, max_tokens_per_doc)
    pc = pc.filter(F.col("n_docs") >= min_support)
    both = pc.select(
        F.col("t_a").alias("ante"), F.col("t_b").alias("cons"), "n_docs"
    ).unionByName(
        pc.select(
            F.col("t_b").alias("ante"), F.col("t_a").alias("cons"), "n_docs"
        )
    )
    fa = freq.select(F.col("t").alias("ante"), F.col("__df").alias("n_ante"))
    fc = freq.select(F.col("t").alias("cons"), F.col("__df").alias("n_cons"))
    n_total = df.filter(
        F.col("`%s`" % id_col).isNotNull() & F.col("`%s`" % text_col).isNotNull()
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    out = (
        both.join(fa, "ante")
        .join(fc, "cons")
        .crossJoin(F.broadcast(n_total))
        .select(
            "ante",
            "cons",
            F.col("n_docs").alias("n_pair"),
            "n_ante",
            F.expr("(10000 * n_docs) div n_ante").alias("conf_bp"),
            # decimal(19,0) operands: the products reach N·n_pair ≈ 10^24
            # at corpus scale, past Long.MAX — int64 would wrap silently
            # under non-ANSI mode and flip the flag (DuckDB's HUGEINT
            # side is already exact, so only the Spark side needs width)
            (
                F.col("__n").cast("decimal(19,0)")
                * F.col("n_docs").cast("decimal(19,0)")
                > F.col("n_ante").cast("decimal(19,0)")
                * F.col("n_cons").cast("decimal(19,0)")
            ).alias("lift_gt1"),
        )
        .filter(F.col("conf_bp") >= min_conf_bp)
    )
    return out.orderBy(F.col("conf_bp").desc(), "ante", "cons").limit(top_k)


def readability(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease readability signal per doc — the classic
    text-difficulty quality dimension (Flesch 1948; used alongside
    Gopher/C4 rules in corpus filtering).

    Emits the exact integer inputs — ``n_words`` (space-split, empties
    dropped), ``n_sentences`` (runs of ``[.!?]``, floored at 1 for
    non-empty text), ``n_syllables`` (runs of ``[aeiouy]`` in the
    lowercased text, the standard vowel-group heuristic) — plus
    ``reading_class``.  The Flesch score ``206.835 − 1.015·W/S −
    84.6·Y/W`` is never materialised as a float: each class threshold
    ``FRE ≥ T`` is evaluated as the cross-multiplied integer comparison
    ``206835·S·W − 1015·W² − 84600·Y·S ≥ 1000·T·S·W``, so no engine ever
    rounds at a boundary.  One fused projection: no UDF, no shuffle.
    NULL text → NULL counts and class; zero words → NULL class.
    """
    low = F.lower(F.col("`%s`" % text_col))
    words = F.filter(F.split(F.col("`%s`" % text_col), " "), lambda w: w != "")
    n_words = F.size(words).cast("long")
    # runs of X = len(after collapsing each run to one char) - len(after
    # deleting runs); pure length arithmetic, identical in both engines
    def runs(pat: str) -> Column:
        collapsed = F.length(F.regexp_replace(low, pat, "\x01"))
        deleted = F.length(F.regexp_replace(low, pat, ""))
        return (collapsed - deleted).cast("long")

    n_sent_raw = runs(r"[.!?]+")
    n_sentences = F.greatest(n_sent_raw, F.lit(1).cast("long"))
    n_syllables = runs(r"[aeiouy]+")
    w, s, y = n_words, n_sentences, n_syllables
    # N/D = Flesch score; class thresholds compared as N >= T*D (D > 0)
    n = (
        F.lit(206835) * s * w
        - F.lit(1015) * w * w
        - F.lit(84600) * y * s
    )
    d = F.lit(1000) * s * w
    cls = (
        F.when(w == 0, F.lit(None).cast("string"))
        .when(n >= F.lit(70) * d, F.lit("easy"))
        .when(n >= F.lit(50) * d, F.lit("standard"))
        .when(n >= F.lit(30) * d, F.lit("difficult"))
        .otherwise(F.lit("very_difficult"))
    )
    has = F.col("`%s`" % text_col).isNotNull()
    return df.select(
        F.col("`%s`" % id_col),
        F.when(has, n_words).alias("n_words"),
        F.when(has & (n_words > 0), n_sentences).alias("n_sentences"),
        F.when(has, n_syllables).alias("n_syllables"),
        F.when(has, cls).alias("reading_class"),
    )


# ------------------------------------------- vocabulary-scale reports
def vocab_spectrum(
    df: DataFrame,
    text_col: str = "text",
    edges: Sequence[int] = (1, 10, 100),
) -> DataFrame:
    """Vocabulary frequency spectrum: token types and occurrence mass per
    occurrence-count bucket (default ``1 / 2-10 / 11-100 / >100``) —
    ``(bucket, n_types, n_occurrences, type_share_bp, occ_share_bp)``.

    This is the tokenizer/vocab-planning table: the ``1``-bucket's
    ``type_share_bp`` is the hapax rate (OOV pressure — how much of the
    vocabulary a fixed word list can never cover), while the top
    bucket's ``occ_share_bp`` is the head mass a small vocab already
    captures.  Tracked per ingest round it also flags corpus poisoning:
    a boilerplate flood moves occurrence mass into the top bucket
    without moving type counts.

    Plan: the standard word-count shape — explode(tokens) → map-side
    combined groupBy(token) — then a ≤ ``len(edges)+1``-row rollup and
    one broadcast total; the only data shuffle keys on the token itself
    (uniform md5-free distribution; no key ever exceeds its own corpus
    frequency, and hot stopword keys are exactly what partial
    aggregation absorbs).  Tokens are lowercased (type identity), NULL
    texts contribute nothing.  Exact int64 arithmetic throughout."""
    if list(edges) != sorted(set(int(e) for e in edges)) or not edges:
        raise ValueError("vocab_spectrum: edges must be sorted unique ints")
    tc = F.col("`%s`" % text_col)
    tok = F.explode(F.transform(tokens(tc), F.lower)).alias("__t")
    counts = (
        df.filter(tc.isNotNull())
        .select(tok)
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    es = [int(e) for e in edges]
    bucket = F.when(F.col("c") <= es[0], F.lit(_bucket_label(None, es[0])))
    for lo, hi in zip(es, es[1:]):
        bucket = bucket.when(
            F.col("c") <= hi, F.lit(_bucket_label(lo + 1, hi))
        )
    bucket = bucket.otherwise(F.lit(">%d" % es[-1]))
    per = counts.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").cast("long").alias("n_occurrences"),
    )
    # pin the ≤#buckets-row table: totals derive from it, and without the
    # checkpoint both branches re-run the word-count shuffle
    per = per.localCheckpoint(eager=False)
    total = per.agg(
        F.sum("n_types").alias("__tt"), F.sum("n_occurrences").alias("__to")
    )
    return per.crossJoin(F.broadcast(total)).select(
        "bucket",
        "n_types",
        "n_occurrences",
        F.expr("n_types * 10000L DIV greatest(__tt, 1)")
        .cast("long")
        .alias("type_share_bp"),
        F.expr("n_occurrences * 10000L DIV greatest(__to, 1)")
        .cast("long")
        .alias("occ_share_bp"),
    )


def _bucket_label(lo, hi) -> str:
    if lo is None or lo == hi:
        return str(hi)
    return "%d-%d" % (lo, hi)


def token_fertility(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    piece_len: int = 4,
) -> DataFrame:
    """Per-group token-fertility report — the cost model that turns a
    char-metered corpus into a token budget: ``(group, n_docs, n_chars,
    ws_tokens, bpe_tokens, chars_per_token_centi, pieces_per_word_centi)``.

    ``chars_per_token_centi`` (chars per whitespace token, integer
    centi-units) differs sharply by language and is how a 100 TB char
    count converts to a training-token estimate per mixture component;
    ``pieces_per_word_centi`` (word-piece fertility under the
    ``piece_len`` BPE estimate) flags groups that will tokenize
    expensively.  NULL group keys report as ``__null__`` (a feed losing
    its lang tag must surface, not vanish); NULL texts count as docs
    with zero chars/tokens.  Plan: one fused projection (all three
    counts read ONE let-bound token array) into one map-side-combined
    groupBy on the group key; output rows = #groups.  Ratios are exact
    int64 ``DIV``; zero-token groups report NULL ratios."""
    tc = F.col("`%s`" % text_col)
    gc = F.coalesce(F.col("`%s`" % group_col).cast("string"), F.lit("__null__"))
    per_doc = F.element_at(
        F.transform(
            F.array(tokens(tc)),
            lambda tk: F.struct(
                F.size(tk).cast("long").alias("ws"),
                F.aggregate(
                    tk,
                    F.lit(0).cast("long"),
                    lambda acc, t: acc
                    + F.ceil(F.length(t) / piece_len).cast("long"),
                ).alias("bpe"),
            ),
        ),
        1,
    )
    d = df.select(
        gc.alias("group"),
        F.coalesce(F.length(tc), F.lit(0)).cast("long").alias("__chars"),
        F.coalesce(per_doc["ws"], F.lit(0)).alias("__ws"),
        F.coalesce(per_doc["bpe"], F.lit(0)).alias("__bpe"),
    )
    return d.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__chars").cast("long").alias("n_chars"),
        F.sum("__ws").cast("long").alias("ws_tokens"),
        F.sum("__bpe").cast("long").alias("bpe_tokens"),
        F.expr(
            "CASE WHEN sum(__ws) > 0"
            " THEN sum(__chars) * 100L DIV sum(__ws) END"
        )
        .cast("long")
        .alias("chars_per_token_centi"),
        F.expr(
            "CASE WHEN sum(__ws) > 0"
            " THEN sum(__bpe) * 100L DIV sum(__ws) END"
        )
        .cast("long")
        .alias("pieces_per_word_centi"),
    )


def vocab_drift(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_waves: int = 5,
) -> DataFrame:
    """Wave-over-wave vocabulary drift: docs sliced into ``n_waves``
    equal id-ranges (ingest order proxy), token-occurrence distributions
    compared between consecutive waves — ``(from_wave, to_wave, tvd_bp,
    new_types, new_occ_bp)``.

    ``tvd_bp`` is total-variation distance between the two waves'
    unigram distributions in integer basis points (Σ|share_a − share_b|
    over tokens, halved); ``new_types`` / ``new_occ_bp`` count tokens
    (and their occurrence share of the TO wave) absent from the FROM
    wave.  A TVD spike between waves is topic/source composition change;
    collapsing ``new_occ_bp`` across waves is vocabulary exhaustion —
    both are the ingest-monitoring twin of :func:`vocab_spectrum`.

    Plan: lowercased tokens exploded per doc, waves from
    ``table_checks._waves``, then the shared wave-over-wave roll-up
    ``table_checks._wave_transitions`` keyed on the token — ONE
    token-keyed shuffle and an ``n_waves−1``-row driver-free rollup.
    Shares floor to int bp before differencing, so the arithmetic is
    exact and replayable; NULL texts and NULL ids contribute nothing (no
    tokens / no wave position)."""
    from ..operators.table_checks import _wave_transitions, _waves

    if n_waves < 2:
        raise ValueError("vocab_drift: n_waves must be >= 2")
    tc = F.col("`%s`" % text_col)
    ids = F.col("`%s`" % id_col)
    d = df.filter(tc.isNotNull() & ids.isNotNull()).select(
        ids.alias("__id"), tokens(tc).alias("__tk")
    )
    waved = _waves(d, n_waves).select(
        "__w", F.explode(F.transform(F.col("__tk"), F.lower)).alias("__t")
    )
    return _wave_transitions(waved, n_waves, "new_types", "new_occ_bp")


def lang_top_tokens(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    top_k: int = 5,
) -> DataFrame:
    """Group-wise token top-k: per language, the ``top_k`` most frequent
    lowercased tokens with exact count, integer-bp share of that group's
    occurrences, and rank — ``(group, token, cnt, share_bp, rank)``.

    The per-group twin of the global heavy-hitter report: a language
    whose top token list is suddenly dominated by one boilerplate marker
    is a single broken feed, invisible in the global top-k where big
    languages drown it.  Ties break token-ascending so the cut is
    deterministic cross-engine.

    Plan: one (group, token) groupBy (map-side combined — the same
    word-count shuffle vocab_spectrum pays), then rank and group-total
    both ride ONE window shuffle keyed on the group; per-group window
    cardinality is the group's vocabulary, which is bounded — for
    unbounded group keys pre-prune with a sketch top-k first.  NULL
    group keys report as ``'__null__'``; NULL texts contribute
    nothing."""
    if top_k < 1:
        raise ValueError("lang_top_tokens: top_k must be >= 1")
    tc = F.col("`%s`" % text_col)
    gc = F.coalesce(F.col("`%s`" % group_col).cast("string"), F.lit("__null__"))
    counts = (
        df.filter(tc.isNotNull())
        .select(
            gc.alias("group"),
            F.explode(F.transform(tokens(tc), F.lower)).alias("token"),
        )
        .groupBy("group", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("group")
    ranked = counts.select(
        "group",
        "token",
        F.col("cnt").cast("long").alias("cnt"),
        F.row_number()
        .over(w.orderBy(F.col("cnt").desc(), F.col("token").asc()))
        .alias("rank"),
        F.sum("cnt").over(w).cast("long").alias("__tot"),
    )
    return ranked.filter(F.col("rank") <= int(top_k)).select(
        "group",
        "token",
        "cnt",
        F.expr("cnt * 10000L DIV greatest(__tot, 1)")
        .cast("long")
        .alias("share_bp"),
        F.col("rank").cast("int").alias("rank"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information —
    ``(w1, w2, n_pair, pmi_milli)``: word pairs that co-occur far more
    than their marginals predict (multiword expressions, template
    phrases, glued boilerplate markers).

    ``pmi_milli = floor(1000 · ln(c₁₂·N / (c₁·c₂)))`` with positional
    marginals (``c₁`` = occurrences of *w1* as a bigram head, ``c₂`` =
    of *w2* as a tail, N = total bigram tokens) — the same per-term
    ln-then-floor integer technique as the bigram-LM scorer, so the
    float path is summation-order-free and SQL-replayable.  ``min_count``
    suppresses the unstable low-frequency tail (PMI's classic failure
    mode).  Ties cut deterministically by (pmi desc, w1, w2).

    Plan: ONE corpus tokenize+explode into the bigram-count table
    (map-side combined, then pinned — marginals and the scoring join
    derive from it, never from re-exploding the corpus), token-keyed
    joins on the count table only, TakeOrdered top-k."""
    if min_count < 1 or top_k < 1:
        raise ValueError("pmi_collocations: min_count and top_k must be >= 1")
    tc = F.col("`%s`" % text_col)
    ids = F.col("`%s`" % id_col)
    bigrams = F.element_at(
        F.transform(
            F.array(tokens(tc)),
            lambda tk: F.when(
                F.size(tk) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 1),
                    lambda i: F.struct(
                        F.element_at(tk, i).alias("w1"),
                        F.element_at(tk, i + 1).alias("w2"),
                    ),
                ),
            ),
        ),
        1,
    )
    pr = (
        df.filter(tc.isNotNull() & ids.isNotNull())
        .select(F.explode(bigrams).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    cb = (
        pr.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .localCheckpoint(eager=False)
    )
    c1 = cb.groupBy("w1").agg(F.sum("n_pair").alias("__c1"))
    c2 = cb.groupBy("w2").agg(F.sum("n_pair").alias("__c2"))
    tot = cb.agg(F.sum("n_pair").alias("__n"))
    j = (
        cb.filter(F.col("n_pair") >= int(min_count))
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.floor(
        F.log(
            (F.col("n_pair").cast("double") * F.col("__n"))
            / (F.col("__c1").cast("double") * F.col("__c2"))
        )
        * 1000
    ).cast("long")
    return (
        j.select(
            "w1", "w2", F.col("n_pair").cast("long").alias("n_pair"),
            pmi.alias("pmi_milli"),
        )
        .orderBy(
            F.col("pmi_milli").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(int(top_k))
    )
