"""Seeded input generators for the benchmark.

The inputs are written with pyarrow, never through the program under test,
and cached on disk keyed by (kind, seed, size, rate) so that generation is
never part of a timed region.  Each generator returns the path of its
parquet directory plus the expectations derived from its own planted flags;
the flag columns themselves never reach the files.

Documents have the shape the span rules validate,
``doc_id string, spans array<struct<kind, text, media_ref, offset int>>``,
with 1 to 50 spans per document.  A failing document carries violations
that map one-to-one onto ``span_rules()``:

==================  ==============================  =================
planted flag        what is written                 rule it violates
==================  ==============================  =================
``id_null``         ``doc_id`` NULL                 ``doc_id`` required
``id_empty``        ``doc_id`` ``""``               ``doc_id`` size
``spans_empty``     ``spans`` ``[]``                ``spans`` size
``kind_bad``        a span's ``kind`` ``"video"``   ``spans.kind`` allowed
``offset_null``     a span's ``offset`` NULL        ``spans.offset`` required
``offset_neg``      a span's ``offset`` negative    ``spans.offset`` size
==================  ==============================  =================
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_SPANS = 50
#: distinct span texts and media refs: enough that parquet cannot shrink the
#: two columns to a small dictionary, so (as in real corpora) they are most
#: of the bytes that a scan pruned to ``kind, offset`` skips
N_TEXTS = 200_000
N_MEDIA = 1_000_000
#: parquet files per document corpus
N_FILES = 4
#: one text in TWIN_EVERY is followed by its near-duplicate twin
TWIN_EVERY = 10
#: the doc-level and element-level planted flags, in generator order
DOC_FLAGS = ("id_null", "id_empty", "spans_empty")
ELEM_FLAGS = ("kind_bad", "offset_null", "offset_neg")
#: a failing doc's chance of each doc-level flag (id flags exclusive)
P_ID_NULL, P_ID_EMPTY, P_SPANS_EMPTY = 0.15, 0.10, 0.10
#: docs with no doc-level flag, or drawn for both, get 1..N bad spans
DIRTY_RATE = 0.30

_SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN_TYPE))])
TEXT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


@dataclass
class Docs:
    """A generated document corpus and what the span rules must find in it."""

    path: str
    files: List[str]
    n_docs: int
    failed_docs: int
    #: planted flag -> violation rows it must produce
    flag_counts: Dict[str, int]
    input_bytes: int


@dataclass
class Texts:
    """A generated text corpus with planted near-duplicate twins."""

    path: str
    n_docs: int
    #: (id_a, id_b) with id_a < id_b, one per planted twin
    pairs: List[Tuple[int, int]]
    input_bytes: int


def _vocab(prefix: str, n: int, suffix=lambda i: "") -> pa.Array:
    return pa.array([f"{prefix}{i}{suffix(i)}" for i in range(n)], pa.string())


def _span_vocabs() -> Tuple[pa.Array, pa.Array]:
    """The span texts (one to three phrases long) and the media refs."""
    texts = _vocab("token word ", N_TEXTS, lambda i: " lorem ipsum dolor" * (1 + i % 3))
    return texts, _vocab("m-", N_MEDIA)


def _take(vocab: pa.Array, ix: np.ndarray, valid: np.ndarray) -> pa.Array:
    """``vocab[ix]`` where ``valid``, else NULL."""
    return vocab.take(pa.array(ix, pa.int32(), mask=~valid))


def _doc_table(rng: np.random.Generator, first: int, n: int, rate: float, tag: str, vocabs):
    """One block of documents (ids ``first .. first+n-1``) plus its flag
    counts and failing-doc count."""
    n_spans = rng.integers(1, MAX_SPANS + 1, n)
    failing = rng.random(n) < rate
    u = rng.random(n)
    id_null = failing & (u < P_ID_NULL)
    id_empty = failing & (u >= P_ID_NULL) & (u < P_ID_NULL + P_ID_EMPTY)
    spans_empty = failing & (rng.random(n) < P_SPANS_EMPTY)
    # a failing doc with spans gets bad spans, up to four in a dirty corpus
    # and one in a clean one; half the docs with a bad doc_id get none
    max_bad = 4 if rate >= DIRTY_RATE else 1
    n_bad = np.where(failing & ~spans_empty, np.minimum(rng.integers(1, max_bad + 1, n), n_spans), 0)
    n_bad = np.where((id_null | id_empty) & (rng.random(n) < 0.5), 0, n_bad)
    n_spans = np.where(spans_empty, 0, n_spans)

    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(n_spans, out=offsets[1:])
    total = int(offsets[-1])
    doc_of = np.repeat(np.arange(n), n_spans)
    j = np.arange(total) - offsets[doc_of]
    # the bad spans of a doc are n_bad consecutive spans from a random start
    start = rng.integers(0, np.maximum(n_spans, 1))
    rel = (j - start[doc_of]) % np.maximum(n_spans[doc_of], 1)
    bad = rel < n_bad[doc_of]
    kind_of_bad = rng.integers(0, 3, total)
    kind_bad = bad & (kind_of_bad == 0)
    offset_null = bad & (kind_of_bad == 1)
    offset_neg = bad & (kind_of_bad == 2)

    is_text = rng.random(total) < 0.5
    kind = _take(
        pa.array(["text", "media", "video"]),
        np.where(kind_bad, 2, np.where(is_text, 0, 1)),
        np.ones(total, bool),
    )
    texts, medias = vocabs
    text = _take(texts, rng.integers(0, N_TEXTS, total), is_text)
    media = _take(medias, rng.integers(0, N_MEDIA, total), ~is_text)
    off = np.where(offset_neg, -(j * 7 + 1), j * 7).astype(np.int32)
    spans_struct = pa.StructArray.from_arrays(
        [kind, text, media, pa.array(off, pa.int32(), mask=offset_null)],
        fields=list(_SPAN_TYPE),
    )
    spans = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), spans_struct)
    ids = np.array([f"{tag}-{first + i}" for i in range(n)], dtype=object)
    ids[id_empty] = ""
    doc_id = pa.array(ids, pa.string(), mask=id_null)
    table = pa.Table.from_arrays([doc_id, spans], schema=DOCS_SCHEMA)
    counts = {
        "id_null": int(id_null.sum()),
        "id_empty": int(id_empty.sum()),
        "spans_empty": int(spans_empty.sum()),
        "kind_bad": int(kind_bad.sum()),
        "offset_null": int(offset_null.sum()),
        "offset_neg": int(offset_neg.sum()),
    }
    doc_fails = id_null | id_empty | spans_empty | (np.bincount(doc_of[bad], minlength=n) > 0)
    return table, counts, int(doc_fails.sum())


def _cached(path: str) -> dict | None:
    meta = os.path.join(path, "_expected.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return json.load(fh)
    return None


def _publish(path: str, meta: dict) -> None:
    tmp = os.path.join(path, "._expected.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    os.replace(tmp, os.path.join(path, "_expected.json"))


def _dir_bytes(files: List[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def documents(root: str, seed: int, n_docs: int, rate: float) -> Docs:
    """``n_docs`` documents in ``N_FILES`` parquet files, about ``rate`` of
    them failing the span rules."""
    path = os.path.join(root, f"docs-s{seed}-n{n_docs}-r{rate}")
    meta = _cached(path)
    if meta is None:
        os.makedirs(path, exist_ok=True)
        bounds = np.linspace(0, n_docs, N_FILES + 1).astype(int)
        vocabs = _span_vocabs()

        def write(k: int):
            # one generator per file, so the files can be written in parallel
            rng = np.random.default_rng([seed, n_docs, int(rate * 1e6), k])
            lo, hi = int(bounds[k]), int(bounds[k + 1])
            table, c, f = _doc_table(rng, lo, hi - lo, rate, f"d{seed}", vocabs)
            name = os.path.join(path, f"part-{k:05d}.parquet")
            pq.write_table(table, name)
            return name, c, f

        counts = dict.fromkeys(DOC_FLAGS + ELEM_FLAGS, 0)
        failed = 0
        files = []
        with ThreadPoolExecutor(N_FILES) as pool:
            for name, c, f in pool.map(write, range(N_FILES)):
                files.append(name)
                failed += f
                for key, v in c.items():
                    counts[key] += v
        meta = {"files": files, "n_docs": n_docs, "failed_docs": failed, "flag_counts": counts}
        _publish(path, meta)
    return Docs(
        path=path,
        files=meta["files"],
        n_docs=meta["n_docs"],
        failed_docs=meta["failed_docs"],
        flag_counts=meta["flag_counts"],
        input_bytes=_dir_bytes(meta["files"]),
    )


def sample_path(docs: Docs, n: int) -> str:
    """Directory of the one-file table holding the corpus' first ``n`` docs."""
    return docs.path + f"-head{n}"


def write_sample(docs: Docs, n: int) -> str:
    """Write the first ``n`` documents of the corpus (fewer if its first
    file holds fewer) as their own one-file parquet table, with their
    position in a ``row`` column so a check can compare doc by doc."""
    path = sample_path(docs, n)
    name = os.path.join(path, "part-00000.parquet")
    if not os.path.exists(name):
        os.makedirs(path, exist_ok=True)
        head = pq.read_table(docs.files[0]).slice(0, n)
        head = head.append_column("row", pa.array(np.arange(head.num_rows), pa.int32()))
        pq.write_table(head, name + ".tmp")
        os.replace(name + ".tmp", name)
    return path


def texts(root: str, seed: int, n_docs: int) -> Texts:
    """``n_docs`` random texts of 20 to 60 tokens; one in ``TWIN_EVERY`` is
    followed by a twin that repeats it with one token appended."""
    path = os.path.join(root, f"text-s{seed}-n{n_docs}")
    meta = _cached(path)
    if meta is None:
        os.makedirs(path, exist_ok=True)
        rng = np.random.default_rng([seed, n_docs, TWIN_EVERY, 7])
        n_orig = n_docs - n_docs // (TWIN_EVERY + 1)
        lens = rng.integers(20, 61, n_orig)
        words = rng.integers(0, 20_000, int(lens.sum()))
        vocab = [f"w{i}" for i in range(20_000)]
        ends = np.cumsum(lens)
        ids, docs, pairs = [], [], []
        nxt = 0
        for i in range(n_orig):
            toks = [vocab[w] for w in words[ends[i] - lens[i] : ends[i]]]
            ids.append(nxt)
            docs.append(" ".join(toks))
            nxt += 1
            if i % TWIN_EVERY == 0:
                ids.append(nxt)
                docs.append(docs[-1] + " " + vocab[int(rng.integers(0, 20_000))])
                pairs.append((nxt - 1, nxt))
                nxt += 1
        name = os.path.join(path, "part-00000.parquet")
        pq.write_table(pa.Table.from_arrays([pa.array(ids, pa.int64()), pa.array(docs)], schema=TEXT_SCHEMA), name)
        meta = {"files": [name], "n_docs": len(ids), "pairs": pairs}
        _publish(path, meta)
    return Texts(
        path=path,
        n_docs=meta["n_docs"],
        pairs=[tuple(p) for p in meta["pairs"]],
        input_bytes=_dir_bytes(meta["files"]),
    )


def main(argv: List[str] | None = None) -> None:
    """Generate (or find in the cache) one input and print its description
    as JSON.  Run in a child process, so that the generator's memory never
    counts toward the benchmark's peak resident set."""
    import argparse
    from dataclasses import asdict

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="kind", required=True)
    d = sub.add_parser("docs")
    d.add_argument("--rate", type=float, required=True)
    d.add_argument("--sample", type=int, required=True, help="docs in the oracle sample; 0 for none")
    t = sub.add_parser("texts")
    for p in (d, t):
        p.add_argument("--root", required=True)
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--n", type=int, required=True)
    a = ap.parse_args(argv)
    if a.kind == "docs":
        out = documents(a.root, a.seed, a.n, a.rate)
        if a.sample:
            write_sample(out, a.sample)
    else:
        out = texts(a.root, a.seed, a.n)
    print(json.dumps(asdict(out)))


if __name__ == "__main__":
    main()
