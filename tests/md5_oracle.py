"""Pure-Python hashlib oracles for the md5-keyed LSH signatures
(``dedup.minhash_state(..., hash_fn="md5")``, ``dedup.simhash64_md5``) — the
companion of ``tests/xxh64_oracle.py`` for the family DuckDB can replay.

Shingling is ``xxh64_oracle.shingle_list``; a NULL text signs like the
empty text (one ``""`` shingle), as ``text.shingles`` does."""

from __future__ import annotations

import hashlib

from tests.xxh64_oracle import shingle_list

# contract corners both md5 signature pins run
CORNERS = [
    None,                       # NULL text -> the '' whole-text shingle
    #   in simhash64_md5; minhash_state leaves the row out
    "",                         # empty -> whole-text '' shingle
    "   ",                      # whitespace-only
    "one",                      # below shingle_k: single whole-text shingle
    "one two",                  # still below k=3
    "a a a a a a a a",          # heavy duplicate shingles
    "tab\tand\nnewline  runs",
    "ünïcödé weiß straße ss",
]


def minhash_signature_md5(text, num_hashes: int, shingle_k: int) -> list:
    """Permutation i = min over shingles of the first 16 hex chars of
    ``md5('%d:%s' % (i, shingle))`` (string min == unsigned min)."""
    sh = shingle_list(text or "", shingle_k)
    return [
        min(hashlib.md5(("%d:%s" % (i, x)).encode()).hexdigest()[:16] for x in sh)
        for i in range(num_hashes)
    ]


def simhash64_md5(text, shingle_k: int) -> int:
    """First 16 hex chars of ``md5(shingle)`` as the unsigned 64-bit hash,
    per-bit ±1 majority vote, signed two's-complement wrap for bit 63."""
    counts = [0] * 64
    for x in shingle_list(text or "", shingle_k):
        h = int(hashlib.md5(x.encode()).hexdigest()[:16], 16)
        for b in range(64):
            counts[b] += 1 if (h >> b) & 1 else -1
    u = sum(1 << b for b in range(64) if counts[b] > 0)
    return u - (1 << 64) if u >= (1 << 63) else u
