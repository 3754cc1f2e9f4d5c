"""Training-data text + dedup ops: tokenisation, quality, lang-id,
fingerprints, exact/MinHash/SimHash/Jaccard dedup — each checked against a
small pure-Python oracle on literal rows."""

import hashlib

import pytest
from pyspark.sql import functions as F

from evalidate_spark.functions import dedup, text
from tests import md5_oracle


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


DOCS = [
    ("d1", "the quick brown fox jumps over the lazy dog"),
    ("d2", "the quick brown fox jumps over the lazy cat"),   # near-dup of d1
    ("d3", "completely different content about spark engines"),
    ("d4", "the quick brown fox jumps over the lazy dog"),   # exact dup of d1
    ("d5", "El perro corre por la calle y la casa"),
]


class TestText:
    def test_token_count(self, spark):
        df = docs_df(spark, [("a", "one two  three"), ("b", ""), ("c", "solo")])
        got = {
            r["doc_id"]: r["n"]
            for r in df.select("doc_id", text.token_count(F.col("text")).alias("n")).collect()
        }
        assert got == {"a": 3, "b": 0, "c": 1}

    def test_token_count_bpe(self, spark):
        df = docs_df(spark, [("a", "abcd abcdefgh xy")])
        # ceil(4/4)+ceil(8/4)+ceil(2/4) = 1+2+1
        [r] = df.select(text.token_count_bpe(F.col("text")).alias("n")).collect()
        assert r["n"] == 4

    def test_quality_metrics_oracle(self, spark):
        raw = "the cat sat on the mat, happily."
        df = docs_df(spark, [("a", raw)])
        [r] = text.quality_metrics(df).collect()
        toks = raw.split()
        assert r["n_tokens"] == len(toks)
        assert r["n_chars_q"] == len(raw)
        stop = sum(1 for t in toks if t.lower() in text.STOPWORDS_EN)
        assert r["stopword_ratio"] == pytest.approx(stop / len(toks))
        punct = sum(1 for ch in raw if not ch.isalnum() and not ch.isspace())
        assert r["punct_ratio"] == pytest.approx(punct / len(raw))

    def test_quality_score_bounds(self, spark):
        df = docs_df(spark, [("ok", "word " * 30), ("tiny", "x"), ("rep", "spam " * 100)])
        got = {r["doc_id"]: r["quality_score"] for r in text.quality_score(df).collect()}
        assert got["ok"] > got["tiny"]
        assert all(0.0 <= v <= 1.0 for v in got.values())

    def test_lang_id(self, spark):
        df = docs_df(
            spark,
            [
                ("en", "the dog and the cat sat in a house"),
                ("es", "el perro y la casa de los gatos"),
                ("de", "der hund und die katze ist nicht da"),
                ("none", "zzz qqq www"),
            ],
        )
        got = {r["doc_id"]: r["lang_guess"] for r in text.lang_id(df).collect()}
        assert got == {"en": "en", "es": "es", "de": "de", "none": "und"}

    def test_fingerprint_normalises(self, spark):
        df = docs_df(spark, [("a", "Hello  World"), ("b", "hello world"), ("c", "hello worlds")])
        got = {
            r["doc_id"]: r["fp"]
            for r in df.select("doc_id", text.fingerprint(F.col("text")).alias("fp")).collect()
        }
        assert got["a"] == got["b"] != got["c"]
        assert got["b"] == hashlib.md5(b"hello world").hexdigest()

    def test_shingles(self, spark):
        df = docs_df(spark, [("a", "w1 w2 w3 w4"), ("b", "w1")])
        got = {
            r["doc_id"]: r["s"]
            for r in df.select("doc_id", text.shingles(F.col("text"), 3).alias("s")).collect()
        }
        assert got["a"] == ["w1 w2 w3", "w2 w3 w4"]
        assert got["b"] == ["w1"]


class TestFilterFunnel:
    def test_funnel_counts_and_monotonicity(self, spark):
        from evalidate_spark.functions.text import filter_funnel

        flags = spark.createDataFrame(
            [("d1", ""), ("d2", "r1"), ("d3", "r1,r2"), ("d4", "r2"), ("d5", "r3")],
            "doc_id string, fails string",
        )
        rows = {
            r["stage_ix"]: r.asDict()
            for r in filter_funnel(flags, ["r1", "r2", "r3"]).collect()
        }
        assert rows[0] == {"stage_ix": 0, "rule": "input",
                           "docs_surviving": 5, "docs_dropped": 0}
        # r1 drops d2,d3; r2 then drops d4; r3 then drops d5
        assert (rows[1]["docs_surviving"], rows[1]["docs_dropped"]) == (3, 2)
        assert (rows[2]["docs_surviving"], rows[2]["docs_dropped"]) == (2, 1)
        assert (rows[3]["docs_surviving"], rows[3]["docs_dropped"]) == (1, 1)
        surv = [rows[i]["docs_surviving"] for i in range(4)]
        assert surv == sorted(surv, reverse=True)


class TestDedup:
    def test_exact_duplicates(self, spark):
        df = docs_df(spark, DOCS)
        [g] = dedup.exact_duplicates(df).collect()
        assert g["n_docs"] == 2 and g["doc_ids"] == ["d1", "d4"]

    def test_distinct_by_fingerprint(self, spark):
        df = docs_df(spark, DOCS)
        kept = {r["doc_id"] for r in dedup.distinct_by_fingerprint(df).collect()}
        assert kept == {"d1", "d2", "d3", "d5"}

    def test_dedup_attrition(self, spark):
        # s1 owns the keeper of the duplicated text (min id "a1"); s2's
        # copy "b1" is cannibalised; NULL text ("b3") passes through;
        # NULL id ("a3") counts in but is never a keeper so never kept
        rows = [
            ("a1", "same text here", "s1", 10),
            ("a2", "unique alpha doc", "s1", 20),
            ("a3", None, "s1", 5),
            ("b1", "same text here", "s2", 10),
            ("b2", "unique beta doc", "s2", 30),
            (None, "unique beta doc", "s2", 30),
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, text string, source string, n_chars long"
        )
        got = {
            r["source"]: r.asDict()
            for r in dedup.dedup_attrition(df, weight_col="n_chars").collect()
        }
        # a3: NULL text -> NULL fingerprint -> pass-through (kept)
        assert got["s1"]["docs_in"] == 3 and got["s1"]["docs_kept"] == 3
        assert got["s1"]["w_in"] == 35 and got["s1"]["w_kept"] == 35
        # b1 lost to a1's keeper; NULL-id row lost (never a keeper)
        assert got["s2"]["docs_in"] == 3 and got["s2"]["docs_kept"] == 1
        assert got["s2"]["w_in"] == 70 and got["s2"]["w_kept"] == 30
        assert got["s2"]["kept_ratio"] == pytest.approx(1 / 3)
        # attrition agrees row-for-row with the apply step itself
        kept_ids = {
            r["doc_id"] for r in dedup.distinct_by_fingerprint(df).collect()
        }
        by_src = {"s1": 0, "s2": 0}
        for did, _t, src, _w in rows:
            if did is not None and did in kept_ids:
                by_src[src] += 1
        assert by_src == {
            s: got[s]["docs_kept"] for s in by_src
        }

    def test_cluster_attrition(self, spark):
        # cluster {a1,b1,b2} -> rep a1; a2/b3 unclustered -> survive
        docs = spark.createDataFrame(
            [
                ("a1", "s1", 10), ("a2", "s1", 20),
                ("b1", "s2", 10), ("b2", "s2", 30), ("b3", "s2", 40),
            ],
            "doc_id string, source string, n_chars long",
        )
        cl = spark.createDataFrame(
            [("a1", "a1"), ("b1", "a1"), ("b2", "a1")], "id string, cluster_id string"
        )
        got = {
            r["source"]: r.asDict()
            for r in dedup.cluster_attrition(docs, cl, weight_col="n_chars").collect()
        }
        assert got["s1"]["docs_in"] == 2 and got["s1"]["docs_kept"] == 2
        assert got["s2"]["docs_in"] == 3 and got["s2"]["docs_kept"] == 1
        assert got["s2"]["w_in"] == 80 and got["s2"]["w_kept"] == 40
        assert got["s2"]["kept_ratio"] == pytest.approx(1 / 3)

    def test_minhash_near_dups(self, spark):
        df = docs_df(spark, DOCS)
        pairs = dedup.near_duplicates(df, threshold=0.5, num_hashes=32, bands=16)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        assert ("d1", "d4") in got and got[("d1", "d4")] == 1.0
        assert ("d1", "d2") in got and 0.5 <= got[("d1", "d2")] < 1.0
        assert all("d3" not in p and "d5" not in p for p in got)

    def test_jaccard_matches_python_oracle(self, spark):
        df = docs_df(spark, DOCS)
        cand = spark.createDataFrame([("d1", "d2")], "id_a string, id_b string")
        [r] = dedup.jaccard_pairs(df, cand, shingle_k=3).collect()

        def sh(s, k=3):
            t = s.split()
            return {" ".join(t[i : i + k]) for i in range(max(len(t) - k + 1, 1))}

        a, b = sh(DOCS[0][1]), sh(DOCS[1][1])
        assert r["jaccard"] == pytest.approx(len(a & b) / len(a | b), abs=1e-6)

    def test_simhash_close_for_near_dups(self, spark):
        df = docs_df(spark, DOCS)
        sigs = {
            r["doc_id"]: r["s"]
            for r in df.select("doc_id", dedup.simhash64(F.col("text")).alias("s")).collect()
        }
        assert sigs["d1"] == sigs["d4"]
        mask = (1 << 64) - 1
        ham = bin((sigs["d1"] ^ sigs["d2"]) & mask).count("1")
        ham_far = bin((sigs["d1"] ^ sigs["d3"]) & mask).count("1")
        assert ham < ham_far

    def test_simhash_candidates(self, spark):
        df = docs_df(spark, DOCS)
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in dedup.simhash_candidates(df).collect()}
        assert got[("d1", "d4")] == 0
        assert ("d1", "d2") in got

    def test_minhash_signature_matches_xxh64_oracle(self, spark):
        # independent pure-Python XXH64 twin (DuckDB lacks xxhash64) —
        # row-wise bit-identity on real corpus text
        from tests import xxh64_oracle as X

        d = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 40)
            .select("doc_id", "text")
            .union(spark.createDataFrame([(99999, None)], "doc_id long, text string"))
        )
        rows = d.select(
            "doc_id", "text", dedup.minhash_signature(F.col("text"), 8, 3).alias("sig")
        ).collect()
        assert len(rows) == 41
        for r in rows:
            # NULL text signs like "" (shingles() yields [""]), not NULL
            want = X.minhash_signature(r["text"] or "", 8, 3)
            assert r["sig"] is not None and list(r["sig"]) == want, r["doc_id"]

    def test_simhash_matches_xxh64_oracle(self, spark):
        from tests import xxh64_oracle as X

        d = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 40)
            .select("doc_id", "text")
        )
        rows = d.select("doc_id", "text", dedup.simhash64(F.col("text"), 2).alias("s")).collect()
        assert len(rows) == 40
        for r in rows:
            assert r["s"] == X.simhash64(r["text"], 2), r["doc_id"]

    def test_degenerate_bucket_bounded(self, spark):
        # 10k identical docs — the worst-case boilerplate bucket.  With the
        # pre-aggregation cap the job completes with per-group state bounded
        # by the cap, output restricted to the first cap ids, and truncation
        # flagged explicitly (no silent recall loss).
        n = 10_000
        df = spark.range(n).select(
            F.format_string("d%05d", F.col("id")).alias("doc_id"),
            F.lit("the exact same boilerplate text repeated everywhere").alias("text"),
        )
        [g] = dedup.exact_duplicates(df, max_ids=50).collect()
        assert g["n_docs"] == n and len(g["doc_ids"]) == 50 and g["truncated"]
        assert g["doc_ids"] == [f"d{i:05d}" for i in range(50)]

        cand = dedup.minhash_candidates(df, num_hashes=16, bands=4, max_bucket=20).collect()
        # pairs only among the first 20 ids → C(20,2); every band agrees
        assert len(cand) == 190
        assert all(r["truncated"] and r["n_bands"] == 4 for r in cand)

        sim = dedup.simhash_candidates(df, max_bucket=20).collect()
        assert len(sim) == 190
        assert all(r["truncated"] and r["hamming"] == 0 for r in sim)

    def test_degenerate_embedding_bucket_bounded(self, spark):
        from evalidate_spark.functions import similarity

        df = spark.range(1000).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(0.5), F.lit(-0.25)).alias("embedding"),
        )
        pairs = similarity.lsh_bucket_pairs(df, planes=4, max_bucket=10).collect()
        assert len(pairs) == 45  # C(10,2) among the first 10 ids
        assert all(r["truncated"] and r["cosine"] == pytest.approx(1.0) for r in pairs)
        ids = {i for r in pairs for i in (r["id_a"], r["id_b"])}
        assert ids == set(range(10))

    def test_duplicate_clusters_union_find_oracle(self, spark):
        import random

        rng = random.Random(7)
        n = 120
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}

        # independent union-find oracle
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        comp = {}
        for x in {v for e in edges for v in e}:
            comp.setdefault(find(x), []).append(x)
        want = {x: min(members) for members in comp.values() for x in members}
        assert got == want

    def test_duplicate_clusters_nonconvergence_raises(self, spark):
        # a 30-hop chain needs ~log2(30) alternating star rounds; one round
        # cannot reach the fixpoint → raise, never silently split
        chain = [(i, i + 1) for i in range(30)]
        pairs = spark.createDataFrame(chain, "id_a long, id_b long")
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.duplicate_clusters(pairs, max_iter=1)
        got = {r["id"]: r["cluster_id"] for r in
               dedup.duplicate_clusters(pairs, max_iter=40).collect()}
        assert set(got.values()) == {0} and len(got) == 31

    def test_duplicate_clusters_path_graph_log_rounds(self, spark):
        """Worst-case diameter: a 10k-node path converges in O(log n)
        alternating large-star/small-star rounds (observed ~log2 n + 2),
        not O(diameter) like min-label propagation."""
        import math

        n = 10_000
        chain = spark.range(0, n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
        st = {}
        res = dedup.duplicate_clusters(chain, max_iter=30, stats=st)
        assert st["rounds"] <= 2 * math.ceil(math.log2(n))
        agg = res.groupBy("cluster_id").count().collect()
        assert len(agg) == 1 and agg[0]["cluster_id"] == 0 and agg[0]["count"] == n

    def test_duplicate_clusters_self_pairs_and_singletons(self, spark):
        # self-pairs keep the node but create no component
        pairs = spark.createDataFrame(
            [(5, 5), (1, 2)], "id_a long, id_b long"
        )
        got = {r["id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
        assert got == {5: 5, 1: 1, 2: 1}

    def test_apply_dedup_clusters_keeps_canonical(self, spark):
        df = docs_df(spark, DOCS)
        pairs = spark.createDataFrame(
            [("d1", "d4"), ("d4", "d2")], "id_a string, id_b string"
        )
        clusters = dedup.duplicate_clusters(pairs)
        kept = {r["doc_id"] for r in dedup.apply_dedup_clusters(df, clusters).collect()}
        # d1 < d2 < d4 all one cluster → d1 canonical; d3/d5 untouched
        assert kept == {"d1", "d3", "d5"}

    def test_truncated_false_for_small_buckets(self, spark):
        df = docs_df(spark, DOCS)
        cand = dedup.minhash_candidates(df, num_hashes=32, bands=16).collect()
        assert cand and all(not r["truncated"] for r in cand)


def test_top_ngrams_python_oracle(spark):
    rows = [
        ("a", "the cat sat"),
        ("b", "the cat ran"),
        ("c", "the cat sat the cat sat"),
        ("d", "solo"),
    ]
    df = docs_df(spark, rows)
    got = [tuple(r) for r in text.top_ngrams(df, n=2, k=5).collect()]

    from collections import Counter

    occ, nd = Counter(), Counter()
    for _, t in rows:
        toks = t.split()
        grams = [" ".join(toks[i:i + 2]) for i in range(max(len(toks) - 1, 1))]
        occ.update(grams)
        nd.update(set(grams))
    want = sorted(occ, key=lambda g: (-occ[g], g))[:5]
    assert got == [(g, nd[g], occ[g]) for g in want]


def test_minhash_md5_signature_matches_python_oracle(spark):
    """md5-family ``minhash_state`` signatures ≡ pure-Python hashlib
    oracle (same shingling, same '%d:%s' keying, 16-hex-prefix string
    min)."""
    df = docs_df(spark, DOCS)
    got = {
        r["doc_id"]: list(r["sig"])
        for r in dedup.minhash_state(df, "u0", num_hashes=8, shingle_k=3, hash_fn="md5").collect()
    }
    assert len(got) == len(DOCS)
    for did, text_ in DOCS:
        assert got[did] == md5_oracle.minhash_signature_md5(text_, 8, 3), did


def test_simhash_md5_signature_matches_python_oracle(spark):
    """md5-keyed SimHash ≡ pure-Python hashlib oracle on the DOCS rows and
    the md5 MinHash contract corners (NULL, empty, whitespace-only,
    below-k, duplicate shingles, unicode)."""
    rows = DOCS + [("c%d" % i, t) for i, t in enumerate(md5_oracle.CORNERS)]
    got = {
        r["doc_id"]: r["s"]
        for r in docs_df(spark, rows).select(
            "doc_id", dedup.simhash64_md5(F.col("text"), 2).alias("s")
        ).collect()
    }
    for did, text_ in rows:
        assert got[did] == md5_oracle.simhash64_md5(text_, 2), did
    # NULL text signs like "" (one '' shingle), not NULL
    assert got["c0"] == got["c1"] is not None


def test_simhash_candidates_md5_finds_dups(spark):
    df = docs_df(spark, DOCS)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_candidates_md5(df).collect()
    }
    # exact dup pair has Hamming 0; d3/d5 (unrelated noise docs) pair
    # with nothing
    assert pairs.get(("d1", "d4")) == 0
    assert all("d3" not in p and "d5" not in p for p in pairs)


def test_minhash_candidates_md5_finds_dups(spark):
    df = docs_df(spark, DOCS)
    pairs = {
        (r["id_a"], r["id_b"]): r["n_bands"]
        for r in dedup.minhash_candidates_md5(df, num_hashes=16, bands=8).collect()
    }
    # exact dup pair shares EVERY band; unrelated d3/d5 pair with nothing
    assert pairs.get(("d1", "d4")) == 8
    assert all("d3" not in p and "d5" not in p for p in pairs)


class TestBPE:
    def test_learn_bpe_hand_checked(self):
        from evalidate_spark.functions.bpe import learn_bpe

        # 'ab' is the most frequent pair (weight 5); then 'abc' (weight 3)
        merges = learn_bpe({"abc": 3, "abd": 2}, num_merges=2)
        assert merges == [("a", "b"), ("ab", "c")]

    def test_learn_bpe_tie_breaks_lexicographically(self):
        from evalidate_spark.functions.bpe import learn_bpe

        # pairs (x,y) and (y,z) both weight 1 → smallest pair wins
        assert learn_bpe({"xy": 1, "yz": 1}, num_merges=1) == [("x", "y")]

    def test_encode_greedy_reference(self):
        from evalidate_spark.functions.bpe import encode_greedy

        vocab = frozenset({"a", "b", "c", "ab", "abc"})
        assert encode_greedy("abcab", vocab, 3) == ["abc", "ab"]
        assert encode_greedy("zzz", vocab, 3) == ["z", "z", "z"]  # OOV chars
        assert encode_greedy("ababc", vocab, 3) == ["ab", "abc"]

    def test_token_count_vocab_udf_matches_reference(self, spark):
        from evalidate_spark.functions.bpe import encode_greedy, token_counts_bpe

        vocab = ["t", "h", "e", "q", "u", "i", "c", "k", "th", "the", "qu", "ck"]
        rows = [("d1", "the quick the"), ("d2", ""), ("d3", None), ("d4", "zzz the")]
        df = docs_df(spark, rows)
        got = {
            r["doc_id"]: r["n_tokens_bpe"]
            for r in token_counts_bpe(df, vocab).collect()
        }
        vs, ml = frozenset(vocab), 3
        for did, t in rows:
            want = None if t is None else sum(
                len(encode_greedy(w, vs, ml)) for w in t.split()
            )
            assert got[did] == want, (did, got[did], want)

    def test_learn_apply_end_to_end_monotone(self, spark):
        """Learning from the real documents table: more merges → fewer or
        equal tokens; counts bounded by [n_words, n_chars]."""
        from evalidate_spark.functions import bpe

        d = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("text").isNotNull())
            .limit(50)
            .cache()
        )
        wc = [(r["w"], r["n"]) for r in bpe.word_counts(d).collect()]
        v_small = bpe.vocab_from_merges(wc, bpe.learn_bpe(wc, 5))
        v_big = bpe.vocab_from_merges(wc, bpe.learn_bpe(wc, 100))
        small = {r["doc_id"]: r["n_tokens_bpe"] for r in bpe.token_counts_bpe(d, v_small).collect()}
        big = {r["doc_id"]: r["n_tokens_bpe"] for r in bpe.token_counts_bpe(d, v_big).collect()}
        bounds = {
            r["doc_id"]: (r["nw"], r["nc"])
            for r in d.select(
                "doc_id",
                F.size(F.split("text", r"\s+")).alias("nw"),
                F.length(F.regexp_replace("text", r"\s+", "")).alias("nc"),
            ).collect()
        }
        assert small and set(small) == set(big)
        for k in small:
            nw, nc = bounds[k]
            assert big[k] <= small[k] <= nc
            assert big[k] >= nw  # at least one piece per word


class TestHygiene:
    def test_redact_and_counts(self, spark):
        from evalidate_spark.functions.text import pii_counts, redact_pii

        df = spark.createDataFrame(
            [
                ("a", "mail me at bob@x.io or visit https://ex.io/p?u=a@b.cd now"),
                ("b", "call +4915512345678 or +123456789 plain text"),
                ("c", "nothing here"),
            ],
            "id string, t string",
        )
        rows = {
            r["id"]: r
            for r in df.select(
                "id", pii_counts(F.col("t")).alias("c"), redact_pii(F.col("t")).alias("r")
            ).collect()
        }
        # the URL swallows its embedded a@b.cd; the standalone email remains
        assert rows["a"]["c"]["n_url"] == 1 and rows["a"]["c"]["n_email"] == 2
        assert rows["a"]["r"] == "mail me at <EMAIL> or visit <URL> now"
        assert rows["b"]["c"]["n_phone"] == 2
        assert rows["b"]["r"] == "call <PHONE> or <PHONE> plain text"
        assert rows["c"]["r"] == "nothing here"

    def test_repetition_ratio(self, spark):
        from evalidate_spark.functions.text import repetition_ratio_bp

        df = spark.createDataFrame(
            [("uniq", "a b c d e"), ("rep", "x y x y x y x y"), ("one", "solo")],
            "id string, t string",
        )
        got = {
            r["id"]: r["bp"]
            for r in df.select("id", repetition_ratio_bp(F.col("t")).alias("bp")).collect()
        }
        assert got["uniq"] == 0
        # 7 bigrams, 2 distinct -> floor((1 - 2/7) * 10000) = 7142
        assert got["rep"] == 7142
        assert got["one"] == 0

    def test_contamination_broadcast_no_corpus_shuffle(self, spark):
        from evalidate_spark.functions.dedup import contamination

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over dogs"),
                (2, "the quick brown fox sleeps all day"),
                (3, "completely different words entirely here now"),
                (10, "the quick brown fox jumps over dogs"),  # bench twin of 1
            ],
            "doc_id long, text string",
        )
        bench = docs.filter("doc_id = 10")
        got = {
            (r["doc_id"], r["bench_id"]): r["n_shared"]
            for r in contamination(docs, bench, min_shared=2).collect()
        }
        assert got[(1, 10)] == 5  # identical text: all 5 trigrams shared
        assert got[(2, 10)] == 2  # shared prefix trigrams
        assert (3, 10) not in got
        # plan: benchmark side broadcast, corpus side never hash-shuffled
        # before the join (only the tiny pair-count agg exchanges)
        plan = (
            contamination(docs, bench, min_shared=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, plan


class TestNullTextHandling:
    """NULL text must never fabricate duplicate/quality signals (review
    findings: NULL docs shared constant md5('')/seed band hashes and
    scored rep_bp=0)."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(1, None), (2, None), (3, ""), (4, "real text here body"),
             (5, "real text here body")],
            "doc_id long, text string",
        )

    def test_minhash_paths_drop_null_text(self, spark):
        from evalidate_spark.functions import dedup

        df = self._df(spark)
        for pairs in (
            dedup.minhash_candidates(df, num_hashes=16, bands=8),
            dedup.minhash_candidates_md5(df),
            dedup.simhash_candidates(df),
        ):
            got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
            assert got == {(4, 5)}, got

    def test_lsh_paths_drop_null_ids(self, spark):
        # NULL ids sort first in a bucket: kept, they took the max_bucket
        # cap slots and hid the real (1, 2) pair
        from evalidate_spark.functions import dedup

        body = "real text here body"
        df = spark.createDataFrame(
            [(1, body), (2, body), (None, body), (None, body)],
            "doc_id long, text string",
        )
        for pairs in (
            dedup.minhash_candidates(df, num_hashes=16, bands=8, max_bucket=3),
            dedup.minhash_candidates_md5(df, max_bucket=3),
            dedup.simhash_candidates(df, max_bucket=3),
            dedup.simhash_candidates_md5(df, max_bucket=3),
        ):
            rows = pairs.collect()
            assert [(r["id_a"], r["id_b"], r["truncated"]) for r in rows] == [(1, 2, False)]

    @pytest.mark.parametrize("k", [0, -1])
    def test_lsh_heads_reject_shingle_k_below_one(self, spark, k):
        # k = 0 used to sign every doc with one constant: all-pairs junk
        from evalidate_spark.functions import dedup

        df = self._df(spark)
        for call in (
            lambda: dedup.minhash_candidates(df, num_hashes=16, bands=8, shingle_k=k),
            lambda: dedup.minhash_candidates_md5(df, shingle_k=k),
            lambda: dedup.lsh_band_stats(df, shingle_k=k),
            lambda: dedup.minhash_state(df, "u0", shingle_k=k),
            lambda: dedup.minhash_state(df, "u0", shingle_k=k, hash_fn="md5"),
            lambda: dedup.simhash_candidates(df, shingle_k=k),
            lambda: dedup.simhash_candidates_md5(df, shingle_k=k),
        ):
            with pytest.raises(ValueError, match="shingle_k"):
                call()

    def test_fingerprint_null_vs_empty_distinct(self, spark):
        from evalidate_spark.functions import dedup
        from evalidate_spark.functions.text import fingerprint

        df = self._df(spark)
        fps = {r["doc_id"]: r["fp"] for r in df.select(
            "doc_id", fingerprint(F.col("text")).alias("fp")).collect()}
        assert fps[1] is None and fps[3] is not None  # NULL ≠ md5('')
        kept = sorted(r["doc_id"] for r in
                      dedup.distinct_by_fingerprint(df).select("doc_id").collect())
        # BOTH NULL-text docs pass through (a missing identity is a
        # presence problem, not duplication), the empty doc survives,
        # and the genuine dup pair collapses to its min id
        assert kept == [1, 2, 3, 4]
        # and NULL-text docs never form an exact-dup group either
        groups = dedup.exact_duplicates(df).collect()
        assert all(r["fingerprint"] is not None for r in groups)

    def test_repetition_ratio_null_propagates(self, spark):
        from evalidate_spark.functions.text import repetition_ratio_bp

        got = {r["doc_id"]: r["bp"] for r in self._df(spark).select(
            "doc_id", repetition_ratio_bp(F.col("text")).alias("bp")).collect()}
        assert got[1] is None and got[3] == 0 and got[4] == 0


class TestChunking:
    def test_chunk_semantics(self, spark):
        from evalidate_spark.functions.text import chunk_documents

        df = spark.createDataFrame(
            [(1, "t0 t1 t2 t3 t4 t5 t6"),  # 7 tokens
             (2, "a b"), (3, ""), (4, None)],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["chunk_ix"]): (r["n_tokens"], r["chunk"])
            for r in chunk_documents(df, chunk_tokens=3, stride=2).collect()
        }
        # starts 0,2,4 — generation stops with the first window reaching
        # the last token, so every token is covered with no extra tail
        assert got[(1, 0)] == (3, "t0 t1 t2")
        assert got[(1, 1)] == (3, "t2 t3 t4")
        assert got[(1, 2)] == (3, "t4 t5 t6")
        assert (1, 3) not in got
        assert got[(2, 0)] == (2, "a b")
        # when (n - chunk) isn't a stride multiple the tail chunk is short
        short = {
            r["chunk_ix"]: (r["n_tokens"], r["chunk"])
            for r in chunk_documents(
                spark.createDataFrame(
                    [(9, "t0 t1 t2 t3 t4 t5 t6 t7")], "doc_id long, text string"
                ),
                chunk_tokens=3,
                stride=2,
            ).collect()
        }
        assert short[3] == (2, "t6 t7")
        assert not any(d in (3, 4) for d, _ in got)  # empty/NULL: no chunks
        # disjoint default covers every token exactly once
        dis = chunk_documents(df.filter("doc_id = 1"), chunk_tokens=3).collect()
        assert sorted(r["chunk_ix"] for r in dis) == [0, 1, 2]
        assert sum(r["n_tokens"] for r in dis) == 7

    def test_chunk_validation(self, spark):
        import pytest as _pytest
        from evalidate_spark.functions.text import chunk_documents

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=0)
        with _pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, stride=5)


class TestLmScores:
    def test_matches_pure_python_model(self, spark):
        import math
        from collections import Counter

        docs = [
            (1, "the cat sat"),
            (2, "the cat ran"),
            (3, "the dog sat on the cat"),
            (4, "solo"),          # < 2 tokens → no score
            (5, None),            # NULL text → no score
            (None, "the cat sat"),  # NULL id → no score
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_bigrams"], r["nll_milli"])
            for r in text.lm_scores(df, alpha=0.1).collect()
        }
        # pure-Python twin: prefix-count conditionals, add-0.1 smoothing,
        # per-term integer milli-nat floor, floored integer mean
        pairs = {}
        for i, t in docs:
            tk = (t or "").split()
            if i is None or t is None or len(tk) < 2:
                continue
            pairs[i] = list(zip(tk, tk[1:]))
        cb = Counter(p for ps in pairs.values() for p in ps)
        cp = Counter(p[0] for ps in pairs.values() for p in ps)
        v = len({p[1] for ps in pairs.values() for p in ps})
        want = {}
        for i, ps in pairs.items():
            ms = [
                math.floor(-math.log((cb[p] + 0.1) / (cp[p[0]] + 0.1 * v)) * 1000)
                for p in ps
            ]
            want[i] = (len(ms), math.floor(sum(ms) / len(ms)))
        assert got == want and set(got) == {1, 2, 3}
        # docs 1 and 2 are symmetric (both end in a singleton bigram with
        # the same counts everywhere) → provably identical scores
        assert got[1] == got[2]

    def test_deterministic_across_layouts(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, text.lm_scores(df).collect()))
        b = sorted(map(tuple, text.lm_scores(df.repartition(13)).collect()))
        assert a == b and len(a) > 400


class TestBoilerplateRemoval:
    def _corpus(self, spark):
        cookie = "ACCEPT COOKIES TO CONTINUE"
        footer = "(c) example.com all rights reserved"
        rows = [
            (1, f"{cookie}\nunique one\n\n{footer}"),
            (2, f"{cookie}\nunique two\n{footer}"),
            (3, f"{cookie}\nunique three\n{footer}"),
            (4, f"unique four\n{footer}"),
            (5, "all original text\nno chrome here"),
            (6, None),
            (7, ""),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string"), cookie, footer

    def test_boilerplate_lines_removed_rest_reconstructed(self, spark):
        from evalidate_spark.functions import text as T

        df, cookie, footer = self._corpus(spark)
        # 6 non-null docs, frac 0.5 -> threshold 3: cookie (3 docs) and
        # footer (4 docs) are boilerplate; nothing else reaches 3
        got = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in T.remove_frequent_segments(df, delim="\n", min_doc_frac=0.5).collect()
        }
        assert got[1] == ("unique one\n", 2)  # empty line preserved, order kept
        assert got[2] == ("unique two", 2)
        assert got[4] == ("unique four", 1)
        # untouched doc reconstructs byte-for-byte
        assert got[5] == ("all original text\nno chrome here", 0)
        assert got[6] == (None, None)  # missing != cleaned-to-empty
        assert got[7] == ("", 0)

    def test_threshold_boundary_and_sorted_dictionary(self, spark):
        from evalidate_spark.functions import text as T

        df, cookie, footer = self._corpus(spark)
        # threshold ceil(0.6*6)=4: footer (4 docs) in, cookie (3 docs) out
        assert T.frequent_segments(df, "\n", 0.6) == [footer]
        segs = T.frequent_segments(df, "\n", 0.5)
        assert segs == sorted(segs) and set(segs) == {cookie, footer}

    def test_max_frequent_overflow_raises(self, spark):
        from evalidate_spark.functions import text as T

        df, _, _ = self._corpus(spark)
        with pytest.raises(ValueError, match="max_frequent"):
            T.remove_frequent_segments(df, delim="\n", min_doc_frac=0.01, max_frequent=1)


class TestCorpusReport:
    def test_metrics_against_python(self, spark):
        from evalidate_spark.functions import text as T

        rows = [
            (1, "hello world hello"),
            (2, "hello world hello"),          # exact dup of 1
            (3, None),
            (4, ""),
            (5, "mail me a@b.co now"),
            (6, "x x x x"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["metric"]: r["value"] for r in T.corpus_report(df, exact_distinct=True).collect()}
        assert got["docs_total"] == 6
        assert got["docs_null_text"] == 1
        assert got["docs_empty_text"] == 1
        # fingerprints: dup pair collapses; '' counts as its own fingerprint
        assert got["docs_distinct_fingerprint"] == 4
        assert got["tokens_total"] == 3 + 3 + 0 + 4 + 4
        assert got["chars_total"] == 17 + 17 + 0 + 18 + 7
        assert got["docs_with_pii"] == 1
        # rep_bp: doc6 bigrams ('x x' x3) -> 1 distinct of 3 -> floor(2/3*1e4)
        assert got["rep_bp_total"] == 0 + 0 + 0 + 0 + 6666
        # HLL mode returns the same schema and plausible counts
        approx = {r["metric"]: r["value"] for r in T.corpus_report(df).collect()}
        assert set(approx) == set(got) and approx["docs_total"] == 6


class TestNormalizeText:
    def test_unicode_controls_whitespace_vs_duckdb(self, spark):
        import duckdb

        from evalidate_spark.functions.text import normalize_text

        rows = [
            (1, "Café  du   Marché"),   # decomposed -> NFC composed
            (2, "tabs\tand\nnewlines\r\nhere"),
            (3, "bell\x07and\x00nul stripped"),
            (4, " nbsp is content "),      # NOT collapsed/trimmed
            (5, "  lead trail  "),
            (6, ""),
            (7, None),
            (8, "ligature ﬁne stays under NFC"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["n"]
            for r in df.select(
                "doc_id", normalize_text(F.col("text")).alias("n")
            ).collect()
        }
        assert got[1] == "Café du Marché"
        assert got[2] == "tabs and newlines here"
        assert got[3] == "bellandnul stripped"
        assert got[4] == " nbsp is content "  # NBSP is content: kept, not trimmed
        assert got[5] == "lead trail" and got[6] == "" and got[7] is None

        # DuckDB replays the whole op (the driver oracle's expression)
        con = duckdb.connect()
        con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        oracle = {
            d: n
            for d, n in con.execute(r"""
                SELECT doc_id, CASE WHEN text IS NULL THEN NULL ELSE
                  -- regex edge-trim, NOT trim(): DuckDB's trim also strips
                  -- NBSP, which this op deliberately treats as content
                  regexp_replace(regexp_replace(regexp_replace(nfc_normalize(text),
                    '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'),
                    '[ \t\r\n\x0B\x0C]+', ' ', 'g'),
                    '^ | $', '', 'g') END
                FROM t""").fetchall()
        }
        assert oracle == got

        with pytest.raises(ValueError, match="form"):
            normalize_text(F.col("text"), form="NFX")


class TestCorpusDiff:
    def test_all_statuses_and_null_contracts(self, spark):
        from evalidate_spark.functions import dedup

        old = spark.createDataFrame(
            [
                (1, "same text"),
                (2, "will change"),
                (3, "going away"),
                (4, None),          # NULL both sides -> unchanged
                (5, "becomes null"),
                (None, "no identity"),  # NULL id excluded
            ],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (1, "same  text"),  # whitespace-normalised: unchanged
                (2, "has changed"),
                (4, None),
                (5, None),          # text -> NULL is a change
                (6, "brand new"),
                (None, "still no identity"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["status"] for r in dedup.corpus_diff(old, new).collect()}
        assert got == {
            1: "unchanged",
            2: "changed",
            3: "removed",
            4: "unchanged",
            5: "changed",
            6: "added",
        }


class TestIncrementalDedup:
    def test_batch_vs_index_and_first_batch(self, spark):
        from evalidate_spark.functions import dedup

        corpus = spark.createDataFrame(
            [(1, "old news today"), (2, "evergreen content")],
            "doc_id long, text string",
        )
        # day-0 ingestion: no index yet
        u0, idx0 = dedup.incremental_dedup(corpus, None)
        assert {r["doc_id"] for r in u0.collect()} == {1, 2}
        assert idx0.count() == 2

        batch = spark.createDataFrame(
            [
                (10, "old news today"),      # hits the index -> dropped
                (11, "fresh take"),
                (12, "fresh take"),          # within-batch dup of 11
                (13, None),                  # NULL text passes through
            ],
            "doc_id long, text string",
        )
        u1, idx1 = dedup.incremental_dedup(batch, idx0)
        assert {r["doc_id"] for r in u1.collect()} == {11, 13}
        # delta holds only the surviving fingerprints (no NULLs)
        assert idx1.count() == 1
        # appending the delta ingests the NEXT batch correctly
        nxt = spark.createDataFrame(
            [(20, "fresh take"), (21, "brand new")], "doc_id long, text string"
        )
        u2, _ = dedup.incremental_dedup(nxt, idx0.unionByName(idx1))
        assert {r["doc_id"] for r in u2.collect()} == {21}


def test_shingles_variants_bit_identical(spark):
    # the fast let-bound default and the udf_safe zip_with form must agree
    # on every edge: normal, short, empty, whitespace-only, NULL text
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, ""), (4, "   "), (5, None), (6, "one")],
        "doc_id long, text string",
    )
    rows = df.select(
        text.shingles(F.col("text"), 3).alias("s"),
        text.shingles(F.col("text"), 3, udf_safe=True).alias("s2"),
        text.shingles(F.col("text"), 2).alias("t"),
        text.shingles(F.col("text"), 2, udf_safe=True).alias("t2"),
    ).collect()
    for r in rows:
        assert list(r.s) == list(r.s2)
        assert list(r.t) == list(r.t2)


class TestTfidf:
    def test_hand_computed(self, spark):
        import math

        from evalidate_spark.functions import text as tx

        docs = spark.createDataFrame(
            [
                (1, "apple banana apple"),
                (2, "banana cherry"),
                (3, "cherry cherry durian"),
                (4, None),  # NULL text: no rows, excluded from n_docs
            ],
            "doc_id int, text string",
        )
        got = {
            (r["doc_id"], r["term"]): r
            for r in tx.tfidf_top_terms(docs, k=2).collect()
        }
        n = 3  # live docs
        # doc 1: apple tf=2 df=1 → 2·ln3 ; banana tf=1 df=2 → ln1.5
        assert got[(1, "apple")]["tf"] == 2
        assert got[(1, "apple")]["df_docs"] == 1
        assert got[(1, "apple")]["tfidf"] == round(2 * math.log(n / 1), 6)
        assert got[(1, "banana")]["tfidf"] == round(math.log(n / 2), 6)
        # doc 3: cherry tf=2 df=2, durian tf=1 df=1
        assert got[(3, "cherry")]["tfidf"] == round(2 * math.log(n / 2), 6)
        assert got[(3, "durian")]["tfidf"] == round(math.log(n / 1), 6)
        assert 4 not in {d for d, _ in got}
        assert len(got) == 6  # k=2 per live doc

    def test_bm25_hand_computed(self, spark):
        import math

        from evalidate_spark.functions import text as tx

        docs = spark.createDataFrame(
            [
                (1, "apple banana apple"),
                (2, "banana cherry"),
                (3, "cherry cherry durian"),
                (4, None),  # NULL text excluded from N and avgdl
            ],
            "doc_id int, text string",
        )
        out = {
            r["doc_id"]: r
            for r in tx.bm25_topk(docs, ["apple", "cherry"], k=10).collect()
        }
        n, avgdl = 3, (3 + 2 + 3) / 3.0
        k1, b = 1.2, 0.75

        def s(tf, dfreq, dl):
            idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
            return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

        # doc 1: apple tf=2 df=1; doc 2: cherry tf=1 df=2; doc 3: tf=2 df=2
        assert out[1]["matched"] == 1
        assert out[1]["bm25"] == round(s(2, 1, 3), 6)
        assert out[2]["bm25"] == round(s(1, 2, 2), 6)
        assert out[3]["bm25"] == round(s(2, 2, 3), 6)
        assert 4 not in out
        # ranking: doc1 (rare term, tf 2) must outrank both cherry docs
        assert out[1]["bm25"] > out[3]["bm25"] > out[2]["bm25"]

    def test_bm25_no_match_and_validation(self, spark):
        import pytest as _pytest

        from evalidate_spark.functions import text as tx

        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma")], "doc_id int, text string"
        )
        assert tx.bm25_topk(docs, ["zzz"], k=5).count() == 0
        empty = docs.filter("doc_id < 0")
        out = tx.bm25_topk(empty, ["alpha"], k=5)
        assert out.columns == ["doc_id", "matched", "bm25"]
        assert out.count() == 0
        with _pytest.raises(ValueError):
            tx.bm25_topk(docs, [], k=5)
        with _pytest.raises(ValueError):
            tx.bm25_topk(docs, ["Apple", "apple"], k=5)

    def test_topk_cut_and_tiebreak(self, spark):
        from evalidate_spark.functions import text as tx

        docs = spark.createDataFrame(
            [(1, "z y x w v"), (2, "v w")], "doc_id int, text string"
        )
        out = tx.tfidf_top_terms(docs, k=3).collect()
        d1 = sorted(r["term"] for r in out if r["doc_id"] == 1)
        # doc1 terms x/y/z are unique to it (equal scores) → term-asc
        # tiebreak keeps the 3 alphabetically-first of the tied block
        assert d1 == ["x", "y", "z"]


def test_gopher_rules_each_rule_fires(spark):
    from evalidate_spark.functions.text import gopher_rules

    prose = ("the cat and the dog have been to the house of that man "
             "with some be to of and words repeated here again ") * 3
    docs = [
        (1, prose),                                        # passes
        (2, "short text"),                                 # word_count
        (3, ("a " * 60) + "the be"),                       # mean_word_len low
        (4, prose + " ##########"),                        # symbol_ratio
        (5, "\n".join("- item the be" for _ in range(10))),  # bullet_lines
        (6, "\n".join("the be thing..." for _ in range(10))),  # ellipsis_lines
        (7, ("123 456 789 " * 20) + "the be"),             # alpha_words
        (8, "zz " * 60),                                   # stopwords
        (9, None),                                         # no_text
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_rules(df, min_words=5).collect()}
    assert got[1]["passes"] and got[1]["fails"] == ""
    assert "word_count" in got[2]["fails"]
    assert "mean_word_len" in got[3]["fails"]
    assert "symbol_ratio" in got[4]["fails"]
    assert "bullet_lines" in got[5]["fails"]
    assert "ellipsis_lines" in got[6]["fails"]
    assert "alpha_words" in got[7]["fails"]
    assert "stopwords" in got[8]["fails"]
    assert got[9]["fails"] == "no_text" and got[9]["passes"] is False
    assert got[9]["n_words"] is None


def test_c4_filters_contract(spark):
    from evalidate_spark.functions.text import c4_filters

    docs = [
        (1, "This is a good sentence.\nshort\nAnother fine line here!\nno punct line at all"),
        (2, "Enable javascript to view this.\nA real sentence stays here."),
        (3, "Some text with lorem ipsum inside."),     # page drop
        (4, "var x = { a: 1 };\nGood line otherwise."),  # page drop ({)
        (5, None),                                      # NULL text
        (6, "everything here lacks punctuation"),       # nothing kept
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_filters(df).collect()}
    assert got[1]["keep_doc"] and got[1]["n_kept_lines"] == 2
    assert got[1]["cleaned"] == "This is a good sentence.\nAnother fine line here!"
    assert got[2]["keep_doc"] and got[2]["cleaned"] == "A real sentence stays here."
    assert got[3]["keep_doc"] is False and got[3]["cleaned"] is None
    assert got[4]["keep_doc"] is False and got[4]["n_kept_lines"] is None
    assert got[5]["keep_doc"] is False and got[5]["n_lines"] is None
    assert got[6]["keep_doc"] is False and got[6]["cleaned"] == ""


class TestMinHashState:
    """Cross-increment near-dup state: signatures stored per ingest
    increment, a new batch deduped against history without re-reading
    historical text."""

    def _states(self, spark, hash_fn="xxhash64"):
        hist = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely different content about spark engines"),
                (None, "no identity, excluded from state"),
                (3, None),  # NULL text excluded
            ],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog"),  # dup of 1
                (11, "an entirely novel document about volcanoes"),
                (1, "the quick brown fox jumps over the lazy dog"),   # re-ingest
                (12, None),
                (None, "still no identity"),
            ],
            "doc_id long, text string",
        )
        s_old = dedup.minhash_state(hist, "u0", num_hashes=16, hash_fn=hash_fn)
        s_new = dedup.minhash_state(new, "u1", num_hashes=16, hash_fn=hash_fn)
        return new, s_old, s_new

    @pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
    def test_exact_copy_matches_full_signature(self, spark, hash_fn):
        new, s_old, s_new = self._states(spark, hash_fn)
        m = {
            (r["new_id"], r["old_id"]): r
            for r in dedup.dedup_against_state(
                s_new, s_old, bands=8, num_hashes=16
            ).collect()
        }
        # verbatim copy: every slot matches -> 10000 bp, all 8 bands
        assert m[(10, 1)]["jacc_bp"] == 10000
        assert m[(10, 1)]["n_bands"] == 8
        assert m[(10, 1)]["old_increment"] == "u0"
        assert m[(10, 1)]["truncated"] is False
        # re-ingested same id IS reported
        assert m[(1, 1)]["jacc_bp"] == 10000
        # novel doc matches nothing
        assert not any(k[0] == 11 for k in m)

    def test_state_excludes_null_rows(self, spark):
        _, s_old, _ = self._states(spark)
        rows = s_old.collect()
        assert {r["doc_id"] for r in rows} == {1, 2}
        assert all(r["increment"] == "u0" for r in rows)
        assert all(len(r["sig"]) == 16 for r in rows)

    def test_drop_history_dups(self, spark):
        new, s_old, s_new = self._states(spark)
        matches = dedup.dedup_against_state(s_new, s_old, bands=8, num_hashes=16)
        kept = dedup.drop_history_dups(new, matches, threshold_bp=8000)
        got = {r["doc_id"] for r in kept.collect()}
        # dups of history dropped; novel, NULL-text, NULL-id pass through
        assert got == {11, 12, None}

    def test_bands_must_divide(self, spark):
        _, s_old, s_new = self._states(spark)
        with pytest.raises(ValueError, match="divide"):
            dedup.dedup_against_state(s_new, s_old, bands=5, num_hashes=16)

    @pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
    def test_num_hashes_mismatch_fails_query(self, spark, hash_fn):
        # 16-slot states queried as 64 slots: every band would hash an
        # empty or misaligned slice and unrelated docs would all match
        _, s_old, s_new = self._states(spark, hash_fn)
        q = dedup.dedup_against_state(s_new, s_old, bands=16, num_hashes=64)
        with pytest.raises(Exception, match="sig has 16 slots, num_hashes is 64"):
            q.collect()

    def test_mixed_hash_families_rejected_before_any_job(self, spark):
        # an md5 state never shares a bucket with an xxhash64 one
        _, s_old, _ = self._states(spark, "xxhash64")
        _, _, s_new = self._states(spark, "md5")
        sc = spark.sparkContext
        sc.setJobGroup("mixed-families", "mixed hash families")
        try:
            with pytest.raises(ValueError, match="sig types differ"):
                dedup.dedup_against_state(s_new, s_old, bands=8, num_hashes=16)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("mixed-families") == []


class TestLshRecallReport:
    """Dedup QA: LSH candidate recall/precision vs exact ssjoin truth."""

    def _corpus(self, spark):
        uniq = [
            (i, f"document number {i} about topic {i * 7} with words "
                f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
            for i in range(40)
        ]
        dups = [(100 + i, uniq[i][1]) for i in range(6)]  # 6 exact copies
        return spark.createDataFrame(uniq + dups, "doc_id long, text string")

    @pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
    def test_exact_dups_full_recall(self, spark, hash_fn):
        d = self._corpus(spark)
        [r] = dedup.lsh_recall_report(
            d, threshold=0.8, num_hashes=16, bands=8, hash_fn=hash_fn
        ).collect()
        # exact copies share every band -> all 6 truth pairs are caught
        assert r["n_true_pairs"] == 6
        assert r["n_hit"] == 6 and r["recall_bp"] == 10000
        assert r["n_candidate_pairs"] >= 6
        assert 0 < r["precision_bp"] <= 10000

    def test_no_dups_gives_null_recall(self, spark):
        d = spark.createDataFrame(
            [(i, f"totally unique text {i} {i*3} {i*11} {i*13} {i*17}")
             for i in range(20)],
            "doc_id long, text string",
        )
        [r] = dedup.lsh_recall_report(d, num_hashes=16, bands=8).collect()
        assert r["n_true_pairs"] == 0 and r["recall_bp"] is None
        if r["n_candidate_pairs"] == 0:
            assert r["precision_bp"] is None

    def test_sample_and_bad_args(self, spark):
        d = self._corpus(spark)
        [full] = dedup.lsh_recall_report(d, num_hashes=16, bands=8).collect()
        [half] = dedup.lsh_recall_report(
            d, num_hashes=16, bands=8, sample_fraction=0.5
        ).collect()
        # sampled probe sees a subset of the truth pairs
        assert half["n_true_pairs"] <= full["n_true_pairs"]
        with pytest.raises(ValueError, match="hash_fn"):
            dedup.lsh_recall_report(d, hash_fn="sha1")
