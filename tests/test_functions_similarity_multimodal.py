"""Similarity search (brute-force vs numpy oracle, IVF/LSH recall) and
multimodal mapInPandas plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from evalidate_spark.functions import multimodal, similarity


def embed_df(spark, n=40, d=8, seed=7, id_col="vec_id"):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, d)).astype(float)
    rows = [(int(i), [float(v) for v in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, f"{id_col} long, embedding array<double>"), vecs


class TestSimilarity:
    def test_cosine_topk_matches_numpy(self, spark):
        corpus, vecs = embed_df(spark, n=40)
        probes, pvecs = embed_df(spark, n=3, seed=11, id_col="query_id")
        got = similarity.cosine_topk(corpus, probes, k=5).collect()
        cn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        pn = pvecs / np.linalg.norm(pvecs, axis=1, keepdims=True)
        sims = pn @ cn.T
        for q in range(3):
            want = list(np.argsort(-sims[q], kind="stable")[:5])
            rows = sorted((r for r in got if r["query_id"] == q), key=lambda r: r["rank"])
            assert [r["neighbor_id"] for r in rows] == want
            for r in rows:
                assert r["cosine"] == pytest.approx(sims[q][r["neighbor_id"]], abs=1e-5)

    def test_ivf_topk_recall(self, spark):
        corpus, vecs = embed_df(spark, n=60)
        probes, _ = embed_df(spark, n=3, seed=11, id_col="query_id")
        exact = similarity.cosine_topk(corpus, probes, k=5).collect()
        # probing every cell must reproduce the exact result
        approx = similarity.ivf_topk(
            corpus, probes, k=5, n_centroids=4, nprobe=4, sample_n=60
        ).collect()
        key = lambda rows: {(r["query_id"], r["rank"]): r["neighbor_id"] for r in rows}
        assert key(approx) == key(exact)
        # fewer probes: a subset is still found (recall > 0), never a wrong score
        partial = similarity.ivf_topk(
            corpus, probes, k=5, n_centroids=4, nprobe=2, sample_n=60
        ).collect()
        exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
        hit = sum(1 for r in partial if (r["query_id"], r["neighbor_id"]) in exact_pairs)
        assert hit >= len(partial) // 2

    def test_cosine_topk_prunes_before_exchange(self, spark):
        import re

        corpus, _ = embed_df(spark, n=40)
        probes, _ = embed_df(spark, n=3, seed=11, id_col="query_id")
        df = similarity.cosine_topk(corpus, probes, k=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hashex = [m.start() for m in re.finditer(r"Exchange hashpartitioning", plan)]
        # exactly one hash exchange (the final per-query window) and it sits
        # ABOVE the MapInPandas prune — the full scored set is never shuffled
        assert len(hashex) == 1, plan
        mp = plan.find("MapInPandas")
        assert mp >= 0 and hashex[0] < mp, plan

    def test_lsh_bucket_pairs_finds_identical(self, spark):
        rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.99, 0.1, 0.0]),
                (3, [-1.0, 0.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in
                 similarity.lsh_bucket_pairs(df, planes=8).collect()}
        assert pairs.get((0, 1)) == pytest.approx(1.0)
        assert all(3 not in p for p in pairs)

    def test_srp_candidates_md5(self, spark):
        rng = np.random.default_rng(7)
        base = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
        # twin 0 by positive scaling (all sign bits preserved → collides
        # in EVERY band); vector 999 is 5's exact negation (every bit
        # flips → never shares a band bucket with 5)
        rows = (
            base
            + [(1000, [x * 1.5 for x in base[0][1]])]
            + [(999, [-x for x in base[5][1]])]
            + [(None, base[1][1]), (998, None), (997, [1.0, 2.0])]  # excluded
        )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            (r["id_a"], r["id_b"]): r
            for r in similarity.srp_candidates_md5(
                df, n_planes=16, bands=4, dim=16, min_cosine=0.9
            ).collect()
        }
        assert (0, 1000) in got
        r = got[(0, 1000)]
        assert r["n_bands"] == 4 and r["cosine"] == 1.0 and not r["truncated"]
        assert all(999 not in p or 5 not in p for p in got)
        assert all(p[0] not in (997, 998) and p[1] not in (997, 998) for p in got)

        with pytest.raises(ValueError):
            similarity.srp_candidates_md5(df, n_planes=10, bands=4)

    def test_embedding_drift(self, spark):
        # waves 0-1: centered on +e0; wave 2: centered on -e0 → the
        # drift curve reads 1.0 (no drift) then -1.0 (inversion)
        rows = []
        for i in range(30):
            sign = -1.0 if i >= 20 else 1.0
            v = [sign * 1.0] + [0.01 * ((i % 3) - 1)] * 7
            rows.append((i, v))
        rows += [(None, [1.0] * 8), (90, None), (91, [1.0, 2.0])]  # excluded
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["wave"]: r for r in similarity.embedding_drift(
            df, dim=8, n_waves=3
        ).collect()}
        assert sorted(got) == [0, 1, 2]
        assert got[0]["centroid_cos_prev"] is None
        assert got[0]["n_vecs"] == 10 and got[2]["n_vecs"] == 10
        assert got[1]["centroid_cos_prev"] == pytest.approx(1.0, abs=1e-3)
        assert got[2]["centroid_cos_prev"] == pytest.approx(-1.0, abs=1e-3)
        with pytest.raises(ValueError):
            similarity.embedding_drift(df, n_waves=0)

    def test_centroid_states_merge_equals_oneshot(self, spark):
        rng = np.random.default_rng(3)
        rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
        rows += [(None, [1.0] * 8), (90, None), (91, [1.0])]  # excluded
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        a = similarity.embedding_centroid_state(df.filter("vec_id < 15"), dim=8)
        b = similarity.embedding_centroid_state(df.filter("vec_id >= 15"), dim=8)
        whole = similarity.embedding_centroid_state(df, dim=8).first()
        merged = similarity.merge_centroid_states(a.union(b)).first()
        assert merged["n_vecs"] == whole["n_vecs"] == 30
        assert list(merged["sums"]) == list(whole["sums"])
        # state-vs-state comparison: identical states → cosine 1.0
        assert similarity.centroid_state_cosine(whole, merged) == 1.0
        # empty increment is a valid state and a merge no-op
        empty = similarity.embedding_centroid_state(
            df.filter("vec_id < 0"), dim=8
        )
        e = empty.first()
        assert e["n_vecs"] == 0 and list(e["sums"]) == [0] * 8
        remerged = similarity.merge_centroid_states(
            a.union(b).union(empty)
        ).first()
        assert list(remerged["sums"]) == list(whole["sums"])

    def test_embedding_drift_matches_pure_python(self, spark):
        """Third-implementation pin: wave slicing, integer sums,
        floor-divided centroids, and the round-6 cosine replayed from
        scratch in Python must match the Spark pipeline exactly."""
        import math

        rng = np.random.default_rng(31)
        rows = [(i, [float(x) for x in rng.normal(size=6)]) for i in range(37)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["wave"]: r for r in similarity.embedding_drift(
            df, dim=6, n_waves=4
        ).collect()}

        m = max(i for i, _ in rows) + 1
        waves = {}
        for i, vec in rows:
            w = min(3, i * 4 // m)
            q = [int(math.copysign(math.floor(abs(x * 1e6) + 0.5), x * 1e6))
                 for x in vec]
            n, sums = waves.get(w, (0, [0] * 6))
            waves[w] = (n + 1, [a + b for a, b in zip(sums, q)])

        def cent(w):
            n, sums = waves[w]
            return [math.floor(s / n) for s in sums]

        for w, row in got.items():
            assert row["n_vecs"] == waves[w][0]
            if w == 0:
                assert row["centroid_cos_prev"] is None
                continue
            ca, cb = cent(w), cent(w - 1)
            dot = sum(a * b for a, b in zip(ca, cb))
            na = math.sqrt(sum(a * a for a in ca))
            nb = math.sqrt(sum(b * b for b in cb))
            want = round(dot / (na * nb), 6) if na * nb > 0 else 0.0
            assert row["centroid_cos_prev"] == want, w

    def test_embedding_drift_plan_shape(self, spark):
        # docstring promise: ONE aggregate carries all dim×wave sums —
        # no explode (row×dim expansion) anywhere in the plan, and no
        # global window
        rng = np.random.default_rng(5)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        plan = (
            similarity.embedding_drift(df, dim=8, n_waves=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Generate " not in plan, plan
        assert "Window" not in plan, plan

    def test_srp_state_bipartite_dedup(self, spark):
        rng = np.random.default_rng(11)
        hist = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(20)]
        df_h = spark.createDataFrame(hist, "vec_id long, embedding array<double>")
        # new increment: scaled twin of history id 3 (all sign bits kept)
        # + one fresh random vector
        new_rows = [
            (1003, [x * 2.0 for x in hist[3][1]]),
            (2000, [float(x) for x in rng.normal(size=16)]),
        ]
        df_n = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")
        old = similarity.srp_state(df_h, "u0", n_planes=32, dim=16)
        new = similarity.srp_state(df_n, "u1", n_planes=32, dim=16)
        pairs = {
            (r["id_new"], r["id_old"]): r
            for r in similarity.srp_dedup_against_state(
                new, old, n_planes=32, bands=2
            ).collect()
        }
        r = pairs[(1003, 3)]
        # scaled twin: identical signature → both bands, zero hamming,
        # full bit-agreement — found WITHOUT touching history vectors
        assert r["n_bands"] == 2 and r["hamming"] == 0
        assert r["sim_bp"] == 10000 and not r["truncated"]
        assert r["inc_new"] == "u1" and r["inc_old"] == "u0"
        # signature packs exactly n_planes bits
        for row in old.collect():
            assert 0 <= row["sig"] < (1 << 32)
        with pytest.raises(ValueError):
            similarity.srp_dedup_against_state(new, old, n_planes=32, bands=5)
        with pytest.raises(ValueError):
            similarity.srp_state(df_h, "u0", n_planes=64, dim=16)

    def test_srp_signature_matches_pure_python(self, spark):
        """Third-implementation pin: the packed SRP signature computed by
        Spark must equal a from-scratch pure-Python replay (quantise →
        integer plane dots → sign bits → pack) on random vectors — so the
        Spark column pipeline and the DuckDB oracle can't share a bug."""
        import math

        rng = np.random.default_rng(23)
        rows = [(i, [float(x) for x in rng.normal(size=12)]) for i in range(25)]
        # adversarial extras: zeros (dot==0 → bit 1), large magnitudes
        rows += [(100, [0.0] * 12), (101, [1e3, -1e3] * 6)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            r["vec_id"]: r["sig"]
            for r in similarity.srp_state(
                df, "u", n_planes=24, dim=12
            ).collect()
        }

        def py_sig(vec):
            # HALF_UP-away-from-zero rounding, the contract both engines
            # implement for round() on doubles
            q = []
            for x in vec:
                v = x * 1_000_000
                f = math.floor(abs(v) + 0.5)
                q.append(int(math.copysign(f, v)))
            sig = 0
            for p in range(24):
                dot = sum(
                    qd * similarity._srp_plane_weight(p, d)
                    for d, qd in enumerate(q)
                )
                if dot >= 0:
                    sig |= 1 << p
            return sig

        for vid, vec in rows:
            assert got[vid] == py_sig(vec), vid

    def test_vector_family_excludes_nonfinite(self, spark):
        """NaN/Inf elements must EXCLUDE a vector everywhere in the
        integer-exact family — Spark would otherwise cast NaN·scale to
        0L and hand the vector a fake-valid signature/centroid
        contribution (while DuckDB refuses the cast and the oracle
        errors)."""
        nan, inf = float("nan"), float("inf")
        rows = [
            (0, [1.0] * 8),
            (1, [1.0] * 8),                       # twin of 0
            (2, [nan] + [1.0] * 7),               # excluded
            (3, [1.0] * 7 + [inf]),               # excluded
            (4, [-inf] + [1.0] * 7),              # excluded
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = similarity.srp_candidates_md5(
            df, n_planes=16, bands=2, dim=8, min_cosine=0.9
        ).collect()
        ids = {i for r in pairs for i in (r["id_a"], r["id_b"])}
        assert ids == {0, 1}
        st = similarity.srp_state(df, "u", n_planes=16, dim=8)
        assert {r["vec_id"] for r in st.collect()} == {0, 1}
        cs = similarity.embedding_centroid_state(df, dim=8).first()
        assert cs["n_vecs"] == 2
        dr = similarity.embedding_drift(df, dim=8, n_waves=2).collect()
        assert sum(r["n_vecs"] for r in dr) == 2

    def test_srp_bipartite_sim_matches_pure_python(self, spark):
        """Pin the bipartite similarity math: hamming and sim_bp reported
        by srp_dedup_against_state must equal popcount(xor) of the two
        pure-Python-recomputed signatures for every reported pair."""
        rng = np.random.default_rng(41)
        hist = [(i, [float(x) for x in rng.normal(size=12)]) for i in range(15)]
        # near-twins with small perturbations → nonzero hamming likely
        news = [
            (1000 + i, [x + 0.3 * float(rng.normal()) for x in vec])
            for i, vec in hist[:6]
        ]
        df_h = spark.createDataFrame(hist, "vec_id long, embedding array<double>")
        df_n = spark.createDataFrame(news, "vec_id long, embedding array<double>")
        old = similarity.srp_state(df_h, "h", n_planes=24, dim=12)
        new = similarity.srp_state(df_n, "n", n_planes=24, dim=12)
        sigs = {r["vec_id"]: r["sig"] for r in old.union(new).collect()}
        got = similarity.srp_dedup_against_state(
            new, old, n_planes=24, bands=3
        ).collect()
        assert got, "perturbed twins should collide in at least one band"
        for r in got:
            ham = bin(sigs[r["id_new"]] ^ sigs[r["id_old"]]).count("1")
            assert r["hamming"] == ham
            assert r["sim_bp"] == (24 - ham) * 10000 // 24
            # n_bands consistent with per-band key agreement
            agree = sum(
                1
                for b in range(3)
                if (sigs[r["id_new"]] >> (b * 8)) & 255
                == (sigs[r["id_old"]] >> (b * 8)) & 255
            )
            assert r["n_bands"] == agree

    def test_srp_zero_vectors_never_pair(self, spark):
        """Zero vectors produce IDENTICAL signatures (every dot is 0 →
        every bit 1) and collide in every band — but the exact-cosine
        stage scores zero-norm pairs 0.0 by contract, so they can never
        surface as near-duplicates.  The LSH stage alone would be fooled;
        the pipeline as a whole must not be."""
        rng = np.random.default_rng(13)
        rows = [(0, [0.0] * 8), (1, [0.0] * 8), (2, [0.0] * 8)]
        rows += [(i, [float(x) for x in rng.normal(size=8)]) for i in range(10, 16)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sigs = {r["vec_id"]: r["sig"] for r in
                similarity.srp_state(df, "u", n_planes=16, dim=8).collect()}
        assert sigs[0] == sigs[1] == sigs[2] == (1 << 16) - 1
        pairs = similarity.srp_candidates_md5(
            df, n_planes=16, bands=2, dim=8, min_cosine=0.5
        ).collect()
        for r in pairs:
            assert r["id_a"] not in (0, 1, 2) and r["id_b"] not in (0, 1, 2)

    def test_centroid_merge_preserves_dim_order_many_increments(self, spark):
        """The merge re-assembles per-dim sums from an exploded fold —
        collect_list order is not deterministic, so dimension order must
        survive a many-increment, many-partition shuffle (the array_sort
        on (dim, sum) structs is the guarantee under test)."""
        incs = []
        for k in range(20):
            df = spark.createDataFrame(
                [(i, [float((k + 1) * (d + 1)) for d in range(8)])
                 for i in range(3)],
                "vec_id long, embedding array<double>",
            )
            incs.append(similarity.embedding_centroid_state(df, dim=8))
        states = incs[0]
        for s in incs[1:]:
            states = states.union(s)
        merged = similarity.merge_centroid_states(states.repartition(16)).first()
        assert merged["n_vecs"] == 60
        # dim d total: Σ_k 3·(k+1)·(d+1)·10^6 — strictly increasing in d,
        # so any dimension scramble is caught
        tot_k = sum(k + 1 for k in range(20)) * 3
        assert list(merged["sums"]) == [
            tot_k * (d + 1) * 1_000_000 for d in range(8)
        ]

    def test_srp_plane_weights_pinned(self):
        # the md5 derivation is the cross-engine contract — pin a few values
        w = similarity._srp_plane_weight
        import hashlib
        for p, d in [(0, 0), (3, 17), (31, 63)]:
            h = int(hashlib.md5(f"srp:{p}:{d}".encode()).hexdigest()[:8], 16)
            assert w(p, d) == h % 2001 - 1000
            assert -1000 <= w(p, d) <= 1000


class TestCodecs:
    def test_bmp_roundtrip(self):
        from evalidate_spark.functions import codecs

        rng = np.random.default_rng(1)
        for h, w in [(1, 1), (5, 3), (16, 17), (7, 32)]:  # incl. padded widths
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            out = codecs.decode_bmp(codecs.encode_bmp(px))
            assert out.shape == (h, w, 3) and (out == px).all()

    def test_png_roundtrip(self):
        from evalidate_spark.functions import codecs

        rng = np.random.default_rng(2)
        for h, w in [(1, 1), (5, 3), (16, 17), (7, 32)]:
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            data = codecs.encode_png(px)
            assert data[:8] == codecs.PNG_SIGNATURE
            out = codecs.decode_png(data)
            assert out.shape == (h, w, 3) and (out == px).all()

    def test_jpeg_roundtrip_lossy_bounds(self):
        """Baseline JPEG is lossy — roundtrip must preserve dims exactly
        and content within quality-dependent error bounds, across 4:4:4,
        4:2:0, odd dims, and restart markers."""
        from evalidate_spark.functions import codecs

        xx, yy = np.meshgrid(np.linspace(0, 255, 61), np.linspace(0, 255, 45))
        img = np.stack([xx, yy, (xx + yy) / 2], axis=2).astype(np.uint8)
        for sub in (False, True):
            for ri in (0, 2):
                data = codecs.encode_jpeg(
                    img, quality=90, subsample=sub, restart_interval=ri
                )
                assert data[:3] == b"\xff\xd8\xff" and data[-2:] == b"\xff\xd9"
                out = codecs.decode_jpeg(data)
                assert out.shape == img.shape
                rmse = float(
                    np.sqrt(((out.astype(float) - img.astype(float)) ** 2).mean())
                )
                assert rmse < (6.0 if sub else 4.0), (sub, ri, rmse)
        # 4:2:0 files are smaller than 4:4:4 at the same quality
        assert len(codecs.encode_jpeg(img, 90, subsample=True)) < len(
            codecs.encode_jpeg(img, 90)
        )

    def test_jpeg_grayscale_and_edge_dims(self):
        from evalidate_spark.functions import codecs

        g = np.tile(np.arange(24, dtype=np.uint8) * 10, (9, 1))
        out = codecs.decode_jpeg(codecs.encode_jpeg(g, quality=92))
        assert out.shape == (9, 24, 3)
        assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 6
        # channels identical for grayscale input
        assert (out[:, :, 0] == out[:, :, 1]).all()
        # 1x1 image
        one = np.full((1, 1, 3), 200, dtype=np.uint8)
        o = codecs.decode_jpeg(codecs.encode_jpeg(one, quality=95))
        assert o.shape == (1, 1, 3) and abs(int(o[0, 0, 0]) - 200) <= 6

    def test_jpeg_quality_monotone_and_q100_noise(self):
        from evalidate_spark.functions import codecs

        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)

        def rmse(q):
            out = codecs.decode_jpeg(codecs.encode_jpeg(img, quality=q))
            return float(np.sqrt(((out.astype(float) - img.astype(float)) ** 2).mean()))

        # q100 with qtab≈1 nearly roundtrips even pure noise (clamp path)
        assert rmse(100) < 2.0
        assert rmse(95) < rmse(40)

    def test_jpeg_rejects_progressive_and_garbage(self):
        from evalidate_spark.functions import codecs

        with pytest.raises(ValueError):
            codecs.decode_jpeg(b"\x89PNG not a jpeg")
        # flip SOF0 to SOF2 (progressive): clear error, no crash
        data = bytearray(codecs.encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
        ix = bytes(data).find(b"\xff\xc0")
        data[ix + 1] = 0xC2
        with pytest.raises(ValueError, match="baseline"):
            codecs.decode_jpeg(bytes(data))

    def test_png_all_filter_types(self):
        """Decode a hand-built PNG whose scanlines use every filter type
        (0-4), checking the un-filter against the spec's filter direction
        implemented independently here."""
        import struct
        import zlib

        from evalidate_spark.functions import codecs

        def filter_row(ftype, cur, prev, bpp):
            out = np.empty_like(cur)
            for i in range(len(cur)):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                x = int(cur[i])
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[i] = (x - pred) & 0xFF
            return out

        rng = np.random.default_rng(3)
        h, w, bpp = 5, 4, 3
        px = rng.integers(0, 256, size=(h, w, bpp), dtype=np.uint8)
        flat = px.reshape(h, w * bpp)
        raw = bytearray()
        prev = np.zeros(w * bpp, dtype=np.uint8)
        for r in range(h):
            ftype = r % 5  # rows exercise None, Sub, Up, Average, Paeth
            raw += bytes([ftype]) + filter_row(ftype, flat[r], prev, bpp).tobytes()
            prev = flat[r]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (
            codecs.PNG_SIGNATURE
            + codecs._png_chunk(b"IHDR", ihdr)
            + codecs._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + codecs._png_chunk(b"IEND", b"")
        )
        out = codecs.decode_png(data)
        assert (out == px).all()

    def test_png_gray_and_rgba(self):
        import struct
        import zlib

        from evalidate_spark.functions import codecs

        def build(color, bpp, body):
            h, w = body.shape[0], body.shape[1]
            raw = b"".join(b"\x00" + body[r].tobytes() for r in range(h))
            ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
            return (
                codecs.PNG_SIGNATURE
                + codecs._png_chunk(b"IHDR", ihdr)
                + codecs._png_chunk(b"IDAT", zlib.compress(raw))
                + codecs._png_chunk(b"IEND", b"")
            )

        gray = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
        out = codecs.decode_png(build(0, 1, gray))
        assert out.shape == (3, 4, 3) and (out[:, :, 0] == gray[:, :, 0]).all()
        assert (out[:, :, 0] == out[:, :, 1]).all() and (out[:, :, 1] == out[:, :, 2]).all()

        rng = np.random.default_rng(4)
        rgba = rng.integers(0, 256, size=(2, 3, 4), dtype=np.uint8)
        out = codecs.decode_png(build(6, 4, rgba))
        assert out.shape == (2, 3, 3) and (out == rgba[:, :, :3]).all()

    def test_png_corrupt_rejected(self):
        import pytest as _pytest

        from evalidate_spark.functions import codecs

        good = codecs.encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
        bad = bytearray(good)
        bad[20] ^= 0xFF  # flip a bit inside IHDR → CRC mismatch
        with _pytest.raises(ValueError, match="CRC"):
            codecs.decode_png(bytes(bad))
        with _pytest.raises(ValueError, match="not a PNG"):
            codecs.decode_png(b"\x89PNX" + good[4:])

    def test_wav_roundtrip(self):
        from evalidate_spark.functions import codecs

        t = np.arange(8000)
        samples = (np.sin(2 * np.pi * 440 * t / 8000) * 12000).astype(np.int16)
        got, rate = codecs.decode_wav(codecs.encode_wav(samples, 8000))
        assert rate == 8000 and (got == samples).all()

    def test_resize_nearest(self):
        from evalidate_spark.functions import codecs

        px = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
        small = codecs.resize_nearest(px, 3, 2)
        assert small.shape == (2, 3, 3)
        assert (small[0, 0] == px[0, 0]).all()

    def test_decode_media_never_crashes_non_strict(self):
        # unsupported variants / mislabeled / corrupt payloads fall back to
        # the flagged stub instead of failing the whole stage
        from evalidate_spark.functions import codecs, multimodal

        wav = codecs.encode_wav(np.zeros(100, dtype=np.int16), 4000)
        cases = [
            ("image", b"BM\x01trunc"),          # corrupt BMP
            ("image", wav),                      # mislabeled modality
            ("audio", b"RIFF\x00\x00\x00\x00WAVEjunk"),  # corrupt WAV
            ("video", b"BM-but-video"),          # video never real-decodes
        ]
        for kind, payload in cases:
            d = multimodal.decode_media(kind, payload)
            assert d["decoded"] is False, (kind, payload)
            with pytest.raises(NotImplementedError):
                multimodal.decode_media(kind, payload, strict=True)
        # video stub always yields an int duration (frame sampling relies
        # on it even when the payload happens to start with 'BM')
        d = multimodal.decode_media("video", b"BM-but-video")
        assert isinstance(d["duration_ms"], int)

    def test_decode_media_real_vs_strict(self):
        from evalidate_spark.functions import codecs, multimodal

        bmp = codecs.encode_bmp(np.zeros((4, 5, 3), dtype=np.uint8))
        d = multimodal.decode_media("image", bmp, strict=True)
        assert (d["width"], d["height"], d["decoded"]) == (5, 4, True)
        wav = codecs.encode_wav(np.zeros(6000, dtype=np.int16), 4000)
        d = multimodal.decode_media("audio", wav, strict=True)
        assert d["duration_ms"] == 1500 and d["sample_rate"] == 4000
        assert d["rms"] == 0.0
        with pytest.raises(NotImplementedError, match="codec"):
            multimodal.decode_media("video", b"\x00opaque", strict=True)
        # non-strict stub fallback is flagged
        d = multimodal.decode_media("video", b"\x00opaque")
        assert d["decoded"] is False and d["duration_ms"] >= 1000

    def test_wav_sample_rate_zero_is_bad_bytes(self):
        # a zero rate used to reach len(samples) * 1000 / rate
        from evalidate_spark.functions import codecs, multimodal

        wav = codecs.encode_wav(np.zeros(100, dtype=np.int16), 0)
        with pytest.raises(ValueError, match="sample rate is 0"):
            codecs.decode_wav(wav)
        assert multimodal.decode_media("audio", wav)["decoded"] is False

    @pytest.mark.parametrize("kind, decoder", [("audio", "decode_wav"), ("video", "probe_avi")])
    def test_decoder_bug_propagates(self, monkeypatch, kind, decoder):
        # only bad bytes fall back to the stub; a bug in a decoder (here an
        # AttributeError) must surface, not become a "corrupt" row
        from evalidate_spark.functions import avi, codecs, multimodal

        def broken(_data):
            raise AttributeError("decoder bug")

        frames = [np.zeros((4, 4, 3), dtype=np.uint8)]
        payload = (codecs.encode_wav(np.zeros(100, dtype=np.int16), 4000) if kind == "audio"
                   else avi.encode_avi_dib(frames))
        monkeypatch.setattr(codecs if kind == "audio" else avi, decoder, broken)
        with pytest.raises(AttributeError, match="decoder bug"):
            multimodal.decode_media(kind, payload)


class TestAviCodec:
    def _frames(self, n=3, h=10, w=13, seed=7):
        rng = np.random.default_rng(seed)
        return [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8) for _ in range(n)]

    def test_dib_roundtrip_bit_exact(self):
        from evalidate_spark.functions import avi

        frames = self._frames()
        blob = avi.encode_avi_dib(frames, fps=4)
        dec, fps = avi.decode_avi(blob)
        assert fps == 4.0 and len(dec) == len(frames)
        for a, b in zip(frames, dec):
            assert np.array_equal(a, b)

    def test_mjpeg_decodes_close_on_smooth_content(self):
        from evalidate_spark.functions import avi

        h, w = 16, 24
        y, x = np.mgrid[0:h, 0:w]
        base = ((x * 9 + y * 5) % 256).astype(np.uint8)
        frames = [
            np.stack([base, (base + 40 * k) % 256, 255 - base], axis=-1).astype(
                np.uint8
            )
            for k in range(3)
        ]
        blob = avi.encode_avi_mjpeg(frames, fps=2, quality=92)
        dec, fps = avi.decode_avi(blob)
        assert fps == 2.0 and len(dec) == 3
        for a, b in zip(frames, dec):
            assert b.shape == a.shape
            assert float(np.abs(a.astype(int) - b.astype(int)).mean()) < 12.0

    def test_probe_headers_only(self):
        from evalidate_spark.functions import avi

        blob = avi.encode_avi_mjpeg(self._frames(n=4, h=8, w=9), fps=4)
        info = avi.probe_avi(blob)
        assert (info.width, info.height, info.n_frames) == (9, 8, 4)
        assert info.fps == 4.0 and info.duration_ms == 1000
        assert info.handler == b"MJPG"

    def test_honest_failure_modes(self):
        from evalidate_spark.functions import avi

        assert not avi.is_avi(b"RIFF\x00\x00\x00\x00WAVE")
        with pytest.raises(ValueError):
            avi.probe_avi(b"not an avi at all")
        blob = avi.encode_avi_dib(self._frames(n=1), fps=4)
        with pytest.raises(ValueError, match="truncated"):
            avi.decode_avi(blob[:-40])
        # unknown fourcc must raise, never garbage-decode: rewrite the strf
        # chunk's biCompression field (offset 16 into BITMAPINFOHEADER) to a
        # codec we don't support
        comp_at = blob.find(b"strf") + 8 + 16
        h264 = blob[:comp_at] + b"H264" + blob[comp_at + 4 :]
        with pytest.raises(NotImplementedError):
            avi.decode_avi(h264)

    def test_multistream_strf_dispatch(self):
        import struct

        from evalidate_spark.functions import avi

        # append an AUDIO strl (strh 'auds' + WAVEFORMATEX strf) after the
        # video strl: its strf must NOT overwrite the video bpp/compression
        blob = avi.encode_avi_dib(self._frames(n=2), fps=4)
        wf = struct.pack("<HHIIHH", 1, 1, 4000, 8000, 2, 16)  # PCM fmt
        strh = struct.pack(
            "<4s4sIHHIIIIIIIi4H",
            b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0,
            1, 4000, 0, 4000, 8000, 0, 0, 0, 0, 0, 0,
        )
        audio_strl = avi._list(
            b"strl", avi._chunk(b"strh", strh) + avi._chunk(b"strf", wf)
        )
        # splice into the hdrl list: grow hdrl, LIST and RIFF sizes
        hdrl_at = blob.find(b"hdrl") - 8
        hdrl_size = struct.unpack_from("<I", blob, hdrl_at + 4)[0]
        end = hdrl_at + 8 + hdrl_size
        patched = bytearray(blob[:end] + audio_strl + blob[end:])
        struct.pack_into("<I", patched, hdrl_at + 4, hdrl_size + len(audio_strl))
        struct.pack_into("<I", patched, 4, len(patched) - 8)
        info = avi.probe_avi(bytes(patched))
        assert info.bpp == 24 and info.compression == 0
        frames, fps = avi.decode_avi(bytes(patched))
        assert len(frames) == 2 and np.array_equal(frames[0], self._frames(n=2)[0])

    def test_rec_list_wrapped_movi(self):
        import struct

        from evalidate_spark.functions import avi

        # wrap each 00db chunk in a LIST('rec ') — the common interleaved
        # layout — and check decode still finds the frames
        frames = self._frames(n=2, h=4, w=4)
        blob = avi.encode_avi_dib(frames, fps=4)
        info = avi.probe_avi(blob)
        s, e = info._movi
        inner = blob[s:e]
        out = bytearray()
        pos = 0
        while pos + 8 <= len(inner):
            size = struct.unpack_from("<I", inner, pos + 4)[0]
            chunk = inner[pos : pos + 8 + size + (size % 2)]
            out += avi._list(b"rec ", bytes(chunk))
            pos += 8 + size + (size % 2)
        rebuilt = blob[: s - 12] + avi._chunk(b"LIST", b"movi" + bytes(out)) + blob[e:]
        rebuilt = bytearray(rebuilt)
        struct.pack_into("<I", rebuilt, 4, len(rebuilt) - 8)
        dec, fps = avi.decode_avi(bytes(rebuilt))
        assert len(dec) == 2 and np.array_equal(dec[1], frames[1])

    def test_avix_extension_raises(self):
        from evalidate_spark.functions import avi

        blob = avi.encode_avi_dib(self._frames(n=1), fps=4)
        with pytest.raises(NotImplementedError, match="AVIX"):
            avi.decode_avi(blob + b"RIFF\x04\x00\x00\x00AVIX")

    def test_h264_avi_not_reported_decoded(self):
        import struct

        from evalidate_spark.functions import avi, multimodal as mm

        blob = avi.encode_avi_dib(self._frames(n=1), fps=4)
        comp_at = blob.find(b"strf") + 8 + 16
        h264 = blob[:comp_at] + b"H264" + blob[comp_at + 4 :]
        info = avi.probe_avi(h264)  # header probe still works…
        assert not avi.is_decodable(info)  # …but frames aren't decodable
        d = mm.decode_media("video", h264)
        assert d["decoded"] is False  # flagged stub, not a false promise
        with pytest.raises(NotImplementedError):
            mm.decode_media("video", h264, strict=True)

    def test_biSizeImage_includes_row_padding(self):
        import struct

        from evalidate_spark.functions import avi

        blob = avi.encode_avi_dib(self._frames(n=1, h=5, w=9), fps=4)
        strf_at = blob.find(b"strf") + 8
        size_image = struct.unpack_from("<I", blob, strf_at + 20)[0]
        assert size_image == (9 * 3 + ((-(9 * 3)) % 4)) * 5  # stride 28

    def test_word_alignment_odd_jpeg_sizes(self):
        from evalidate_spark.functions import avi

        # MJPEG chunks are arbitrary (often odd) sizes — padding must hold
        # across many frames
        frames = self._frames(n=5, h=9, w=11, seed=3)
        blob = avi.encode_avi_mjpeg(frames, fps=5, quality=35)
        dec, fps = avi.decode_avi(blob)
        assert len(dec) == 5 and all(f.shape == (9, 11, 3) for f in dec)


class TestMultimodal:
    def test_real_decode_on_synth(self, spark):
        media = multimodal.synth_media(spark, n=30)
        feats = multimodal.extract_features(media).collect()
        by_kind = {}
        for r in feats:
            by_kind.setdefault(r["media_kind"], []).append(r)
        # every modality decodes for REAL now — video via the AVI probe
        assert all(r["decoded"] for r in by_kind["image"])
        assert all(r["decoded"] for r in by_kind["audio"])
        assert all(r["decoded"] for r in by_kind["video"])
        assert all(8 <= r["width"] <= 15 for r in by_kind["video"])
        assert all(r["duration_ms"] in (500, 750, 1000) for r in by_kind["video"])
        assert all(8 <= r["width"] <= 23 for r in by_kind["image"])
        assert all(r["sample_rate"] == 4000 and r["rms"] > 0 for r in by_kind["audio"])
        assert all(1000 <= r["duration_ms"] <= 3000 for r in by_kind["audio"])

    def test_resize_images_real(self, spark):
        from evalidate_spark.functions import codecs

        media = multimodal.synth_media(spark, n=12)
        out = multimodal.resize_images(media, 10, 7).collect()
        containers = set()
        for r in out:
            if r["media_kind"] == "image":
                p = bytes(r["payload"])
                if p[:2] == b"BM":
                    px = codecs.decode_bmp(p)
                    containers.add("bmp")
                elif p[:3] == b"\xff\xd8\xff":
                    px = codecs.decode_jpeg(p)
                    containers.add("jpeg")
                else:
                    px = codecs.decode_png(p)
                    containers.add("png")
                assert px.shape == (7, 10, 3)
                assert r["meta"]["resize"] == "10x7"
            else:
                assert r["meta"]["resize"].startswith("skipped")
        # synth rotates containers; the resize keeps each in its own
        assert containers == {"bmp", "png", "jpeg"}

    def test_extract_features(self, spark):
        media = multimodal.synth_media(spark, n=30)
        feats = multimodal.extract_features(media).collect()
        assert len(feats) == 30
        by_ref = {r["media_ref"]: r for r in feats}
        raw = {r["media_ref"]: r for r in media.collect()}
        import hashlib

        for ref, r in by_ref.items():
            assert r["n_bytes"] == len(raw[ref]["payload"])
            assert r["payload_sha"] == hashlib.sha256(raw[ref]["payload"]).hexdigest()
            if r["media_kind"] == "image":
                assert r["width"] is not None and r["duration_ms"] is None
            if r["media_kind"] == "audio":
                assert r["width"] is None and r["duration_ms"] >= 1000

    def test_extract_features_deterministic(self, spark):
        a = sorted(map(tuple, multimodal.extract_features(multimodal.synth_media(spark, 10)).collect()))
        b = sorted(map(tuple, multimodal.extract_features(multimodal.synth_media(spark, 10)).collect()))
        assert a == b

    def test_frame_sample_rows_per_video(self, spark):
        media = multimodal.synth_media(spark, n=20)
        frames = multimodal.frame_sample_stub(media, every_ms=500).collect()
        vids = [r for r in media.collect() if r["media_kind"] == "video"]
        assert len(vids) > 0
        per_ref = {}
        for f in frames:
            per_ref.setdefault(f["media_ref"], []).append(f)
        assert set(per_ref) == {v["media_ref"] for v in vids}
        for ref, fs in per_ref.items():
            assert [f["frame_ix"] for f in sorted(fs, key=lambda x: x["ts_ms"])] == list(range(len(fs)))

    def test_frame_sample_real(self, spark):
        from evalidate_spark.functions import avi
        import hashlib

        media = multimodal.synth_media(spark, n=24)
        frames = multimodal.frame_sample(media, every_ms=250).collect()
        vids = {
            r["media_ref"]: bytes(r["payload"])
            for r in media.collect()
            if r["media_kind"] == "video"
        }
        assert frames and {f["media_ref"] for f in frames} == set(vids)
        # every sampled row comes from a REAL decode and its sha matches an
        # independent re-decode of the same payload
        per_ref = {}
        for f in frames:
            assert f["decoded"] is True
            per_ref.setdefault(f["media_ref"], []).append(f)
        for ref, fs in per_ref.items():
            decoded, fps = avi.decode_avi(vids[ref])
            dur = int(round(len(decoded) * 1000 / fps))
            assert len(fs) == len(range(0, dur, 250))
            for f in sorted(fs, key=lambda x: x["ts_ms"]):
                want = min(int(f["ts_ms"] * fps / 1000), len(decoded) - 1)
                assert f["frame_ix"] == want
                px = decoded[f["frame_ix"]]
                assert (f["width"], f["height"]) == (px.shape[1], px.shape[0])
                assert f["frame_sha"] == hashlib.sha256(px.tobytes()).hexdigest()

    def test_frame_sample_fallback_flagged(self, spark):
        from evalidate_spark.functions import avi

        # non-AVI and corrupt-AVI video payloads still yield rows, flagged
        # decoded=false with NULL frame_ix — a bad payload must downgrade
        # itself, never crash the stage
        good = avi.encode_avi_dib(
            [np.zeros((4, 4, 3), dtype=np.uint8)] * 2, fps=2
        )
        corrupt = good[:40]  # truncated mid-header: probe/decode raise
        rows = [
            ("v-0", "video", b"\x00h264-ish-opaque-payload", {"src": "t"}),
            ("v-1", "video", corrupt, {"src": "t"}),
            ("v-2", "video", good, {"src": "t"}),
        ]
        media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
        out = multimodal.frame_sample(media, every_ms=500).collect()
        by_ref = {}
        for f in out:
            by_ref.setdefault(f["media_ref"], []).append(f)
        for ref in ("v-0", "v-1"):
            fs = sorted(by_ref[ref], key=lambda x: x["ts_ms"])
            assert all(f["decoded"] is False and f["frame_ix"] is None for f in fs)
            assert [f["sample_ix"] for f in fs] == list(range(len(fs)))
        assert all(f["decoded"] is True for f in by_ref["v-2"])

    def test_frame_sample_dense_grid_repeats_frame_ix(self, spark):
        from evalidate_spark.functions import avi

        # every_ms below the frame period: sample_ix stays dense/unique,
        # frame_ix repeats the resolved source frame
        blob = avi.encode_avi_dib(
            [np.full((4, 4, 3), i, dtype=np.uint8) for i in range(2)], fps=2
        )
        media = spark.createDataFrame(
            [("v", "video", blob, {})], schema=multimodal.MEDIA_SCHEMA
        )
        fs = sorted(
            multimodal.frame_sample(media, every_ms=250).collect(),
            key=lambda x: x["ts_ms"],
        )
        assert [f["sample_ix"] for f in fs] == [0, 1, 2, 3]
        assert [f["frame_ix"] for f in fs] == [0, 0, 1, 1]

    def test_resize_stub_meta(self, spark):
        media = multimodal.synth_media(spark, n=5)
        out = multimodal.resize_stub(media, 224, 224).collect()
        assert all(r["meta"]["resize"] == "224x224" for r in out)
        assert all(r["meta"]["src"] == "synth" for r in out)


class TestQuantization:
    def test_quantize_roundtrip_error_and_recall(self, spark):
        from evalidate_spark.functions import similarity
        from pyspark.sql import functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qd = similarity.quantize_embeddings(emb)
        row = qd.filter(F.col("vec_id") == 0).select("embedding", "embedding_q", "emb_scale").first()
        import numpy as np

        orig = np.array(row["embedding"], dtype=np.float64)
        deq = np.array(row["embedding_q"], dtype=np.float64) * row["emb_scale"]
        assert np.max(np.abs(orig)) > 0
        # per-element error bounded by half a quantisation step
        assert np.abs(deq - orig).max() <= row["emb_scale"] / 2 + 1e-12
        assert max(abs(int(v)) for v in row["embedding_q"]) <= 127
        # top-3 neighbours on dequantised vectors ≈ exact top-3 (high recall)
        deq_df = qd.select(
            "vec_id",
            similarity.dequantize(F.col("embedding_q"), F.col("emb_scale")).alias("embedding"),
        )
        probes = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.cosine_topk(emb, probes, k=3).collect()
        }
        qprobes = deq_df.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.cosine_topk(deq_df, qprobes, k=3).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, recall


class TestCentroidOutliers:
    def test_planted_outliers_found(self, spark):
        # two tight clusters along axes e0/e1 plus one inverted vector per
        # group — the inverted vector is the unambiguous farthest-from-centroid
        rng = np.random.default_rng(3)
        rows = []
        for g in (0, 1):
            base = np.zeros(4)
            base[g] = 1.0
            for i in range(9):
                v = base + 0.05 * rng.standard_normal(4)
                rows.append((g * 100 + i, g, [float(x) for x in v]))
            rows.append((g * 100 + 99, g, [float(-x) for x in base]))
        df = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        got = similarity.centroid_outliers(df, dim=4, k=1).collect()
        assert {(r["group"], r["id"]) for r in got} == {(0, 99), (1, 199)}
        assert all(r["rank"] == 1 for r in got)

    def test_full_ranking_matches_numpy(self, spark):
        corpus, vecs = embed_df(spark, n=30, d=6, seed=13)
        df = corpus.withColumn("label", (F.col("vec_id") % 3).cast("int"))
        got = similarity.centroid_outliers(df, dim=6, k=30).collect()
        for g in range(3):
            ids = [i for i in range(30) if i % 3 == g]
            cent = np.round(vecs[ids].mean(axis=0), 6)  # the operator's 6-dp grid
            cos = {
                i: round(
                    float(
                        vecs[i] @ cent / (np.linalg.norm(vecs[i]) * np.linalg.norm(cent))
                    ),
                    6,
                )
                for i in ids
            }
            want = sorted(ids, key=lambda i: (cos[i], i))
            rows = sorted((r for r in got if r["group"] == g), key=lambda r: r["rank"])
            assert [r["id"] for r in rows] == want
            for r in rows:
                assert r["cosine"] == pytest.approx(cos[r["id"]], abs=1e-6)

    def test_null_rows_excluded_and_short_vectors_degrade(self, spark):
        rows = [
            (1, 0, [1.0, 0.0]),
            (2, 0, [1.0, 0.1]),
            (3, 0, None),          # NULL vector: excluded everywhere
            (None, 0, [9.0, 9.0]), # NULL id: excluded from ranking
            (4, None, [5.0, 5.0]), # NULL group: excluded everywhere
            (5, 1, [1.0]),         # shorter than dim: missing dims -> NULL avg
            (6, 1, [2.0, 4.0]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        cents = {
            r["__group"]: (r["centroid"], r["n_members"])
            for r in similarity.group_centroids(df, dim=2, group_col="label").collect()
        }
        # NULL-id row still shapes the centroid: mean of (1,1,9) / (0,0.1,9)
        assert cents[0][0] == [pytest.approx(11 / 3), pytest.approx(9.1 / 3)]
        assert cents[0][1] == 3
        # group 1: position 2 averages only the one full vector (NULL skipped)
        assert cents[1][0] == [pytest.approx(1.5), pytest.approx(4.0)]
        ranked = similarity.centroid_outliers(df, dim=2, k=10, group_col="label").collect()
        ranked_ids = {r["id"] for r in ranked}
        # id 5 (short vector) shapes its group centroid but is NOT rankable
        assert ranked_ids == {1, 2, 6}
        assert all(r["group"] is not None for r in ranked)

    def test_layout_invariance(self, spark):
        # centroid means are aggregates: the 6-dp centroid grid must make
        # ranks identical whatever the partition layout
        corpus, _ = embed_df(spark, n=60, d=8, seed=21)
        df = corpus.withColumn("label", (F.col("vec_id") % 4).cast("int"))
        key = lambda rows: sorted(
            (r["group"], r["id"], r["cosine"], r["rank"]) for r in rows
        )
        base = key(similarity.centroid_outliers(df, dim=8, k=60).collect())
        for parts in (1, 7):
            got = key(
                similarity.centroid_outliers(df.repartition(parts), dim=8, k=60).collect()
            )
            assert got == base


def test_semantic_dedup_contract(spark):
    """Planted duplicate clusters: larger-id members of any >=threshold
    pair drop; scaled copies (cosine 1.0, different magnitude) share a
    cell by scale-invariance and drop; duplicate ids never drop each
    other; zero/NULL/ragged vectors always pass through."""
    import numpy as np

    from evalidate_spark.functions.dedup import semantic_dedup

    rng = np.random.default_rng(7)

    def unit(i, d=8):
        v = rng.standard_normal(d)
        return [float(x) for x in v / np.linalg.norm(v)]

    rows = []
    for i in range(40):
        rows.append((i, unit(i)))
    vecs = {i: r[1] for i, r in enumerate(rows)}
    rows.append((100, vecs[3]))                      # exact dup of id 3
    rows.append((101, [2 * x for x in vecs[7]]))     # scaled copy of id 7
    rows.append((102, [0.0] * 8))                    # zero vector
    rows.append((103, [0.0] * 8))                    # second zero vector
    rows.append((104, None))                         # NULL vector
    rows.append((105, unit(9)[:4]))                  # ragged
    rows.append((8, vecs[8]))                        # duplicate id, same vec
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r["vec_id"] for r in
            semantic_dedup(df, threshold=0.999, n_centroids=4, dim=8,
                           sample_n=100, seed=1).collect()}
    assert 100 not in kept and 101 not in kept
    assert {102, 103, 104, 105, 8}.issubset(kept)
    assert set(range(40)).issubset(kept)


def test_semantic_dedup_no_comparable_rows_and_truncated_flag(spark):
    from evalidate_spark.functions.dedup import semantic_dedup

    # all ids NULL -> nothing comparable -> input passes through unchanged
    df = spark.createDataFrame(
        [(None, [1.0, 0.0]), (None, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assert semantic_dedup(df, dim=2, n_centroids=2, sample_n=10).count() == 2

    # max_cell cap: dup beyond the cap survives but is flagged truncated
    rows = [(i, [1.0, float(i)]) for i in range(6)] + [(100, [1.0, 5.0])]
    df2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df2, threshold=0.9999, dim=2, n_centroids=1, sample_n=10,
        max_cell=3, truncated_col="truncated",
    )
    got = {r["vec_id"]: r["truncated"] for r in out.collect()}
    assert 100 in got and got[100] is True  # its dup (id 5) was never compared


def test_semantic_dedup_plan_single_cell_exchange(spark):
    """The cap window and the per-cell pandas stage key on the same cell
    id, so the whole pairwise path costs ONE hash exchange (plus the
    broadcast of the small dropped-id set into the anti-join)."""
    import re

    from evalidate_spark.functions.dedup import semantic_dedup

    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # inject duplicates: with an empty dropped set AQE eliminates the
    # anti-join entirely (PropagateEmptyRelation) and no pairwise plan runs
    emb = emb.union(emb.withColumn("vec_id", F.col("vec_id") + 100000))
    out = semantic_dedup(emb, threshold=0.999, n_centroids=4, dim=64)
    out.collect()  # executedPlan on the SAME df (count() builds a new plan)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning\(cell", plan)) == 1
    assert "FlatMapGroupsInPandas" in plan


# ------------------------------------------------- review-round regressions
def test_semantic_dedup_string_ids_and_schema_stability(spark):
    """String ids must work (output schema follows the id type), and a
    degenerate batch keeps the promised truncated column."""
    from evalidate_spark.functions.dedup import semantic_dedup

    rows = [("a1", [1.0, 0.0]), ("a2", [1.0, 0.0]), ("b1", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    kept = semantic_dedup(df, n_centroids=2, sample_n=10, threshold=0.99)
    assert {r["vec_id"] for r in kept.collect()} == {"a1", "b1"}

    empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    out = semantic_dedup(empty, truncated_col="truncated")
    assert "truncated" in out.columns and out.count() == 0


def test_contamination_cross_namespace_diagonal(spark):
    """exclude_same_id=False keeps pairs whose ids numerically coincide
    across DIFFERENT id namespaces."""
    from evalidate_spark.functions.dedup import contamination

    docs = spark.createDataFrame(
        [(5, "alpha beta gamma delta")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(5, "alpha beta gamma delta")], "doc_id long, text string"
    )
    assert contamination(docs, bench, min_shared=1).count() == 0  # default
    hit = contamination(docs, bench, min_shared=1, exclude_same_id=False)
    assert hit.count() == 1


def test_minhash_bands_validated(spark):
    from evalidate_spark.functions.dedup import minhash_candidates, minhash_candidates_md5

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    import pytest as _pt
    with _pt.raises(ValueError, match="divide"):
        minhash_candidates(df, num_hashes=8, bands=16)
    with _pt.raises(ValueError, match="divide"):
        minhash_candidates_md5(df, num_hashes=64, bands=10)


def test_probe_and_assign_break_ties_identically(spark):
    """Duplicate centroids: the cell a vector is ASSIGNED to must be the
    first cell a probe of the same vector PROBES."""
    from evalidate_spark.functions.similarity import ivf_assign, ivf_probe_cells

    cents = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]  # 0 and 1 identical
    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    cell = ivf_assign(df, cents).collect()[0]["cell"]
    probed = ivf_probe_cells(
        df.withColumnRenamed("vec_id", "query_id"), cents, nprobe=1
    ).collect()[0]["cells"]
    assert probed[0] == cell == 0


def test_embedding_near_dups_empty_batch_is_empty_not_error(spark):
    from evalidate_spark.functions.dedup import embedding_near_dups

    empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    out = embedding_near_dups(empty)
    assert out.count() == 0
    assert set(out.columns) == {"id_a", "id_b", "cosine", "truncated"}
    allnull = spark.createDataFrame([("x", None)], "vec_id string, embedding array<double>")
    assert embedding_near_dups(allnull).count() == 0


def test_sniff_format_magic_bytes(spark):
    """Every real container is identified from its magic bytes alone;
    corrupted, truncated, and mislabeled payloads degrade honestly."""
    from evalidate_spark.functions import avi, codecs, multimodal
    import numpy as np

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    wav = codecs.encode_wav(np.zeros(16, dtype=np.int16), 4000)
    rows = [
        ("png", "image", bytes(codecs.encode_png(px))),
        ("bmp", "image", bytes(codecs.encode_bmp(px))),
        ("jpeg", "image", bytes(codecs.encode_jpeg(px, quality=85))),
        ("wav", "audio", bytes(wav)),
        ("avi", "video", bytes(avi.encode_avi_dib([px], fps=4))),
        ("gif", "image", b"GIF89a" + b"\x00" * 10),
        # RIFF container whose form type is neither WAVE nor 'AVI '
        ("riff-alien", "audio", b"RIFF\x10\x00\x00\x00WEBP" + b"\x00" * 8),
        ("truncated-png", "image", b"\x89PN"),      # magic cut mid-signature
        ("garbage", "image", b"\x00\x01\x02\x03\x04\x05\x06\x07\x08"),
        ("empty", "image", b""),
        ("null", "image", None),
        # right bytes, wrong declared kind
        ("wav-as-image", "image", bytes(wav)),
    ]
    df = spark.createDataFrame(
        rows, "media_ref string, media_kind string, payload binary"
    )
    got = {
        r["media_ref"]: (r["sniffed"], r["format_ok"])
        for r in multimodal.media_format_check(df).collect()
    }
    assert got["png"] == ("png", True)
    assert got["bmp"] == ("bmp", True)
    assert got["jpeg"] == ("jpeg", True)
    assert got["wav"] == ("wav", True)
    assert got["avi"] == ("avi", True)
    assert got["gif"] == ("gif", True)
    assert got["riff-alien"] == ("unknown", False)
    assert got["truncated-png"] == ("unknown", False)
    assert got["garbage"] == ("unknown", False)
    assert got["empty"] == ("empty", False)
    assert got["null"] == (None, False)
    assert got["wav-as-image"] == ("wav", False)
