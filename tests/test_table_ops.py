"""Table-level operators: stats profile, uniqueness, referential anti-join,
drift, span structure — cross-checked against DuckDB / direct computation."""

import math

import duckdb
import pytest

from pyspark.sql import functions as F

from evalidate_spark.fixtures import (
    gen_documents,
    gen_events_baseline,
    gen_events_shifted,
    gen_media_catalog,
)
from evalidate_spark.operators import (
    drift,
    profile,
    referential_violations,
    span_structure_violations,
    uniqueness_violations,
)
from evalidate_spark.operators.spans import media_refs, offset_monotonic_ok

SF = "/root/testdata/sf0.001"


def test_profile_matches_duckdb(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    prof = {
        r["column"]: r
        for r in profile(df, ["l_quantity", "l_orderkey"], approx_distinct=False).collect()
    }
    exp = duckdb.sql(
        f"""SELECT count(*) n, sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) nn,
            count(DISTINCT l_quantity) nd, min(l_quantity) mn, max(l_quantity) mx
            FROM '{SF}/lineitem.parquet'"""
    ).fetchone()
    p = prof["l_quantity"]
    assert p["n_rows"] == exp[0]
    assert p["n_nulls"] == (exp[1] or 0)
    assert p["n_distinct"] == exp[2]
    assert float(p["min_repr"]) == pytest.approx(float(exp[3]))
    assert float(p["max_repr"]) == pytest.approx(float(exp[4]))


def test_uniqueness_matches_duckdb(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet")
    got = uniqueness_violations(df, "o_custkey").count()
    exp = duckdb.sql(
        f"""SELECT count(*) FROM (SELECT o_custkey FROM '{SF}/orders.parquet'
            WHERE o_custkey IS NOT NULL GROUP BY o_custkey HAVING count(*) > 1)"""
    ).fetchone()[0]
    assert got == exp
    # salted two-level variant agrees
    assert uniqueness_violations(df, "o_custkey", salt_buckets=8).count() == exp


def test_salted_uniqueness_spreads_hot_key(spark):
    from evalidate_spark.operators.table_checks import _salted_partial

    # a single hot key across 8 partitions must occupy >1 partial group
    # (the salt is partition-derived, NOT key-derived)
    hot = (
        spark.range(0, 8000)
        .select(F.lit(7).cast("long").alias("k"))
        .repartition(8)
    )
    partial_groups = _salted_partial(hot, "k", F.col("k"), 4).count()
    assert partial_groups > 1
    # and the two-level aggregate still sums to the exact count
    [r] = uniqueness_violations(hot, "k", salt_buckets=4).collect()
    assert r["k"] == 7 and r["dup_count"] == 8000


def test_histogram_constant_column(spark):
    from evalidate_spark.operators.table_checks import histogram_df

    df = spark.range(100).select(F.lit(5.0).alias("v"))
    [r] = histogram_df(df, "v", bins=10).collect()
    assert r["bucket"] == 0 and r["n"] == 100


def test_referential_matches_duckdb(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    # suppliers referenced by lineitem that don't exist in customer keys —
    # an artificial dangling-ref check with a known DuckDB answer
    got = referential_violations(li, "l_suppkey", cust, "c_custkey").count()
    exp = duckdb.sql(
        f"""SELECT count(*) FROM '{SF}/lineitem.parquet' l
            WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM '{SF}/customer.parquet' c WHERE c.c_custkey = l.l_suppkey)"""
    ).fetchone()[0]
    assert got == exp


def test_drift_detects_shift(spark):
    base = gen_events_baseline(spark, 5000)
    same = gen_events_baseline(spark, 5000)
    shifted = gen_events_shifted(spark, 5000, shift=4.0)
    stable = drift(same, base, ["value"])[0]
    moved = drift(shifted, base, ["value"])[0]
    assert stable["psi"] < 0.01 and stable["ks"] < 0.01
    assert moved["psi"] > 0.25 and moved["ks"] > 0.2
    # drift() is drift_df's fold collected unfloored
    from evalidate_spark.operators.table_checks import drift_df

    for cur, got in ((same, stable), (shifted, moved)):
        [bp] = drift_df(cur, base, ["value"]).collect()
        assert (math.floor(got["psi"] * 10_000), math.floor(got["ks"] * 10_000)) == (
            bp["psi_bp"],
            bp["ks_bp"],
        )


def _drift_twin_bp(spark, twin, baseline, current):
    """``(psi_bp, ks_bp)`` of one numeric drift twin on two one-column
    frames; ``drift()`` floored to bp, ``drift_stream`` over a batch frame
    whose rows all fall in one window."""
    from evalidate_spark import streaming
    from evalidate_spark.operators.table_checks import drift_df, drift_quantile

    base = spark.createDataFrame([(v,) for v in baseline], "v double")
    cur = spark.createDataFrame(
        [(v,) for v in current], "v double"
    ).withColumn("ts", F.lit("2026-01-01 00:00:01").cast("timestamp"))
    if twin == "drift":
        [r] = drift(cur, base, ["v"])
        return tuple(
            None if r[k] is None else math.floor(r[k] * 10_000) for k in ("psi", "ks")
        )
    if twin == "drift_stream":
        [r] = streaming.drift_stream(cur, base, "v").collect()
    elif twin == "drift_df":
        [r] = drift_df(cur, base, ["v"]).collect()
    else:
        exact = twin == "drift_quantile"
        [r] = drift_quantile(cur, base, ["v"], exact=exact).collect()
    return r["psi_bp"], r["ks_bp"]


_TWINS = ("drift_df", "drift_quantile", "drift", "drift_stream", "drift_quantile_sketch")
_NAN = float("nan")


@pytest.mark.parametrize(
    "twin,baseline,current,want",
    [
        # no baseline → NULL, for every numeric twin
        *[(t, [], [1.0, 2.0], (None, None)) for t in _TWINS],
        *[(t, [None, None], [1.0, 2.0], (None, None)) for t in _TWINS],
        # edge cases where the twins already agreed
        ("drift_df", [2.0, 2.0], [1.0, 2.0, 3.0], (0, 0)),
        ("drift_quantile", [2.0, 2.0], [1.0, 2.0, 3.0], (43741, 3333)),
        ("drift_df", [1.0, 2.0, 3.0], [1.0, float("nan")], (92103, 6666)),
        ("drift_df", [1.0, 2.0, 3.0], [], (127168, 10000)),
        ("drift_quantile", [1.0, 2.0, 3.0], [], (127168, 10000)),
        # NaN is dropped like NULL: a NaN-only baseline is no baseline, and
        # a NaN in the current frame falls in no bin of any twin
        *[(t, [_NAN, None, _NAN], [1.0, 2.0], (None, None)) for t in _TWINS],
        *[(t, [1.0, 2.0, 3.0], [1.0, _NAN], (92103, 6666)) for t in _TWINS[1:]],
        ("drift_df", [1.0, 2.0, 3.0, 4.0, _NAN], [3.0] * 4, (103615, 5000)),
        ("drift", [1.0, 2.0, 3.0, 4.0, _NAN], [3.0] * 4, (103615, 5000)),
    ],
    ids=[f"{t}-{b}" for b in ("empty", "all_null") for t in _TWINS]
    + ["df-constant", "quantile-constant", "df-nan", "df-empty_current", "quantile-empty_current"]
    + [f"{t}-all_nan" for t in _TWINS]
    + [f"{t}-nan_current" for t in _TWINS[1:]]
    + ["df-nan_baseline", "drift-nan_baseline"],
)
def test_numeric_drift_twins_baseline_contract(spark, twin, baseline, current, want):
    assert _drift_twin_bp(spark, twin, baseline, current) == want


@pytest.mark.parametrize("twin", _TWINS)
def test_numeric_drift_twins_drop_nan_baseline(spark, twin):
    """One NaN in the baseline changes neither its edges, nor its cuts, nor
    its histogram."""
    base, cur = [1.0, 2.0, 3.0, 4.0], [3.0] * 4
    want = _drift_twin_bp(spark, twin, base, cur)
    assert want != (None, None)
    assert _drift_twin_bp(spark, twin, base + [_NAN], cur) == want


def test_waves_boundaries(spark):
    """The ingest-wave slicer every wave monitor shares: negative ids go
    to wave 0, the max id to wave n−1, an all-negative input to wave 0,
    n=1 puts everything in wave 0, and the bound can come from another
    frame."""
    from evalidate_spark.operators.table_checks import _waves

    def waves(ids, n, bound_ids=None):
        df = spark.createDataFrame([(i,) for i in ids], "__id long")
        of = None if bound_ids is None else spark.createDataFrame(
            [(i,) for i in bound_ids], "__id long"
        )
        rows = _waves(df, n, bound_of=of).collect()
        assert set(rows[0].asDict()) == {"__id", "__w"}
        return {r["__id"]: r["__w"] for r in rows}

    assert waves([-5, 0, 4, 5, 9], 5) == {-5: 0, 0: 0, 4: 2, 5: 2, 9: 4}
    assert waves([-3, -1], 4) == {-3: 0, -1: 0}
    assert waves([-2, 0, 7, 100], 1) == {-2: 0, 0: 0, 7: 0, 100: 0}
    # the bound is max over bound_of: 5 of [0, 10) is wave 2, of [0, 6) wave 3
    assert waves([5], 4, bound_ids=[5, 9]) == {5: 2}
    assert waves([5], 4) == {5: 3}


def test_generated_documents_shape(spark):
    docs = gen_documents(spark, 500, n_media=100)
    assert docs.schema.simpleString() == (
        "struct<doc_id:string,spans:array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>>"
    )
    n = docs.count()
    assert n == 500
    nulls = docs.filter(F.col("doc_id").isNull()).count()
    assert 0 < nulls < 25  # ~1%
    # determinism: same seed → identical content
    again = gen_documents(spark, 500, n_media=100)
    assert docs.exceptAll(again).count() == 0


def test_span_structure_violations(spark):
    docs = gen_documents(spark, 1000, n_media=100)
    v = span_structure_violations(docs)
    by_rule = {r["rule_id"]: r["n"] for r in v.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    # injected inconsistencies and inversions must be found
    assert by_rule.get("span:kind_consistency", 0) > 0
    assert by_rule.get("span:offset_monotonic", 0) > 0
    # offsets: docs flagged monotonic-ok must have no inversion violations
    ok_docs = docs.filter(offset_monotonic_ok(F.col("spans"))).select("doc_id")
    bad = v.filter(F.col("rule_id") == "span:offset_monotonic").select("doc_id").distinct()
    assert ok_docs.join(bad, "doc_id", "inner").count() == 0


def test_media_referential_roundtrip(spark):
    docs = gen_documents(spark, 1000, n_media=100)
    catalog = gen_media_catalog(spark, 100)
    refs = media_refs(docs)
    dangling = referential_violations(refs, "media_ref", catalog, "media_ref")
    n_dangling = dangling.count()
    assert n_dangling > 0  # ~1% injected
    # every dangling ref points beyond the catalog by construction
    assert dangling.filter(~F.col("media_ref").rlike(r"^m-\d+$")).count() == 0
    max_ok = catalog.agg(F.max(F.expr("cast(substring(media_ref, 3) as int)"))).collect()[0][0]
    assert (
        dangling.filter(F.expr("cast(substring(media_ref, 3) as int)") <= max_ok).count()
        == 0
    )


def test_drift_categorical_detects_shift(spark):
    from evalidate_spark.operators.table_checks import drift_categorical

    base = spark.range(4000).selectExpr(
        "element_at(array('a','b','c','d'), cast(id % 4 as int) + 1) AS cat"
    )
    same = spark.range(4000).selectExpr(
        "element_at(array('a','b','c','d'), cast(id % 4 as int) + 1) AS cat"
    )
    # shifted: 'a' dominates, 'd' vanishes, new category 'e' appears
    shifted = spark.range(4000).selectExpr(
        "element_at(array('a','a','a','e'), cast(id % 4 as int) + 1) AS cat"
    )
    stable = drift_categorical(same, base, ["cat"], top_k=3).collect()[0]
    moved = drift_categorical(shifted, base, ["cat"], top_k=3).collect()[0]
    assert stable["psi_bp"] == 0 and stable["tvd_bp"] == 0
    assert moved["psi_bp"] > 2500 and moved["tvd_bp"] > 2000


def test_sessionize_gap_semantics(spark):
    from evalidate_spark.operators.sessions import session_bounds, sessionize

    rows = [
        (1, "2026-01-01 10:00:00"),
        (1, "2026-01-01 10:10:00"),   # same session (10 min)
        (1, "2026-01-01 11:00:00"),   # new session (50 min gap)
        (2, "2026-01-01 10:00:00"),   # separate user
        (None, "2026-01-01 10:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").selectExpr(
        "user_id", "cast(ts_s as timestamp) ts"
    )
    s = {(r["user_id"], r["ts"].hour, r["ts"].minute): r["session_ix"]
         for r in sessionize(df, gap_minutes=30).collect()}
    assert s[(1, 10, 0)] == 1 and s[(1, 10, 10)] == 1
    assert s[(1, 11, 0)] == 2  # 50-min gap starts a new session
    assert s[(2, 10, 0)] == 1
    assert s[(None, 10, 0)] is None
    b = {(r["user_id"], r["session_ix"]): r["n_events"]
         for r in session_bounds(df, gap_minutes=30).collect()}
    assert b == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_session_split_equivalence_and_skew(spark):
    """split_hours skew relief returns EXACTLY the unsplit result — on the
    real events table (24h buckets) and on a pathological stream where one
    user owns 95% of events (1h buckets, forcing many cross-bucket
    stitches, including sessions spanning 3+ buckets)."""
    from evalidate_spark.operators.sessions import session_bounds

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(session_bounds(ev, gap_minutes=30)) == key(
        session_bounds(ev, gap_minutes=30, split_hours=24)
    )

    # hot user: 950 events every 20 min (sessions chain across every 1h
    # bucket boundary); 50 cold events on other users
    hot = spark.range(950).selectExpr(
        "1 AS user_id",
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,id*20,0) AS ts",
    )
    cold = spark.range(50).selectExpr(
        "10 + id AS user_id",
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*7200) AS ts",
    )
    df = hot.union(cold)
    unsplit = key(session_bounds(df, gap_minutes=30))
    split = session_bounds(df, gap_minutes=30, split_hours=1)
    assert key(split) == unsplit

    # the first window must partition by (user, bucket), not user alone —
    # that's what breaks the hot user across tasks
    plan = split._jdf.queryExecution().executedPlan().toString()
    import re

    first_window = plan[plan.rindex("Window") :]  # innermost = last printed
    assert re.search(r"windowspecdefinition\(__u.*__b", first_window), first_window


def test_referential_antijoin_aqe_skew_split(spark):
    """One dangling key at ~100x frequency: with broadcast off (the big-dim
    path) the sort-merge anti-join must complete under AQE with the skewed
    partition SPLIT across tasks — the final adaptive plan carries the
    skew=true marker on the join."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4k",
        # keep AQE from demoting the dim side to a broadcast join — the
        # point is the sort-merge skew path
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one relation (a union would let Catalyst push the anti-join into
        # the branches and constant-fold the hot key away from the SMJ)
        fact = spark.range(101_000).selectExpr(
            "case when id < 100000 then cast(-1 as long) else id - 100000 end AS ref",
            "uuid() AS payload",
        )
        dim = spark.range(1_000).selectExpr("id AS dim_key")
        out = referential_violations(fact, "ref", dim, "dim_key", broadcast_dim=False)
        assert len(out.collect()) == 100_000  # hot rows dangle, cold rows don't
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan and "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_profile_exact_quantiles_match_duckdb(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    p = {
        r["column"]: r["quantiles"]
        for r in profile(
            df, ["l_quantity", "l_orderkey"], exact_quantiles=True
        ).collect()
    }
    for col in ("l_quantity", "l_orderkey"):
        exp = duckdb.sql(
            f"""SELECT quantile_cont(cast({col} AS double), [0.25, 0.5, 0.75])
                FROM '{SF}/lineitem.parquet'"""
        ).fetchone()[0]
        # integer-valued column: interpolation is IEEE-exact → bit equality
        assert p[col] == list(exp)


def test_drift_quantile_robust_to_long_tail(spark):
    """Equi-depth bins see a median shift that equi-width bins miss when a
    long tail squashes the histogram into its first bucket."""
    from evalidate_spark.operators.table_checks import drift_df, drift_quantile

    # baseline: bulk in [0, 10) + 1% outliers around 1e6 (long tail)
    base = spark.range(5000).selectExpr(
        "CASE WHEN id % 100 = 0 THEN 1000000.0 + id ELSE (id % 10) * 1.0 END AS v"
    )
    # current: bulk shifted to [5, 15), same tail
    cur = spark.range(5000).selectExpr(
        "CASE WHEN id % 100 = 0 THEN 1000000.0 + id ELSE (id % 10) * 1.0 + 5 END AS v"
    )
    [eq_w] = drift_df(cur, base, ["v"]).collect()
    [eq_d] = drift_quantile(cur, base, ["v"], exact=True).collect()
    # the tail forces ~99% of both datasets into equi-width bucket 0 →
    # near-zero signal; quantile bins spread the bulk and light up
    assert eq_d["psi_bp"] > 10 * max(eq_w["psi_bp"], 1)
    assert eq_d["ks_bp"] > 2000  # half the bulk moved

    # no-drift control stays quiet
    same = spark.range(5000).selectExpr(
        "CASE WHEN id % 100 = 0 THEN 1000000.0 + id ELSE (id % 10) * 1.0 END AS v"
    )
    [quiet] = drift_quantile(same, base, ["v"], exact=True).collect()
    assert quiet["psi_bp"] == 0 and quiet["ks_bp"] == 0


def test_referential_bloom_exact_and_fast_path(spark):
    """Bloom-gated referential equals the plain path exactly — at a sane
    filter size AND at a pathologically tiny one (fp ≈ 1, everything falls
    through to the join) — and with a sane size most dangling rows take
    the join-free fast path."""
    from evalidate_spark.operators.table_checks import (
        bloom_build,
        _bloom_contains,
        referential_violations_bloom,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    cust = spark.read.parquet(f"{SF}/supplier.parquet").filter(
        F.col("s_suppkey") % 2 == 0
    ).selectExpr("s_suppkey AS c_custkey")
    plain = sorted(
        (r["l_orderkey"], r["l_linenumber"])
        for r in referential_violations(li, "l_suppkey", cust, "c_custkey").collect()
    )
    assert len(plain) > 100  # odd suppkeys dangle by construction
    for m_bits in (1 << 16, 64):  # 64 bits with k=5: near-total fp rate
        got = sorted(
            (r["l_orderkey"], r["l_linenumber"])
            for r in referential_violations_bloom(
                li, "l_suppkey", cust, "c_custkey", m_bits=m_bits
            ).collect()
        )
        assert got == plain, m_bits
    # no false negatives ever: every real dim key must test positive
    bf = bloom_build(cust.select("c_custkey"), "c_custkey", 1 << 16, 5)
    hits = (
        cust.crossJoin(F.broadcast(bf))
        .filter(_bloom_contains(F.col("__bloom"), F.col("c_custkey"), 1 << 16, 5))
        .count()
    )
    assert hits == cust.count()
    # fast path live: with 150 keys in 64Ki bits, dangling refs (suppkeys
    # far beyond custkeys) overwhelmingly skip the join
    nn = li.filter(F.col("l_suppkey").isNotNull()).crossJoin(F.broadcast(bf))
    absent = nn.filter(
        ~_bloom_contains(F.col("__bloom"), F.col("l_suppkey"), 1 << 16, 5)
    ).count()
    dangling = len(plain)
    assert absent > 0.95 * dangling, (absent, dangling)


def test_composite_uniqueness_and_iqr(spark):
    from evalidate_spark.operators.table_checks import iqr_outliers

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (None, "a"), (3, None)],
        "u long, t string",
    )
    got = {(r["u"], r["t"]): r["dup_count"]
           for r in uniqueness_violations(df, ["u", "t"]).collect()}
    assert got == {(1, "a"): 2}  # NULL components never count
    # salted composite agrees
    got_s = {(r["u"], r["t"]): r["dup_count"]
             for r in uniqueness_violations(df, ["u", "t"], salt_buckets=4).collect()}
    assert got_s == got

    # IQR: bulk 0..99 uniform, two planted extremes
    vals = spark.range(100).selectExpr("cast(id AS double) AS v").union(
        spark.createDataFrame([(1e6,), (-1e6,), (None,)], "v double")
    )
    out = sorted(r["v"] for r in iqr_outliers(vals, "v", exact=True).collect())
    assert out == [-1e6, 1e6]


def test_mad_outliers(spark):
    from evalidate_spark.operators.table_checks import mad_outliers

    # bulk 0..99 uniform, two planted extremes: median 49.5+eps, MAD 25
    # → threshold |x-med| > 3.5*25/0.6745 ≈ 129.7, only the extremes fire
    vals = spark.range(100).selectExpr("cast(id AS double) AS v").union(
        spark.createDataFrame([(1e6,), (-1e6,), (None,)], "v double")
    )
    out = sorted(r["v"] for r in mad_outliers(vals, "v", exact=True).collect())
    assert out == [-1e6, 1e6]

    # MAD has a 50% breakdown point: one third contaminated at 1000 still
    # flags only the contamination, where the Tukey fence (k=1.5) of the
    # same data has already widened past it
    from evalidate_spark.operators.table_checks import iqr_outliers

    third = spark.range(20).selectExpr("cast(id AS double) AS v").union(
        spark.createDataFrame([(1000.0,)] * 10, "v double")
    )
    got = sorted(r["v"] for r in mad_outliers(third, "v", exact=True).collect())
    assert got == [1000.0] * 10
    assert iqr_outliers(third, "v", exact=True).count() == 0

    # degenerate MAD == 0 (majority identical): pinned to flag every
    # value different from the median — no division-by-zero path exists
    deg = spark.createDataFrame(
        [(5.0,)] * 8 + [(5.1,), (7.0,), (None,)], "v double"
    )
    got = sorted(r["v"] for r in mad_outliers(deg, "v", exact=True).collect())
    assert got == [5.1, 7.0]

    # all-NULL column: empty result, no crash
    nul = spark.createDataFrame([(None,), (None,)], "v double")
    assert mad_outliers(nul, "v", exact=True).count() == 0


def test_column_fingerprints_match_pure_python(spark):
    """Third-implementation pin: the split fingerprint halves must equal
    a from-scratch pure-Python replay (md5 of the cast-to-string value,
    15-hex-char prefix fold, sum, divmod 2^62) — so the Spark expression
    and the DuckDB oracle cannot share a bug."""
    import hashlib

    from evalidate_spark.operators.table_checks import column_fingerprints

    rows = [(1, "alpha"), (2, ""), (3, None), (4, "ünïcode ✓"), (None, "x")]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r["column"]: r for r in column_fingerprints(df, ["id", "t"]).collect()}

    def py_fp(values):
        total = 0
        for v in values:
            if v is None:
                continue
            h = hashlib.md5(str(v).encode("utf-8")).hexdigest()
            total += int(h[:15], 16)
        return divmod(total, 1 << 62)

    for col, vals in (("id", [r[0] for r in rows]), ("t", [r[1] for r in rows])):
        hi, lo = py_fp(vals)
        assert (got[col]["fp_hi"], got[col]["fp_lo"]) == (hi, lo), col
        assert got[col]["n_rows"] == 5
        assert got[col]["n_nulls"] == sum(1 for v in vals if v is None)


def test_column_fingerprints_merge_and_sensitivity(spark):
    from evalidate_spark.operators.table_checks import (
        column_fingerprints,
        merge_column_fingerprints,
    )

    def fp(row):
        # recombined value for comparisons; the API itself only ever
        # exposes the two int64 halves
        return (row["fp_hi"] << 62) + row["fp_lo"]

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (None, "z")], "id long, t string"
    )
    b = spark.createDataFrame([(4, None), (5, "x")], "id long, t string")
    whole = a.union(b)

    direct = {r["column"]: r for r in column_fingerprints(whole).collect()}
    merged = {
        r["column"]: r
        for r in merge_column_fingerprints(
            column_fingerprints(a).union(column_fingerprints(b))
        ).collect()
    }
    for c in ("id", "t"):
        assert merged[c]["n_rows"] == direct[c]["n_rows"] == 5
        assert fp(merged[c]) == fp(direct[c])
    assert direct["id"]["n_nulls"] == 1 and direct["t"]["n_nulls"] == 1

    # both halves are int64-safe: non-negative, below 2^62
    for r in direct.values():
        assert 0 <= r["fp_hi"] and 0 <= r["fp_lo"] < (1 << 62)

    # one cell change moves exactly that column's fingerprint
    changed = spark.createDataFrame(
        [(1, "x"), (2, "y"), (None, "z"), (4, None), (5, "X")],
        "id long, t string",
    )
    after = {r["column"]: r for r in column_fingerprints(changed).collect()}
    assert fp(after["id"]) == fp(direct["id"])
    assert fp(after["t"]) != fp(direct["t"])

    # a PAIR of identical inserted rows still changes the sum (an XOR
    # fingerprint would cancel them)
    padded = whole.union(
        spark.createDataFrame([(9, "d"), (9, "d")], "id long, t string")
    )
    pad = {r["column"]: r for r in column_fingerprints(padded).collect()}
    assert fp(pad["id"]) != fp(direct["id"])

    # empty table: zero counters, zero fingerprint, never NULL
    empty = spark.createDataFrame([], "id long, t string")
    for r in column_fingerprints(empty).collect():
        assert (r["n_rows"], r["n_nulls"], r["fp_hi"], r["fp_lo"]) == (
            0, 0, 0, 0,
        )

    # complex columns are excluded from the default column set
    witharr = spark.createDataFrame([(1, ["a"])], "id long, arr array<string>")
    assert [r["column"] for r in column_fingerprints(witharr).collect()] == ["id"]

    # float/double/binary are excluded by default (engine-dependent
    # cast-to-string renderings: '1.0E7' vs '10000000.0'), but still
    # fingerprintable when named explicitly
    mixed = spark.createDataFrame(
        [(1, 1.0e7, bytearray(b"\x00"))], "id long, v double, raw binary"
    )
    assert [r["column"] for r in column_fingerprints(mixed).collect()] == ["id"]
    named = column_fingerprints(mixed, ["v"]).collect()
    assert [r["column"] for r in named] == ["v"] and named[0]["n_rows"] == 1

    import pytest as _pytest
    with _pytest.raises(ValueError):
        column_fingerprints(a, ["nope"])


def test_suggest_constraints_round_trip(spark):
    """The suggested spec is, by construction, satisfied by the data that
    produced it: suggestions_to_spec -> validate -> zero violations."""
    from evalidate_spark import validate
    from evalidate_spark.operators.suggest import (
        suggest_constraints,
        suggestions_to_spec,
    )

    df = spark.createDataFrame(
        [
            (1, "A", 10.5, "x"),
            (2, "B", 1.0, None),
            (3, "A", 49.9, "yy"),
            (4, "C", 25.0, "zzz"),
        ],
        "id long, flag string, qty double, note string",
    )
    sug = suggest_constraints(df, max_allowed=8, approx_distinct=False)
    rows = sorted((r[0], r[1], r[2]) for r in sug.collect())
    assert ("flag", "allowed", "A,B,C") in rows
    assert ("flag", "required", "") in rows
    assert ("id", "size", "[1,4]") in rows
    assert ("qty", "size", "[1,50]") in rows
    assert ("note", "size", "[1,3]") in rows
    # note has a NULL -> no required suggestion
    assert not any(c == "note" and r == "required" for c, r, _ in rows)

    spec = suggestions_to_spec(rows)
    res = validate(df, spec, id_cols=["id"])
    assert res.violations.count() == 0

    # ...and the spec actually bites on data outside the envelope
    bad = spark.createDataFrame(
        [(5, "Z", 500.0, "toolong")], "id long, flag string, qty double, note string"
    )
    assert validate(bad, spec, id_cols=["id"]).violations.count() > 0


def test_suggest_constraints_cardinality_screen(spark):
    """High-cardinality string columns never reach collect_set: no
    allowed suggestion, bounded memory (the HLL screen decides)."""
    from evalidate_spark.operators.suggest import suggest_constraints

    df = spark.range(5000).selectExpr(
        "cast(id AS string) AS hi_card", "cast(id % 3 AS string) AS lo_card"
    )
    rows = {(r[0], r[1]): r[2] for r in suggest_constraints(df).collect()}
    assert ("hi_card", "allowed") not in rows
    assert rows[("lo_card", "allowed")] == "0,1,2"


def test_profile_states_merge_matches_direct(spark):
    """State merge is exact for counts/min/max and the sketch-union
    distinct estimate stays within HLL error of the truth; merging is
    order-insensitive (any increment grouping folds identically)."""
    from evalidate_spark.operators.table_checks import (
        merge_profile_states,
        profile,
        profile_state,
    )

    df = spark.range(10_000).selectExpr(
        "id",
        "cast(id % 97 AS string) AS cat",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE cast(id AS double) / 4 END AS v",
    )
    cols = ["id", "cat", "v"]
    parts = [
        profile_state(df.where(f"pmod(id, 3) = {i}"), cols, f"inc{i}")
        for i in range(3)
    ]
    states = parts[0].unionByName(parts[1]).unionByName(parts[2])
    merged = {r["column"]: r for r in merge_profile_states(states).collect()}
    direct = {
        r["column"]: r
        for r in profile(df, cols, approx_distinct=False, quantiles=()).collect()
    }
    for c in cols:
        assert merged[c]["n_rows"] == direct[c]["n_rows"] == 10_000
        assert merged[c]["n_nulls"] == direct[c]["n_nulls"]
        assert merged[c]["min_repr"] == direct[c]["min_repr"]
        assert merged[c]["max_repr"] == direct[c]["max_repr"]
        truth = direct[c]["n_distinct"]
        assert abs(merged[c]["n_distinct"] - truth) <= max(2, 0.05 * truth), c

    # permutation invariance: reversed union folds to identical rows
    rev = parts[2].unionByName(parts[1]).unionByName(parts[0])
    a = sorted(map(tuple, merge_profile_states(states).collect()))
    b = sorted(map(tuple, merge_profile_states(rev).collect()))
    assert a == b


def test_suggest_constraints_int64_guard(spark):
    """A numeric envelope beyond int64 yields NO size rule (a clamped
    bound would make the spec reject its own data); the round-trip
    still holds."""
    from evalidate_spark import validate
    from evalidate_spark.operators.suggest import (
        suggest_constraints,
        suggestions_to_spec,
    )

    df = spark.createDataFrame([(1, 1e30), (2, -5.0)], "id long, v double")
    rows = [tuple(r) for r in
            suggest_constraints(df, approx_distinct=False).collect()]
    assert not any(c == "v" and r == "size" for c, r, _ in rows)
    assert ("id", "size", "[1,2]") in rows
    assert validate(df, suggestions_to_spec(rows), id_cols=["id"]).violations.count() == 0


def test_group_drift_flags_the_bad_source(spark):
    """A group distributed like the corpus reads ~0 drift; a group
    flooding one category lights up; NULL groups/categories excluded."""
    import math

    from evalidate_spark.operators.table_checks import group_drift

    rows = []
    # 4 balanced sources: 10 'en' + 10 'de' each
    for s in ("s1", "s2", "s3", "s4"):
        rows += [(s, "en")] * 10 + [(s, "de")] * 10
    # the bad source: 20 x only 'en'
    rows += [("bad", "en")] * 20
    rows += [(None, "en"), ("s1", None)]  # excluded
    df = spark.createDataFrame(rows, "source string, lang string")
    got = {r["source"]: r for r in group_drift(df, "source", "lang").collect()}
    assert None not in got
    assert got["s1"]["n"] == 20  # the NULL-lang row does not count
    # corpus: 60 en / 40 de.  balanced source (.5/.5) vs corpus (.6/.4):
    psi_bal = (0.5 - 0.6) * math.log(0.5 / 0.6) + (0.5 - 0.4) * math.log(0.5 / 0.4)
    assert got["s1"]["psi_bp"] == int(math.floor(psi_bal * 10000))
    # 0.5*(|.5-.6|+|.5-.4|) = 0.1, but |0.5-0.6| is 0.0999..98 in IEEE and
    # the operator floors the float product (the oracle mirrors this)
    tvd_bal = math.floor(0.5 * (abs(0.5 - 0.6) + abs(0.5 - 0.4)) * 10000)
    assert got["s1"]["tvd_bp"] == tvd_bal == 999
    # bad source (1.0/0.0 with eps clamp) must dominate every balanced one
    assert got["bad"]["psi_bp"] > 10 * got["s1"]["psi_bp"]
    assert got["bad"]["tvd_bp"] == 4000  # 0.5*(|1-.6|+|0-.4|)


def test_group_drift_topk_rollup_and_errors(spark):
    import pytest as _pytest

    from evalidate_spark.operators.table_checks import group_drift

    df = spark.createDataFrame(
        [("a", str(i % 7)) for i in range(70)] + [("b", "0")] * 10,
        "g string, v string",
    )
    out = group_drift(df, "g", "v", top_k=2).collect()
    assert {r["g"] for r in out} == {"a", "b"}
    with _pytest.raises(ValueError):
        group_drift(df, "g", "v", top_k=0)


def test_cardinality_check_hand_built(spark):
    from evalidate_spark.operators.table_checks import cardinality_check

    parent = spark.createDataFrame(
        [(1,), (2,), (3,), (None,)], "pk long"
    )
    child = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (9,), (9,), (None,)], "fk long"
    )
    [r] = cardinality_check(child, parent, "fk", "pk").collect()
    # parents: 4 key groups (incl. NULL); matched: 1 and 2
    assert r["parents"] == 4 and r["children"] == 7
    assert r["matched_parents"] == 2
    # childless: 3 and the NULL parent key
    assert r["childless_parents"] == 2
    # orphans: two 9s + the NULL fk row
    assert r["orphan_children"] == 3
    assert (r["min_children"], r["max_children"]) == (1, 3)


def test_cardinality_check_empty_sides(spark):
    from evalidate_spark.operators.table_checks import cardinality_check

    parent = spark.createDataFrame([(1,)], "pk long")
    child = spark.createDataFrame([], "fk long")
    [r] = cardinality_check(child, parent, "fk", "pk").collect()
    assert (r["parents"], r["children"], r["childless_parents"]) == (1, 0, 1)
    assert (r["min_children"], r["max_children"]) == (0, 0)


class TestFreshness:
    def test_fresh_and_stale(self, spark):
        from evalidate_spark.operators.table_checks import freshness

        df = spark.createDataFrame(
            [("2024-03-01 10:00:00",), ("2024-03-02 08:30:00",), (None,)],
            "ts_s string",
        ).selectExpr("cast(ts_s AS timestamp) AS ts")
        [r] = freshness(df, "ts", "2024-03-02 12:00:00", max_lag_hours=6).collect()
        assert r["lag_s"] == 12600 and r["fresh"] is True
        [r2] = freshness(df, "ts", "2024-03-03 12:00:00", max_lag_hours=6).collect()
        assert r2["fresh"] is False and r2["lag_s"] == 12600 + 86400
        assert r["max_ts_s"] == r2["max_ts_s"]

    def test_empty_and_all_null_are_stale(self, spark):
        from evalidate_spark.operators.table_checks import freshness

        empty = spark.createDataFrame([], "ts timestamp")
        [r] = freshness(empty, "ts", "2024-03-02 12:00:00").collect()
        assert r["max_ts_s"] is None and r["lag_s"] is None and r["fresh"] is False
        nulls = spark.createDataFrame([(None,), (None,)], "x int").selectExpr(
            "cast(NULL AS timestamp) AS ts"
        )
        [r2] = freshness(nulls, "ts", "2024-03-02 12:00:00").collect()
        assert r2["fresh"] is False

    def test_bad_args(self, spark):
        from evalidate_spark.operators.table_checks import freshness

        df = spark.createDataFrame([], "ts timestamp")
        with pytest.raises(ValueError, match="as_of"):
            freshness(df, "ts", "yesterday")
        with pytest.raises(ValueError, match="positive"):
            freshness(df, "ts", "2024-03-02 12:00:00", max_lag_hours=0)


class TestViolationExamples:
    def _viol(self, spark):
        rows = [(i, 1, "r_size", "text", f"m{i}") for i in range(100)]
        rows += [(i, 2, "r_type", "lang", f"t{i}") for i in range(5)]
        rows += [(None, 3, "r_req", "doc_id", "missing")] * 2
        return spark.createDataFrame(
            rows,
            "doc_id long, rule_seq int, rule_id string, key_path string, "
            "message string",
        )

    def test_cap_and_determinism(self, spark):
        from evalidate_spark.operators.table_checks import violation_examples

        v = self._viol(spark)
        got = violation_examples(v, per_rule=3).collect()
        by_rule = {}
        for r in got:
            by_rule.setdefault(r["rule_id"], []).append(tuple(r))
        assert len(by_rule["r_size"]) == 3
        assert len(by_rule["r_type"]) == 3
        assert len(by_rule["r_req"]) == 2  # only 2 exist
        # partitioning must not change the picks
        again = violation_examples(v.repartition(7), per_rule=3).collect()
        assert sorted(map(tuple, again), key=str) == sorted(map(tuple, got), key=str)
        with pytest.raises(ValueError, match="positive"):
            violation_examples(v, per_rule=0)

    def test_hash_spread_not_scan_order(self, spark):
        from evalidate_spark.operators.table_checks import violation_examples

        v = self._viol(spark)
        picks = {
            r["doc_id"]
            for r in violation_examples(v, per_rule=3).collect()
            if r["rule_id"] == "r_size"
        }
        # md5 rank over 0..99 is (vanishingly) unlikely to pick {0,1,2}
        assert picks != {0, 1, 2}


class TestInclusionDeps:
    def test_containment_math_and_verdicts(self, spark):
        from evalidate_spark.operators.table_checks import inclusion_deps

        child = spark.createDataFrame(
            [(1,), (1,), (2,), (3,), (4,), (None,)], "k long"
        )
        parent = spark.createDataFrame(
            [(1,), (2,), (2,), (None,)], "k long"
        )
        out = inclusion_deps([
            ("c->p", child, "k", parent, "k"),
            ("p->c", parent, "k", child, "k"),
            ("c->c", child, "k", child, "k"),
        ]).collect()
        rows = {r["pair"]: r for r in out}
        # child distinct {1,2,3,4}; parent distinct {1,2} -> 2 missing
        r = rows["c->p"]
        assert (r["n_child_distinct"], r["n_missing"]) == (4, 2)
        assert r["containment_bp"] == 5000 and r["fk_candidate"] is False
        # parent {1,2} fully inside child
        r = rows["p->c"]
        assert (r["n_child_distinct"], r["n_missing"]) == (2, 0)
        assert r["containment_bp"] == 10000 and r["fk_candidate"] is True
        # reflexive is always a full containment
        assert rows["c->c"]["fk_candidate"] is True

    def test_empty_child_and_bad_args(self, spark):
        from evalidate_spark.operators.table_checks import inclusion_deps
        import pytest as _pytest

        empty = spark.createDataFrame([(None,)], "k long")
        parent = spark.createDataFrame([(1,)], "k long")
        r = inclusion_deps([("e->p", empty, "k", parent, "k")]).collect()[0]
        assert (r["n_child_distinct"], r["n_missing"]) == (0, 0)
        assert r["containment_bp"] is None and r["fk_candidate"] is False
        with _pytest.raises(ValueError):
            inclusion_deps([])

    def test_join_is_on_distinct_sets(self, spark):
        from evalidate_spark.operators.table_checks import inclusion_deps

        child = spark.range(0, 1000).withColumnRenamed("id", "k")
        parent = spark.range(0, 500).withColumnRenamed("id", "k")
        df = inclusion_deps([("c->p", child, "k", parent, "k")])
        plan = df._jdf.queryExecution().executedPlan().toString()
        # both sides aggregate to distinct BEFORE the join: the join input
        # is bounded by key cardinality, never raw row count
        assert plan.count("HashAggregate") >= 4
        r = df.collect()[0]
        assert r["containment_bp"] == 5000


class TestCorrelationMatrix:
    def test_known_correlations(self, spark):
        from evalidate_spark.operators.table_checks import correlation_matrix

        rows = [(float(i), 2.0 * i + 3.0, -1.0 * i, 7.0) for i in range(50)]
        df = spark.createDataFrame(rows, "a double, b double, c double, k double")
        out = {
            (r["col_x"], r["col_y"]): r
            for r in correlation_matrix(df, ["a", "b", "c", "k"]).collect()
        }
        assert len(out) == 6
        assert out[("a", "b")]["corr_bp"] == 10000   # perfect linear
        assert out[("a", "c")]["corr_bp"] == -10000  # perfect inverse
        assert out[("a", "k")]["corr_bp"] is None    # zero variance side
        assert out[("a", "b")]["n_pairs"] == 50

    def test_pairwise_deletion_and_degenerate(self, spark):
        from evalidate_spark.operators.table_checks import correlation_matrix
        import pytest as _pytest

        df = spark.createDataFrame(
            [(1.0, 1.0), (2.0, None), (None, 3.0), (4.0, 4.0), (None, None)],
            "a double, b double",
        )
        r = correlation_matrix(df, ["a", "b"]).collect()[0]
        assert r["n_pairs"] == 2 and r["corr_bp"] == 10000
        # a single overlapping row -> no correlation defined
        one = spark.createDataFrame(
            [(1.0, 1.0), (2.0, None)], "a double, b double"
        )
        assert correlation_matrix(one, ["a", "b"]).collect()[0]["corr_bp"] is None
        with _pytest.raises(ValueError):
            correlation_matrix(df, ["a"])

    def test_single_aggregate_plan(self, spark):
        from evalidate_spark.operators.table_checks import correlation_matrix

        df = spark.range(100).select(
            (F.col("id") * 1.0).alias("a"),
            (F.col("id") * 2.0).alias("b"),
            (F.col("id") % 7 * 1.0).alias("c"),
        )
        plan = (
            correlation_matrix(df, ["a", "b", "c"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        # one partial + one final aggregate, one exchange: a single scan
        # computes every pair's moments
        assert plan.count("Exchange") == 1
