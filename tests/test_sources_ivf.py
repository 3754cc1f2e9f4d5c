"""Source/sink seam (Iceberg detection + parquet fallback), ResultSink,
and the IVF cell-partitioned index with partition-pruned probing."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from evalidate_spark import Rule, Size, validate
from evalidate_spark import sources
from evalidate_spark.functions import similarity


class TestSources:
    def test_iceberg_absent_in_sandbox(self, spark):
        # no iceberg-spark-runtime jar here — the seam must detect that
        assert sources.iceberg_available(spark) is False

    def test_parquet_roundtrip(self, spark, tmp_path):
        p = str(tmp_path / "t")
        df = spark.range(10).select(F.col("id").alias("x"))
        sources.write_table(df, p, mode="overwrite")
        assert sources.read_table(spark, p).count() == 10

    def test_snapshot_requires_iceberg(self, spark, tmp_path):
        p = str(tmp_path / "t2")
        spark.range(3).write.parquet(p)
        with pytest.raises(ValueError, match="Iceberg runtime"):
            sources.read_table(spark, p, snapshot_id=123)

    def test_dotted_filenames_are_paths(self, spark, tmp_path):
        # 'data.parquet' is a filesystem path, never an Iceberg identifier
        from evalidate_spark.sources import _is_iceberg_ref

        for ref in ("data.parquet", "out/x.parquet", "dir/db.tbl", "a.b.csv"):
            assert not _is_iceberg_ref(ref, spark), ref
        assert _is_iceberg_ref("iceberg:db.tbl", spark)
        p = str(tmp_path / "data.parquet")
        spark.range(4).write.parquet(p)
        assert sources.read_table(spark, p).count() == 4

    def test_result_sink_layout(self, spark, tmp_path):
        root = str(tmp_path / "out")
        df = spark.createDataFrame(
            [("d1", "okay text"), ("d2", "x")], "doc_id string, text string"
        )
        res = validate(df, [Rule(key="doc_id"), Rule(key="text", validators=[Size(5, 100)])],
                       id_cols=["doc_id"])
        refs = sources.ResultSink(root).write(res, mode="overwrite")
        assert spark.read.parquet(refs["violations"]).count() == 1
        verd = spark.read.parquet(refs["verdicts"])
        assert verd.agg(F.sum("rows")).collect()[0][0] == 2
        met = spark.read.parquet(refs["metrics"]).collect()
        assert met and met[0]["violations"] == 1


class TestBucketedJoin:
    def test_cobucketed_join_is_shuffle_free(self, spark):
        from pyspark.sql import functions as F

        spark.sql("DROP TABLE IF EXISTS bt_fact")
        spark.sql("DROP TABLE IF EXISTS bt_dim")
        fact = spark.range(5000).select(
            (F.col("id") % 500).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(500).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
        )
        sources.write_bucketed(fact, "bt_fact", "k", 8)
        sources.write_bucketed(dim, "bt_dim", "k", 8)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = spark.table("bt_fact").join(spark.table("bt_dim"), "k")
            plan = j._jdf.queryExecution().executedPlan().toString()
            # co-bucketed layout: the join runs with ZERO exchanges
            assert "Exchange" not in plan, plan
            assert j.count() == 5000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS bt_fact")
            spark.sql("DROP TABLE IF EXISTS bt_dim")


class TestIvfPartitioned:
    def test_pruned_probe_matches_unpartitioned(self, spark, tmp_path):
        rng = np.random.default_rng(3)
        vecs = rng.standard_normal((80, 8))
        corpus = spark.createDataFrame(
            [(int(i), [float(v) for v in vecs[i]]) for i in range(80)],
            "vec_id long, embedding array<double>",
        )
        probes = spark.createDataFrame(
            [(int(i), [float(v) for v in vecs[i] + 0.01]) for i in range(3)],
            "query_id long, embedding array<double>",
        )
        path = str(tmp_path / "ivf")
        cents = similarity.ivf_write(corpus, path, n_centroids=4, sample_n=80, seed=5)
        got = similarity.ivf_topk_partitioned(
            spark, path, cents, probes, k=5, nprobe=2
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "cell" in m.group(1), plan  # scan prunes non-probed cells

        # same centroids + same nprobe through the unpartitioned path
        assigned = similarity.ivf_assign(corpus, cents).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__cv"),
            "cell",
        )
        pc = similarity.ivf_probe_cells(probes, cents, 2)
        want = (
            assigned.join(F.broadcast(pc), F.array_contains(pc["cells"], assigned["cell"]))
            .select(
                "query_id",
                "neighbor_id",
                F.round(similarity.cosine(F.col("__cv"), F.col("__pv")), 6).alias("cosine"),
            )
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        want = (
            want.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )
        key = lambda df: sorted(map(tuple, df.collect()))
        assert key(got) == key(want)
        # each probe finds itself first (it's in the corpus, shifted ~0)
        firsts = {r["query_id"]: r["neighbor_id"] for r in got.collect() if r["rank"] == 1}
        assert firsts == {0: 0, 1: 1, 2: 2}

    def test_non_finite_probe_is_not_scored(self, spark, tmp_path):
        """Like ivf_topk, a probe holding a NaN or an infinity is dropped:
        Spark sorts a NaN cosine greatest, so it would rank engine-divergently."""
        rng = np.random.default_rng(7)
        vecs = rng.standard_normal((40, 4))
        corpus = spark.createDataFrame(
            [(int(i), [float(v) for v in vecs[i]]) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        probes = spark.createDataFrame(
            [
                (1, [float(v) for v in vecs[1]]),
                (100, [float("nan"), 0.0, 1.0, 0.0]),
                (101, [float("inf"), 0.0, 1.0, 0.0]),
            ],
            "query_id long, embedding array<double>",
        )
        path = str(tmp_path / "ivf")
        cents = similarity.ivf_write(corpus, path, n_centroids=4, sample_n=40, seed=5)
        got = similarity.ivf_topk_partitioned(spark, path, cents, probes, k=3, nprobe=4)
        rows = got.collect()
        assert {r["query_id"] for r in rows} == {1}
        want = similarity.ivf_topk(corpus, probes, k=3, n_centroids=4, nprobe=4, sample_n=40, seed=5)
        assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """After write_zordered on (x, y), each output file covers a small
    bounding box in BOTH dimensions — the property parquet min/max
    pruning needs.  Compared against the unclustered layout, the mean
    per-file box area must shrink by an order of magnitude."""
    import os

    from pyspark.sql import functions as F

    from evalidate_spark.sources import write_zordered

    # uniform 2-D grid, shuffled layout
    df = spark.range(40_000).selectExpr(
        "cast(id % 200 as double) AS x",
        "cast(cast(id / 200 as int) % 200 as double) AS y",
    ).repartition(16)

    def mean_box_area(path):
        files = [
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        ]
        assert len(files) > 4
        areas = []
        for f in files:
            r = (
                spark.read.parquet(f)
                .agg(
                    F.min("x"), F.max("x"), F.min("y"), F.max("y"), F.count(F.lit(1))
                )
                .collect()[0]
            )
            if r[4] > 0:
                areas.append((r[1] - r[0] + 1) * (r[3] - r[2] + 1))
        return sum(areas) / len(areas)

    naive = str(tmp_path / "naive")
    df.write.mode("overwrite").parquet(naive)
    z = str(tmp_path / "zorder")
    write_zordered(df, z, ["x", "y"], bits=8, num_files=64)

    # same data back
    assert spark.read.parquet(z).count() == 40_000
    assert sorted(spark.read.parquet(z).columns) == ["x", "y"]
    naive_area = mean_box_area(naive)
    z_area = mean_box_area(z)
    assert z_area < naive_area / 20, (naive_area, z_area)


class TestJsonlSource:
    def _write(self, tmp_path, lines, name="in.jsonl"):
        p = str(tmp_path / name)
        with open(p, "w") as f:
            f.write("\n".join(lines))
        return p

    def test_permissive_split_and_violations(self, spark, tmp_path):
        from evalidate_spark import sources

        long_bad = '{"doc_id":"long","text":"' + "x" * 200
        lines = [
            '{"doc_id":"a","text":"hello","n":1}',
            '{"doc_id":"b","text":"world","n":"notanint"}',  # type mismatch
            '{broken <json>',                                  # malformed
            '{"doc_id":"d","text":null,"n":3}',                # valid with null field
            '',                                                # blank: skipped
            long_bad,                                          # >128 chars, malformed
        ]
        clean, corrupt = sources.read_jsonl(
            spark, self._write(tmp_path, lines),
            "doc_id string, text string, n bigint",
        )
        got = {r["doc_id"]: (r["text"], r["n"]) for r in clean.collect()}
        assert got == {"a": ("hello", 1), "d": (None, 3)}
        craw = {r["raw_record"]: r["doc_id"] for r in corrupt.collect()}
        # type-mismatch row keeps its partially-parsed id; malformed rows don't
        assert craw[lines[1]] == "b"
        assert craw["{broken <json>"] is None
        assert craw[long_bad] is None  # unterminated string: nothing parses

        v = {r["value_repr"]: r for r in sources.jsonl_violations(corrupt, id_col="doc_id").collect()}
        # unscriptize then 128-cut, the engine's exact message contract
        assert r"{broken \<json\>" in v
        row = v[r"{broken \<json\>"]
        assert (row["rule_id"], row["message"], row["doc_id"]) == (
            "source:jsonl", "Malformed JSON record", None
        )
        cut = [k for k in v if k.endswith("...")]
        assert len(cut) == 1 and len(cut[0]) == 131  # 128 + '...'

    def test_csv_permissive_split_and_violations(self, spark, tmp_path):
        from evalidate_spark import sources

        lines = [
            "a,hello,1",
            "b,world,notanint",   # type mismatch -> corrupt, id kept
            "c,solo",             # too few tokens -> corrupt
            "d,,3",               # empty field parses as NULL
        ]
        clean, corrupt = sources.read_csv(
            spark, self._write(tmp_path, lines),
            "doc_id string, text string, n bigint",
        )
        got = {r["doc_id"]: (r["text"], r["n"]) for r in clean.collect()}
        assert got == {"a": ("hello", 1), "d": (None, 3)}
        craw = {r["raw_record"]: r["doc_id"] for r in corrupt.collect()}
        assert craw == {"b,world,notanint": "b", "c,solo": "c"}

        v = sources.jsonl_violations(corrupt, id_col="doc_id", fmt="csv")
        rows = {r["doc_id"]: r for r in v.collect()}
        assert rows["b"]["rule_id"] == "source:csv"
        assert rows["b"]["message"] == "Malformed CSV record"
        assert rows["c"]["value_repr"] == "c,solo"

        # TSV via reader-option passthrough
        tsv = self._write(tmp_path, ["x\tt1\t7", "y\tt2\t8"], name="in.tsv")
        clean, corrupt = sources.read_csv(
            spark, tsv, "doc_id string, text string, n bigint", sep="\t"
        )
        assert clean.count() == 2 and corrupt.count() == 0
        with pytest.raises(ValueError, match="header"):
            sources.read_csv(spark, tsv, "doc_id string", header="true")

        # non-plain identifiers survive the from_csv schema handoff
        odd = self._write(tmp_path, ["a,1", "b,2"], name="odd.csv")
        clean, _ = sources.read_csv(spark, odd, "`doc id` string, `n.v` bigint")
        assert {tuple(r) for r in clean.collect()} == {("a", 1), ("b", 2)}

    def test_whitespace_only_lines_skipped(self, spark, tmp_path):
        from evalidate_spark import sources

        p = self._write(
            tmp_path, ['{"a":1}', "\t", "  ", '{"a":2}'], name="ws.jsonl"
        )
        clean, corrupt = sources.read_jsonl(spark, p, "a bigint")
        # tab-only / space-only lines are skipped, never phantom NULL rows
        assert sorted(r["a"] for r in clean.collect()) == [1, 2]
        assert corrupt.count() == 0

    def test_failfast_and_dropmalformed(self, spark, tmp_path):
        from evalidate_spark import sources
        from py4j.protocol import Py4JJavaError

        p = self._write(
            tmp_path, ['{"doc_id":"a","text":"t","n":1}', "{nope"]
        )
        ddl = "doc_id string, text string, n bigint"
        clean, _ = sources.read_jsonl(spark, p, ddl, mode="DROPMALFORMED")
        assert [r["doc_id"] for r in clean.collect()] == ["a"]
        clean, _ = sources.read_jsonl(spark, p, ddl, mode="FAILFAST")
        with pytest.raises(Exception):
            clean.collect()
        with pytest.raises(ValueError, match="mode"):
            sources.read_jsonl(spark, p, ddl, mode="WHATEVER")


class TestFileStats:
    """Storage-layout stats: binaryFile status listing (no content read)
    + footer row counts, small-file compaction verdict."""

    def _fragmented(self, spark, tmp_path, n_parts=8):
        out = str(tmp_path / "frag")
        spark.range(1000).selectExpr(
            "id", "cast(id % 7 as string) AS k"
        ).repartition(n_parts).write.mode("overwrite").parquet(out)
        return out

    def test_stats_match_duckdb_and_fs(self, spark, tmp_path):
        import duckdb
        import glob
        import os

        out = self._fragmented(spark, tmp_path)
        got = {
            r["file"]: (r["bytes"], r["n_rows"])
            for r in sources.file_stats(spark, out, with_rows=True).collect()
        }
        oracle = duckdb.sql(
            "SELECT parse_filename(filename) f, count(*) n "
            f"FROM read_parquet('{out}/*.parquet', filename=true) GROUP BY 1"
        ).fetchall()
        assert len(got) == 8 == len(oracle)
        for f, n in oracle:
            assert got[f][1] == n
        for fp in glob.glob(f"{out}/*.parquet"):
            assert got[os.path.basename(fp)][0] == os.path.getsize(fp)
        # sum of per-file rows is the table row count
        assert sum(v[1] for v in got.values()) == 1000

    def test_sizes_only_mode_lists_without_scan(self, spark, tmp_path):
        out = self._fragmented(spark, tmp_path)
        st = sources.file_stats(spark, out)
        assert st.columns == ["file", "bytes"]
        assert st.count() == 8
        # _SUCCESS and other non-parquet artifacts are excluded
        assert all(r["file"].endswith(".parquet") for r in st.collect())

    def test_storage_health_verdict(self, spark, tmp_path):
        out = self._fragmented(spark, tmp_path)
        st = sources.file_stats(spark, out)
        # tiny files vs a 1 MiB target -> all small, 1 recommended file
        h = sources.storage_health(st, target_bytes=1 << 20).collect()[0]
        assert h["n_files"] == 8 and h["small_files"] == 8
        assert h["recommended_files"] == 1
        assert h["needs_compaction"] is True
        # compacted layout passes the same check
        comp = str(tmp_path / "comp")
        spark.read.parquet(out).coalesce(1).write.parquet(comp)
        h2 = sources.storage_health(
            sources.file_stats(spark, comp), target_bytes=1 << 20
        ).collect()[0]
        assert h2["n_files"] == 1 and h2["needs_compaction"] is False
        with pytest.raises(ValueError, match="positive"):
            sources.storage_health(st, target_bytes=0)


def test_ivf_append_equals_one_shot_index(spark, tmp_path):
    """Append-maintained index ≡ an index written in one shot with the
    SAME centroids: identical probe results, partition pruning intact."""
    import re

    import numpy as np

    from evalidate_spark.functions import similarity

    rng = np.random.default_rng(11)
    base_v = rng.normal(size=(60, 8))
    inc_v = rng.normal(size=(30, 8))
    mk = lambda vs, off: spark.createDataFrame(  # noqa: E731
        [(int(i + off), [float(v) for v in vs[i]]) for i in range(len(vs))],
        "vec_id long, embedding array<double>",
    )
    base, inc = mk(base_v, 0), mk(inc_v, 1000)
    probes = spark.createDataFrame(
        [(int(i), [float(v) for v in inc_v[i] + 0.01]) for i in range(3)],
        "query_id long, embedding array<double>",
    )

    p_inc = str(tmp_path / "ivf_inc")
    cents = similarity.ivf_write(base, p_inc, n_centroids=4, sample_n=60, seed=7)
    # increment includes NULL rows that must be dropped, not appended
    dirty = inc.unionByName(
        spark.createDataFrame(
            [(None, [0.0] * 8), (5000, None)],
            "vec_id long, embedding array<double>",
        )
    )
    n = similarity.ivf_append(dirty, p_inc, cents)
    assert n == 30

    # one-shot reference: same centroids, full corpus assigned and written
    p_full = str(tmp_path / "ivf_full")
    full = base.unionByName(inc)
    similarity.ivf_assign(full, cents).select(
        "vec_id", "embedding", "cell"
    ).write.partitionBy("cell").parquet(p_full)

    got = similarity.ivf_topk_partitioned(spark, p_inc, cents, probes, k=5, nprobe=2)
    want = similarity.ivf_topk_partitioned(spark, p_full, cents, probes, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # appended neighbors are actually reachable
    assert any(r.neighbor_id >= 1000 for r in got.collect())
    # pruning still applies on the appended index
    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1)
