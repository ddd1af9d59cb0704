"""End-to-end pipeline runner tests: TOML config, all four algorithms,
checkpoint resume semantics."""

import json
from pathlib import Path

import pytest

from text_dedup_spark.config import load_config
from text_dedup_spark.pipeline import run_pipeline
from text_dedup_spark.sources.web_pages import make_web_pages


@pytest.fixture(scope="module")
def input_parquet(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pipein")
    corpus = make_web_pages(n_docs=200, seed=3)
    spark.createDataFrame(corpus.pages).write.mode("overwrite").parquet(str(d / "pages"))
    return str(d / "pages")


def write_config(tmp_path: Path, input_path: str, algo_section: str, outdir: str, extra_output: str = "", spark_section: str = "") -> str:
    cfg = f"""
[input]
input_type = "local_files"
file_type = "parquet"
[input.read_arguments]
path = "{input_path}"

[algorithm]
text_column = "text"
{algo_section}

[output]
output_dir = "{outdir}"
{extra_output}
{spark_section}
"""
    p = tmp_path / "config.toml"
    p.write_text(cfg)
    return str(p)


class TestPipeline:
    def test_minhash_toml_run(self, spark, input_parquet, tmp_path):
        cfgp = write_config(
            tmp_path,
            input_parquet,
            'algorithm_name = "minhash"\nnum_perm = 64\nngram_size = 2\nthreshold = 0.5\nmin_length = 5',
            str(tmp_path / "out"),
            extra_output="save_clusters = true",
        )
        summary = run_pipeline(load_config(cfgp), spark=spark)
        assert summary["rows_after"] > 0
        data = spark.read.parquet(str(tmp_path / "out/data"))
        assert "__INDEX__" in data.columns  # save_clusters forces keep-index
        assert "__duplicate__" not in data.columns
        clusters = spark.read.parquet(str(tmp_path / "out/clusters"))
        assert clusters.columns == ["id", "cluster"]
        assert clusters.count() > 0

    def test_bloom_filter_run(self, spark, input_parquet, tmp_path):
        cfgp = write_config(
            tmp_path,
            input_parquet,
            'algorithm_name = "bloom_filter"',
            str(tmp_path / "out"),
        )
        summary = run_pipeline(load_config(cfgp), spark=spark)
        n_distinct = spark.read.parquet(input_parquet).select("text").distinct().count()
        assert summary["rows_after"] == n_distinct

    def test_suffix_array_run(self, spark, input_parquet, tmp_path):
        cfgp = write_config(
            tmp_path,
            input_parquet,
            'algorithm_name = "suffix_array"\nlength_threshold = 100\nmerge_strategy = "longest"',
            str(tmp_path / "out"),
        )
        summary = run_pipeline(load_config(cfgp), spark=spark)
        assert 0 < summary["rows_after"] <= 200

    def test_simhash_run_and_resume(self, spark, input_parquet, tmp_path):
        run_dir = tmp_path / "ckpts"
        cfgp = write_config(
            tmp_path,
            input_parquet,
            'algorithm_name = "simhash"\nf = 64\nbit_diff = 3\nnum_bucket = 4\nngram_size = 3',
            str(tmp_path / "out"),
            spark_section=f'[spark]\nrun_dir = "{run_dir}"',
        )
        s1 = run_pipeline(load_config(cfgp), spark=spark)
        assert all(not st["resumed"] for st in s1["stages"])
        manifest = json.loads((run_dir / "assigned" / "manifest.json").read_text())
        assert manifest["rows"] == 200 and "partition_skew" in manifest
        # second run resumes every stage from checkpoints
        s2 = run_pipeline(load_config(cfgp), spark=spark)
        assert all(st["resumed"] for st in s2["stages"])
        assert s2["rows_after"] == s1["rows_after"]
        # changed config -> stage re-runs
        cfgp3 = write_config(
            tmp_path,
            input_parquet,
            'algorithm_name = "simhash"\nf = 64\nbit_diff = 2\nnum_bucket = 4\nngram_size = 3',
            str(tmp_path / "out"),
            spark_section=f'[spark]\nrun_dir = "{run_dir}"',
        )
        s3 = run_pipeline(load_config(cfgp3), spark=spark)
        assigned_stage = [st for st in s3["stages"] if st["stage"] == "assigned"][0]
        assert not assigned_stage["resumed"]


    def test_minhash_label_checkpoint_and_resume(self, spark, tmp_path):
        """With ``index_column`` no ``ids`` copy of the input is made and the
        ``assigned`` checkpoint holds only the labels; the outputs equal a
        run without ``run_dir`` and a second run resumed from checkpoints."""
        import pickle

        import pandas as pd

        pages = make_web_pages(n_docs=200, seed=3).pages[["url", "text", "lang"]]
        # docs under min_length: no labels, so the id rejoin must drop them
        short = pd.DataFrame({"url": ["s0", "s1"], "text": ["too short", ""], "lang": ["en", "en"]})
        pages = pd.concat([pages, short], ignore_index=True)
        pages.insert(0, "doc_id", range(1000, 1000 + len(pages)))
        src = tmp_path / "pages"
        spark.createDataFrame(pages).write.parquet(str(src))
        algo = (
            'algorithm_name = "minhash"\nindex_column = "doc_id"\nnum_perm = 64\n'
            "ngram_size = 2\nthreshold = 0.5\nmin_length = 5"
        )
        run_dir = tmp_path / "ckpts"

        def run(name: str, checkpointed: bool):
            out = tmp_path / name
            cfgp = write_config(
                tmp_path,
                str(src),
                algo,
                str(out),
                extra_output="save_clusters = true",
                spark_section=f'[spark]\nrun_dir = "{run_dir}"' if checkpointed else "",
            )
            summary = run_pipeline(load_config(cfgp), spark=spark)
            data = spark.read.parquet(str(out / "data"))
            rows = sorted(data.collect(), key=lambda r: r["__INDEX__"])
            clusters = sorted(map(tuple, spark.read.parquet(str(out / "clusters")).collect()))
            with open(out / "clusters.pickle", "rb") as f:
                mapping = pickle.load(f)
            outputs = (data.columns, rows, clusters, mapping, summary["rows_after"])
            return summary, outputs

        _, plain = run("plain", checkpointed=False)
        s1, first = run("ckpt", checkpointed=True)
        # same config, so the same config hash: every stage resumes
        s2, resumed = run("ckpt", checkpointed=True)
        assert first == plain and resumed == plain
        columns, rows, clusters, mapping, rows_after = plain
        assert clusters and mapping == dict(clusters)
        assert rows_after == len(rows)
        assert not {1200, 1201} & {r["__INDEX__"] for r in rows}

        assert [st["stage"] for st in s1["stages"]] == ["assigned"]
        assert not s1["stages"][0]["resumed"] and s2["stages"][0]["resumed"]
        assert not (run_dir / "ids").exists()
        labels = spark.read.parquet(str(run_dir / "assigned" / "data"))
        assert labels.columns == ["__INDEX__", "__CLUSTER__", "__duplicate__"]
        manifest = json.loads((run_dir / "assigned" / "manifest.json").read_text())
        lineage = spark.read.parquet(str(run_dir / "assigned" / "lineage"))
        assert lineage.columns == ["partition_id", "rows"]
        assert manifest["rows"] == sum(r["rows"] for r in lineage.collect()) == labels.count()
        assert labels.where("__INDEX__ >= 1200").count() == 0
        assert "partition_skew" in manifest


class TestSplitSlicing:
    def test_apply_split(self, spark):
        from text_dedup_spark.pipeline import _apply_split

        df = spark.range(100)
        assert _apply_split(df, None).count() == 100
        assert _apply_split(df, "train").count() == 100
        assert _apply_split(df, "train[:10]").count() == 10
        assert _apply_split(df, "train[:2%]").count() == 2


class TestCsvJsonInput:
    @pytest.mark.parametrize("fmt", ["csv", "json"])
    def test_reads_and_dedups(self, spark, tmp_path, fmt):
        corpus = make_web_pages(n_docs=80, seed=5)
        pdf = corpus.pages[["url", "text", "lang"]]
        src = tmp_path / f"src_{fmt}"
        df = spark.createDataFrame(pdf)
        getattr(df.write.option("header", "true").mode("overwrite"), fmt)(str(src))
        cfgp = write_config(
            tmp_path,
            str(src),
            'algorithm_name = "bloom_filter"',
            str(tmp_path / f"out_{fmt}"),
        )
        # patch file_type
        text = open(cfgp).read().replace('file_type = "parquet"', f'file_type = "{fmt}"')
        open(cfgp, "w").write(text)
        summary = run_pipeline(load_config(cfgp), spark=spark)
        n_distinct = len(set(pdf["text"]))
        assert summary["rows_after"] == n_distinct


class TestEmbeddingPipeline:
    """TOML-driven embedding-cosine dedup (algorithm_name = "embedding") —
    the beyond-reference flagship path, drivable like the four reference
    pipelines. profile="scale" must resolve candidate_mode "auto" -> "lsh"
    (never a quadratic block-pair plan)."""

    @staticmethod
    def _planted_embeddings(spark, path: str, n: int = 120, dim: int = 16):
        import numpy as np

        rng = np.random.RandomState(9)
        base = rng.randn(n // 3, dim)
        rows = []
        for i in range(n):
            b = base[i % (n // 3)]
            if i < n // 3:
                v = b
            elif i < 2 * n // 3:
                v = b + rng.randn(dim) * 0.02  # near-dup of its base (cos ~0.999)
            else:
                v = rng.randn(dim)
            v = v / np.linalg.norm(v)
            rows.append((i, [float(x) for x in v]))
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).write.mode("overwrite").parquet(path)

    def test_toml_run_parity_then_scale_profile(self, spark, tmp_path):
        emb_path = str(tmp_path / "emb")
        self._planted_embeddings(spark, emb_path)
        algo = (
            'algorithm_name = "embedding"\nindex_column = "vec_id"\n'
            "cosine_threshold = 0.95"
        )
        cfgp = write_config(
            tmp_path, emb_path, algo, str(tmp_path / "out"),
            extra_output="save_clusters = true",
        )
        summary = run_pipeline(load_config(cfgp), spark=spark)
        # parity keeps "auto" (the size gate resolves to all_pairs inside
        # cosine_edges — pinned by test_embedding_dedup.test_auto_gate_dispatch)
        assert summary["embedding_candidate_mode"] == "auto"
        clusters = spark.read.parquet(str(tmp_path / "out/clusters"))
        # both members of a cluster are flagged (cc labels include roots):
        # 40 planted pairs -> ~80 flagged rows, ~40 non-representatives dropped
        assert clusters.count() >= 2 * 40 * 0.9
        n_non_rep = clusters.where("id != cluster").count()
        assert summary["rows_after"] == 120 - n_non_rep  # representatives kept

        cfgp2 = write_config(
            tmp_path, emb_path, algo + '\nprofile = "scale"',
            str(tmp_path / "out_scale"), extra_output="save_clusters = true",
        )
        s2 = run_pipeline(load_config(cfgp2), spark=spark)
        assert s2["embedding_candidate_mode"] == "lsh"
        # deterministic seeded hyperplanes: the LSH run reproduces the exact
        # clustering on the planted high-cosine corpus
        got = {
            (r["id"], r["cluster"])
            for r in spark.read.parquet(str(tmp_path / "out_scale/clusters")).collect()
        }
        want = {(r["id"], r["cluster"]) for r in clusters.collect()}
        assert got == want

    def test_scale_lsh_plan_has_no_block_pair_stage(self, spark, tmp_path):
        from text_dedup_spark.functions.embedding_dedup import lsh_cosine_edges

        emb_path = str(tmp_path / "emb2")
        self._planted_embeddings(spark, emb_path, n=60)
        df = spark.read.parquet(emb_path)
        edges = lsh_cosine_edges(df, threshold=0.95, eager=False)
        plan = edges._jdf.queryExecution().executedPlan().toString()
        # the quadratic path shows up as a grouped-pandas block-pair stage
        assert "FlatMapGroupsInPandas" not in plan, plan


class TestScaleProfileIds:
    def test_scale_profile_skips_global_window(self, spark, input_parquet, tmp_path):
        # under profile="scale" with no index_column, id assignment must not
        # plan a single-partition global window (the web-scale killer)
        from text_dedup_spark.config import load_config as _lc
        from text_dedup_spark.pipeline import _with_ids, read_input

        cfgp = write_config(
            tmp_path,
            input_parquet,
            'algorithm_name = "minhash"\nnum_perm = 16\nprofile = "scale"',
            str(tmp_path / "out_scale"),
        )
        cfg = _lc(cfgp)
        ids_df = _with_ids(read_input(spark, cfg), cfg)
        plan = ids_df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        n = ids_df.count()
        assert ids_df.select("__INDEX__").distinct().count() == n  # unique
        assert ids_df.where("__INDEX__ < 0").count() == 0

        # parity profile keeps reference 0..n-1 ordinals
        cfgp2 = write_config(
            tmp_path,
            input_parquet,
            'algorithm_name = "minhash"\nnum_perm = 16',
            str(tmp_path / "out_parity"),
        )
        cfg2 = _lc(cfgp2)
        ids2 = _with_ids(read_input(spark, cfg2), cfg2)
        got = sorted(r[0] for r in ids2.select("__INDEX__").collect())
        assert got == list(range(len(got)))

    def test_scale_profile_pipeline_runs(self, spark, input_parquet, tmp_path):
        cfgp = write_config(
            tmp_path,
            input_parquet,
            'algorithm_name = "minhash"\nnum_perm = 16\nngram_size = 2\nthreshold = 0.5\nprofile = "scale"',
            str(tmp_path / "out_scale_run"),
        )
        summary = run_pipeline(load_config(cfgp), spark=spark)
        assert summary["rows_after"] > 0
        # scale pins the hot-band-safe star-edge form
        assert summary["band_edges_mode"] == "salted"

    def test_parity_profile_keeps_window_edges(self, spark, input_parquet, tmp_path):
        cfgp = write_config(
            tmp_path,
            input_parquet,
            'algorithm_name = "minhash"\nnum_perm = 16\nngram_size = 2\nthreshold = 0.5',
            str(tmp_path / "out_parity_edges"),
        )
        summary = run_pipeline(load_config(cfgp), spark=spark)
        assert summary["band_edges_mode"] == "window"


class TestCatalogTableIO:
    def test_table_input_and_table_output(self, spark, input_parquet, tmp_path):
        # input_type="table" reads from the session catalog (Iceberg/Delta
        # slot in via the same call when their catalogs are configured);
        # output_table saves back through the catalog
        spark.read.parquet(input_parquet).createOrReplaceTempView("pages_view")
        cfg = f"""
[input]
input_type = "table"
[input.read_arguments]
table = "pages_view"

[algorithm]
algorithm_name = "bloom_filter"
text_column = "text"

[output]
output_dir = "{tmp_path / 'out_tbl'}"
output_table = "dedup_out_tbl"
"""
        p = tmp_path / "table_config.toml"
        p.write_text(cfg)
        summary = run_pipeline(load_config(str(p)), spark=spark)
        assert summary["rows_after"] > 0
        got = spark.table("dedup_out_tbl").count()
        assert got == summary["rows_after"]
        spark.sql("DROP TABLE dedup_out_tbl")

    def test_output_table_saved_from_written_data(self, spark, input_parquet, tmp_path):
        """The table holds the ``data`` output, and saving it reads that
        output back instead of running the dedup plan a second time: the
        same number of executions run the fingerprint UDF (or scan its
        cache) with and without ``output_table``."""
        store = spark._jsparkSession.sharedState().statusStore()

        def last_execution_id() -> int:
            execs = store.executionsList()
            return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

        def plans_since(last_id: int) -> list[str]:
            # newest first; ids ascend, and old entries may have been evicted
            execs, plans = store.executionsList(), []
            for i in range(execs.size() - 1, -1, -1):
                if execs.apply(i).executionId() <= last_id:
                    break
                plans.append(execs.apply(i).physicalPlanDescription())
            return plans

        def dedup_plan_runs(extra_output: str, tag: str) -> int:
            cfgp = write_config(
                tmp_path,
                input_parquet,
                'algorithm_name = "minhash"\nnum_perm = 64\nngram_size = 2\nthreshold = 0.5',
                str(tmp_path / f"out_{tag}"),
                extra_output=extra_output,
            )
            last_id = last_execution_id()
            run_pipeline(load_config(cfgp), spark=spark)
            plans = plans_since(last_id)
            return sum("ArrowEvalPython" in p or "InMemoryTableScan" in p for p in plans)

        try:
            with_table = dedup_plan_runs('output_table = "dedup_minhash_tbl"', "tbl")
            assert with_table == dedup_plan_runs("", "plain") > 0
            table = spark.table("dedup_minhash_tbl")
            data = spark.read.parquet(str(tmp_path / "out_tbl/data"))
            assert table.columns == data.columns
            assert sorted(table.collect()) == sorted(data.collect())
        finally:
            spark.sql("DROP TABLE IF EXISTS dedup_minhash_tbl")
