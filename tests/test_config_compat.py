"""Reference-TOML drop-in compatibility + HF save_to_disk source.

Loads all 8 shipped reference configs VERBATIM (reference ``configs/``),
then runs the 4 benchmark configs end-to-end on a synthetic HF-dir corpus
with only input/output paths overridden — the exact porting story the
config module promises.
"""

import glob
import json
import os

import pytest

from text_dedup_spark.config import load_config

REF_CONFIG_DIR = "/root/reference/configs"


@pytest.fixture(scope="module")
def hf_corpus_dir(spark, tmp_path_factory):
    """Synthetic near-dup corpus written in HF save_to_disk layout."""
    import numpy as np

    from text_dedup_spark.sources.hf_dataset import write_hf_dataset_dir

    rng = np.random.RandomState(3)
    words = [f"tok{i}" for i in range(300)]

    def doc(n):
        return " ".join(words[i] for i in rng.randint(0, 300, size=n))

    texts = [doc(rng.randint(20, 80)) for _ in range(200)]
    for i in range(0, 40, 2):  # 20 near-dup pairs
        texts[i + 1] = texts[i] + " extra"
    df = spark.createDataFrame(
        [(t,) for t in texts], "text string"
    )
    out = str(tmp_path_factory.mktemp("hfds") / "corpus")
    write_hf_dataset_dir(df, out, shards=3)
    return out


class TestReferenceTomlParse:
    def test_all_reference_configs_parse_unmodified(self):
        paths = sorted(glob.glob(f"{REF_CONFIG_DIR}/*.toml"))
        assert len(paths) == 8
        for p in paths:
            cfg = load_config(p)
            assert cfg.algorithm.algorithm_name in {
                "minhash",
                "simhash",
                "bloom_filter",
                "suffix_array",
            }, p

    def test_reference_only_fields_recorded(self):
        cfg = load_config(f"{REF_CONFIG_DIR}/minhash.toml")
        assert cfg.algorithm.batch_size == 10000
        cfg2 = load_config(f"{REF_CONFIG_DIR}/suffix_array.toml")
        assert cfg2.algorithm.google_repo_path is not None
        assert cfg2.algorithm.cache_dir == ".cache"

    def test_unknown_fields_still_raise(self, tmp_path):
        p = tmp_path / "typo.toml"
        p.write_text("[algorithm]\nalgorithm_name='minhash'\nnum_prm=6\n")
        with pytest.raises(ValueError, match="num_prm"):
            load_config(str(p))


class TestBenchmarkConfigsRun:
    @pytest.mark.parametrize(
        "name",
        [
            "benchmark_core_minhash",
            "benchmark_core_simhash",
            "benchmark_news_minhash",
            "benchmark_news_simhash",
        ],
    )
    def test_runs_on_synthetic_corpus(self, spark, hf_corpus_dir, tmp_path, name):
        from text_dedup_spark.pipeline import run_pipeline

        cfg = load_config(f"{REF_CONFIG_DIR}/{name}.toml")
        # the only edits a reference user makes: input + output locations
        cfg.input.read_arguments = {"dataset_path": hf_corpus_dir}
        cfg.output.output_dir = str(tmp_path / name)
        summary = run_pipeline(cfg, spark=spark)
        assert summary["rows_after"] > 0
        assert summary["rows_after"] <= 200
        # near-dup pairs were planted, so dedup must remove something
        assert summary["rows_after"] < 200


class TestHfSource:
    def test_read_roundtrip(self, spark, hf_corpus_dir):
        from text_dedup_spark.sources.hf_dataset import HF_ROW_COL, read_hf_dataset_dir

        df = read_hf_dataset_dir(spark, hf_corpus_dir)
        assert df.count() == 200
        assert df.columns == ["text", HF_ROW_COL]
        assert read_hf_dataset_dir(
            spark, hf_corpus_dir, with_row_index=False
        ).columns == ["text"]

    def test_row_index_is_on_disk_order(self, spark, hf_corpus_dir):
        """__hf_row__ must equal the HF on-disk position even though the
        shard tasks are hash-partitioned (the order-scrambling this column
        exists to fix): reading back in __hf_row__ order reproduces the
        exact sequence that was written across 3 shards."""
        import pyarrow as pa

        from text_dedup_spark.sources.hf_dataset import (
            HF_ROW_COL,
            _shard_files,
            read_hf_dataset_dir,
        )

        written = []
        for f in _shard_files(hf_corpus_dir):
            with pa.memory_map(f) as src:
                for batch in pa.ipc.open_stream(src):
                    written.extend(batch.to_pandas()["text"].tolist())
        df = read_hf_dataset_dir(spark, hf_corpus_dir)
        got = [
            r["text"] for r in df.orderBy(HF_ROW_COL).select("text").collect()
        ]
        assert got == written

    def test_dataset_dict_layout(self, spark, hf_corpus_dir, tmp_path):
        root = tmp_path / "dictds"
        os.makedirs(root / "train")
        for f in os.listdir(hf_corpus_dir):
            os.link(os.path.join(hf_corpus_dir, f), root / "train" / f)
        with open(root / "dataset_dict.json", "w") as f:
            json.dump({"splits": ["train"]}, f)
        from text_dedup_spark.sources.hf_dataset import read_hf_dataset_dir

        assert read_hf_dataset_dir(spark, str(root), "train[:10]").count() == 200

    @pytest.mark.parametrize(
        "split,expected",
        [
            ("train[:50]", 50),
            ("train[10:25]", 15),
            ("train[:10%]", 20),
            ("train[20%:40%]", 40),
            ("train[190:]", 10),
            ("train", 200),
        ],
    )
    def test_split_slicing(self, spark, hf_corpus_dir, split, expected):
        from text_dedup_spark.config import Config, InputConfig
        from text_dedup_spark.pipeline import read_input

        cfg = Config(
            input=InputConfig(
                input_type="local_hf_dataset",
                read_arguments={"dataset_path": hf_corpus_dir, "split": split},
            )
        )
        assert read_input(spark, cfg).count() == expected

    def test_split_slices_are_prefix_consistent(self, spark, hf_corpus_dir):
        """[:N] must be a prefix of [:M] for N<M (deterministic load order)."""
        from text_dedup_spark.config import Config, InputConfig
        from text_dedup_spark.pipeline import read_input

        from text_dedup_spark.sources.hf_dataset import HF_ROW_COL

        def rows(split):
            cfg = Config(
                input=InputConfig(
                    input_type="local_hf_dataset",
                    read_arguments={"dataset_path": hf_corpus_dir, "split": split},
                )
            )
            df = read_input(spark, cfg).orderBy(HF_ROW_COL)
            return [r["text"] for r in df.collect()]

        small, big = rows("train[:20]"), rows("train[:60]")
        assert big[:20] == small
