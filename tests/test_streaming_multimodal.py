"""Streaming dedup tests."""

import pytest


class TestStreamingDedup:
    def test_exact_dedup_stream_file_source(self, spark, tmp_path):
        from text_dedup_spark.streaming.dedup_stream import exact_dedup_stream

        src = tmp_path / "src"
        out = tmp_path / "out"
        ckpt = tmp_path / "ckpt"
        src.mkdir()
        texts = [f"doc number {i % 30}" for i in range(100)]  # 30 distinct
        # three arrival chunks
        for c in range(3):
            chunk = [(i, texts[i]) for i in range(c * 33, min((c + 1) * 34, 100))]
            spark.createDataFrame(chunk, "id long, text string").write.mode(
                "append"
            ).parquet(str(src))

        stream = spark.readStream.schema("id long, text string").parquet(str(src))
        deduped = exact_dedup_stream(stream, text_col="text")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        result = spark.read.parquet(str(out))
        got_texts = [r["text"] for r in result.collect()]
        assert sorted(set(got_texts)) == sorted({t for t in texts})
        assert len(got_texts) == 30  # exactly one row per distinct text

    def test_incremental_minhash_via_foreachbatch_query(self, spark, tmp_path):
        """End-to-end Structured Streaming: a real writeStream.foreachBatch
        query drives incremental_minhash_batch over a file stream (one file
        per micro-batch via maxFilesPerTrigger), cross-batch matches land in
        the band store exactly as in the direct-call tests."""
        from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
        from text_dedup_spark.streaming.dedup_stream import incremental_minhash_batch

        src = tmp_path / "stream_src"
        out = tmp_path / "assigned"
        ckpt = tmp_path / "ckpt2"
        store = str(tmp_path / "band_store")
        src.mkdir()
        base = "the quick brown fox jumps over the lazy dog again and again today"
        files = [
            [(0, base), (1, "first batch unique content with plenty of words here")],
            [(2, base + " extra"), (3, "second batch fresh text nothing like the rest")],
            [(4, base)],
        ]
        for i, rows in enumerate(files):
            spark.createDataFrame(rows, "__INDEX__ long, text string").coalesce(
                1
            ).write.parquet(str(src / f"f{i}"))

        kernel = MinHashKernel(num_perm=32, ngram_size=2, min_length=3, threshold=0.5)

        def handle(batch_df, batch_id):
            assigned = incremental_minhash_batch(spark, batch_df, kernel, store)
            assigned.write.mode("append").parquet(str(out))

        stream = (
            spark.readStream.schema("__INDEX__ long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {r["__INDEX__"]: r["cluster_id"] for r in spark.read.parquet(str(out)).collect()}
        assert len(got) == 5
        # batch order is file order; near-dups across batches share a cluster
        roots = {got[0], got[2], got[4]}
        assert len(roots) == 1  # all base-variants matched one stored root
        assert got[1] == 1 and got[3] == 3

    def test_incremental_minhash_batches(self, spark, tmp_path):
        from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
        from text_dedup_spark.streaming.dedup_stream import incremental_minhash_batch

        kernel = MinHashKernel(num_perm=32, ngram_size=2, min_length=3, threshold=0.5)
        base = "the quick brown fox jumps over the lazy dog again and again today"
        batches = [
            [(0, base), (1, "completely different first batch content right here")],
            [(2, base + " extra"), (3, "unrelated second batch text that is new")],
            [(4, base)],
        ]
        store = str(tmp_path / "bands")
        results = {}
        for batch in batches:
            df = spark.createDataFrame(batch, "__INDEX__ long, text string")
            out = incremental_minhash_batch(spark, df, kernel, store)
            results.update({r["__INDEX__"]: r["cluster_id"] for r in out.collect()})
        assert results[0] == 0  # first occurrence roots its cluster
        assert results[2] == 0  # near-dup in later batch joins existing cluster
        assert results[4] == 0  # exact dup joins too
        assert results[1] == 1 and results[3] == 3  # uniques root themselves

    def test_incremental_vs_batch_divergence_documented(self, spark, tmp_path):
        """Pins the DOCUMENTED semantic gap (dedup_stream.py docstring):
        two first-seen near-dups in the SAME micro-batch both root
        themselves (no intra-batch clustering), while the batch pipeline
        clusters them; a later arrival still matches the stored bands."""
        from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
        from text_dedup_spark.operators.minhash import minhash_dedup
        from text_dedup_spark.streaming.dedup_stream import incremental_minhash_batch

        kernel = MinHashKernel(num_perm=32, ngram_size=2, min_length=3, threshold=0.5)
        base = "the quick brown fox jumps over the lazy dog again and again today"
        same_batch = [(10, base), (11, base + " tail")]
        store = str(tmp_path / "bands2")

        df1 = spark.createDataFrame(same_batch, "__INDEX__ long, text string")
        out1 = {r["__INDEX__"]: r["cluster_id"]
                for r in incremental_minhash_batch(spark, df1, kernel, store).collect()}
        # intra-batch near-dups NOT clustered (documented weaker semantics)
        assert out1 == {10: 10, 11: 11}

        # the batch pipeline DOES cluster them — the documented difference
        batch = minhash_dedup(df1, kernel).docs
        assert {r["__INDEX__"]: r["__CLUSTER__"] for r in batch.collect()} == {
            10: 10,
            11: 10,
        }

        # next batch: both stored roots are visible; min-cluster tie-break
        df2 = spark.createDataFrame([(12, base)], "__INDEX__ long, text string")
        out2 = {r["__INDEX__"]: r["cluster_id"]
                for r in incremental_minhash_batch(spark, df2, kernel, store).collect()}
        assert out2 == {12: 10}

    def test_fingerprint_udf_runs_once_per_batch(self, spark, tmp_path):
        """Every doc of a micro-batch goes through the bands UDF exactly
        once: the store appends and the returned assignment reuse the
        fingerprint cache. Counted in the kernel itself, on the workers."""
        from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
        from text_dedup_spark.streaming.dedup_stream import incremental_minhash_batch

        class CountingKernel(MinHashKernel):
            def band_keys_batch(self, contents):
                self.docs_seen.add(len(contents))
                return super().band_keys_batch(contents)

        kernel = CountingKernel(num_perm=32, ngram_size=2, min_length=3, threshold=0.5)
        kernel.docs_seen = spark.sparkContext.accumulator(0)
        base = "the quick brown fox jumps over the lazy dog again and again today"
        # near-dups, uniques and a doc below min_length (null bands)
        rows = [(i, f"{base} v{i % 3}" if i % 2 else f"doc {i} with its own words")
                for i in range(24)] + [(24, "short")]
        store = str(tmp_path / "bands_once")
        for lo, hi in ((0, 12), (12, 25)):  # first batch, then one against the store
            before = kernel.docs_seen.value
            df = spark.createDataFrame(rows[lo:hi], "__INDEX__ long, text string").repartition(3)
            out = incremental_minhash_batch(spark, df, kernel, store)
            assert out.count() == hi - lo - (1 if hi == 25 else 0)
            assert kernel.docs_seen.value - before == hi - lo

    def test_reconcile_heals_divergence_to_batch_exact(self, spark, tmp_path):
        """reconcile_band_store recovers EXACT batch clustering from the
        incremental store: intra-batch misses and cross-batch non-merges
        both heal, labels match minhash_dedup on the union of batches —
        including when doc ids are NOT monotone with arrival order (a later
        batch carries the component's minimum id)."""
        from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
        from text_dedup_spark.operators.minhash import minhash_dedup
        from text_dedup_spark.streaming.dedup_stream import (
            incremental_minhash_batch,
            reconcile_band_store,
        )

        kernel = MinHashKernel(num_perm=32, ngram_size=2, min_length=3, threshold=0.5)
        base = "the quick brown fox jumps over the lazy dog again and again today"
        other = "an entirely different second document with its own words inside"
        batches = [
            [(9, base), (11, base + " tail")],  # intra-batch near-dups: missed
            [(7, other), (13, "noise text unrelated to both earlier documents")],
            # doc 3 arrives LAST but is the true min id of the base cluster
            [(5, other + " x"), (3, base)],
        ]
        store = str(tmp_path / "bands3")
        incr = {}
        for rows in batches:
            df = spark.createDataFrame(rows, "__INDEX__ long, text string")
            out = incremental_minhash_batch(spark, df, kernel, store)
            incr.update({r["__INDEX__"]: r["cluster_id"] for r in out.collect()})
        assert incr[11] == 11  # the documented intra-batch miss
        assert incr[3] == 9  # incremental: late min-id doc joins the old root

        healed = {
            r["doc_id"]: r["exact_cluster_id"]
            for r in reconcile_band_store(spark, store).collect()
        }

        union = spark.createDataFrame(
            [r for rows in batches for r in rows], "__INDEX__ long, text string"
        )
        batch_exact = {
            r["__INDEX__"]: r["__CLUSTER__"]
            for r in minhash_dedup(union, kernel).docs.collect()
        }
        assert healed == batch_exact
        assert healed[9] == 3  # min-id label despite doc 3 arriving last

    def test_first_batch_requires_no_store_but_bad_store_raises(self, spark, tmp_path):
        """The first-batch path is an existence check, not a swallowed
        exception: a corrupt store directory must fail loudly."""
        import pytest

        from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
        from text_dedup_spark.streaming.dedup_stream import incremental_minhash_batch

        kernel = MinHashKernel(num_perm=32, ngram_size=2, min_length=3, threshold=0.5)
        df = spark.createDataFrame(
            [(0, "some perfectly reasonable text for the first batch")],
            "__INDEX__ long, text string",
        )
        # missing dir -> fine (first batch)
        out = incremental_minhash_batch(spark, df, kernel, str(tmp_path / "fresh"))
        assert out.count() == 1
        # corrupt store -> loud failure
        bad = tmp_path / "corrupt"
        bad.mkdir()
        (bad / "part-0000.parquet").write_text("this is not parquet")
        df2 = spark.createDataFrame(
            [(1, "more text arriving in the second batch window")],
            "__INDEX__ long, text string",
        )
        with pytest.raises(Exception):
            incremental_minhash_batch(spark, df2, kernel, str(bad)).collect()

    def test_binary_band_store_from_old_revision_raises(self, spark, tmp_path):
        """Wire-format migration guard: a store whose __band_val__ is the
        old binary blob format must be rejected by both ingest and
        reconcile — appending int64 band keys to it would silently miss
        cross-revision duplicates (old blobs never equal new keys)."""
        import pytest

        from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
        from text_dedup_spark.streaming.dedup_stream import (
            incremental_minhash_batch,
            reconcile_band_store,
        )

        store = str(tmp_path / "old_binary_store")
        spark.createDataFrame(
            [(0, 0, bytearray(b"\x01\x02\x03\x04"), 0)],
            "__doc_id__ long, __band_idx__ int, __band_val__ binary, cluster_id long",
        ).write.parquet(store)
        with pytest.raises(ValueError, match="pre-int64-band-key"):
            reconcile_band_store(spark, store)
        kernel = MinHashKernel(num_perm=32, ngram_size=2, min_length=3, threshold=0.5)
        df = spark.createDataFrame(
            [(1, "text arriving after the wire format changed under the store")],
            "__INDEX__ long, text string",
        )
        with pytest.raises(ValueError, match="pre-int64-band-key"):
            incremental_minhash_batch(spark, df, kernel, store)
