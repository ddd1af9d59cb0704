"""Spark pipeline parity tests vs single-node reference-semantics oracles."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracles import UnionFind, exact_oracle, minhash_oracle, simhash_oracle
from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
from text_dedup_spark.operators.connected_components import connected_components
from text_dedup_spark.operators.exact import exact_dedup
from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL, INDEX_COL, assign_ids
from text_dedup_spark.operators.minhash import minhash_dedup
from text_dedup_spark.operators.simhash import simhash_dedup
from text_dedup_spark.sources.web_pages import extract_text_expr, make_web_pages


class TestConnectedComponents:
    @pytest.mark.parametrize(
        "edges",
        [
            [(1, 2), (2, 3), (4, 5)],
            [(i, i + 1) for i in range(30)],  # long chain (worst case for hash-min)
            [(0, i) for i in range(1, 20)],  # star
            [(a, b) for a in range(8) for b in range(a + 1, 8)],  # clique
            [(5, 5), (1, 2)],  # self-loop ignored
            [(100, 7), (7, 3), (3, 100), (50, 60)],  # cycle
        ],
    )
    @pytest.mark.parametrize("driver_threshold", [0, 5_000_000])
    def test_matches_union_find(self, spark, edges, driver_threshold):
        """driver_threshold=0 forces the distributed large-star/small-star
        path; the default exercises the driver union-find gate. Both must
        produce identical min-id labels."""
        uf = UnionFind()
        for a, b in edges:
            if a != b:
                uf.union(a, b)
        expected = uf.get_clusters()
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["id"]: r["cluster"]
            for r in connected_components(df, driver_threshold=driver_threshold).collect()
        }
        assert got == expected

    def test_raw_probe_saturation_regates_on_distinct(self, spark):
        """Round-6 gate internals: the one-action probe collects DISTINCT
        edges bounded by the limit, so a duplicate-heavy edge set (raw rows
        >> threshold, distinct under it) still takes the driver path, and a
        set whose distinct edges saturate too takes the distributed loop —
        all routes label-equal."""
        rng = np.random.RandomState(11)
        m = [(int(a), int(b)) for a, b in rng.randint(0, 60, size=(40, 2)) if a != b]
        dup = m * 12  # raw rows ~480, distinct <= 40
        uf = UnionFind()
        for a, b in m:
            uf.union(a, b)
        expected = uf.get_clusters()
        df = spark.createDataFrame(dup, ["src", "dst"])
        for thr in (100,      # raw saturates the limit, distinct fits -> driver path
                    5_000_000,  # everything fits -> driver path
                    10):      # distinct saturates too -> distributed loop
            got = {
                r["id"]: r["cluster"]
                for r in connected_components(df, driver_threshold=thr).collect()
            }
            assert got == expected, f"driver_threshold={thr}"

    @pytest.mark.parametrize("driver_threshold", [0, 5_000_000])
    def test_random_graphs(self, spark, driver_threshold):
        rng = np.random.RandomState(7)
        for trial in range(3):
            n = 200
            m = [(int(a), int(b)) for a, b in rng.randint(0, n, size=(150, 2)) if a != b]
            uf = UnionFind()
            for a, b in m:
                uf.union(a, b)
            expected = uf.get_clusters()
            df = spark.createDataFrame(m, ["src", "dst"])
            got = {
                r["id"]: r["cluster"]
                for r in connected_components(df, driver_threshold=driver_threshold).collect()
            }
            assert got == expected, f"trial {trial}"


@pytest.fixture(scope="module")
def corpus():
    return make_web_pages(n_docs=400, seed=42)


@pytest.fixture(scope="module")
def pages_df(spark, corpus):
    df = spark.createDataFrame(corpus.pages)
    # ids = load order = pandas row order; row_number over url-position
    return assign_ids(df.withColumn("__ord__", F.monotonically_increasing_id()),
                      order_by="__ord__").drop("__ord__").cache()


class TestExtraction:
    def test_byte_identical_per_url(self, spark, pages_df):
        ext = pages_df.withColumn("__ext__", extract_text_expr()(F.col("html")))
        bad = ext.where(F.col("__ext__") != F.col("text")).count()
        assert bad == 0


class TestExactDedup:
    def test_matches_oracle(self, spark, corpus, pages_df):
        res = exact_dedup(pages_df, text_col="text")
        kept_ids = sorted(r[INDEX_COL] for r in res.kept.select(INDEX_COL).collect())
        assert kept_ids == exact_oracle(list(corpus.pages["text"]))


class TestMinHashDedup:
    @pytest.mark.parametrize("check_fp", [False, True])
    def test_matches_oracle(self, spark, corpus, pages_df, check_fp):
        kernel = MinHashKernel(num_perm=64, ngram_size=2, min_length=5, threshold=0.5)
        texts = list(corpus.pages["text"])
        expected_parents, expected_kept = minhash_oracle(
            texts, kernel, check_false_positive=check_fp
        )
        res = minhash_dedup(pages_df, kernel, check_false_positive=check_fp)
        got_kept = sorted(r[INDEX_COL] for r in res.kept.select(INDEX_COL).collect())
        assert got_kept == expected_kept

        got_clusters = {
            r[INDEX_COL]: r[CLUSTER_COL]
            for r in res.docs.select(INDEX_COL, CLUSTER_COL).collect()
        }
        for idx, c in got_clusters.items():
            assert expected_parents.get(idx, idx) == c, f"doc {idx}"

    def test_sha1_variant_matches_oracle(self, spark, corpus, pages_df):
        kernel = MinHashKernel(
            num_perm=32, ngram_size=1, min_length=5, threshold=0.6, hash_func_name="sha1"
        )
        texts = list(corpus.pages["text"])
        _, expected_kept = minhash_oracle(texts, kernel)
        res = minhash_dedup(pages_df, kernel)
        got_kept = sorted(r[INDEX_COL] for r in res.kept.select(INDEX_COL).collect())
        assert got_kept == expected_kept

    def test_recall_on_planted_clusters(self, spark, corpus, pages_df):
        """Dup-pair recall >= 0.99 vs the oracle's pairs (BASELINE.md target).

        Spark pairs ARE the oracle pairs (exact parity), so recall is 1.0 by
        the equality test above; this asserts the metric explicitly."""
        kernel = MinHashKernel(num_perm=128, ngram_size=2, min_length=5, threshold=0.5)
        texts = list(corpus.pages["text"])
        expected_parents, _ = minhash_oracle(texts, kernel)
        res = minhash_dedup(pages_df, kernel)
        got = {
            r[INDEX_COL]: r[CLUSTER_COL]
            for r in res.docs.select(INDEX_COL, CLUSTER_COL).collect()
        }

        def pairs(parents: dict[int, int]) -> set[tuple[int, int]]:
            from collections import defaultdict

            by_c = defaultdict(list)
            for i, c in parents.items():
                by_c[c].append(i)
            out = set()
            for members in by_c.values():
                ms = sorted(members)
                for i in range(len(ms)):
                    for j in range(i + 1, len(ms)):
                        out.add((ms[i], ms[j]))
            return out

        ref_pairs = pairs(expected_parents)
        got_pairs = pairs({i: c for i, c in got.items() if i != c or i in expected_parents})
        recall = len(ref_pairs & got_pairs) / max(1, len(ref_pairs))
        assert recall >= 0.99


class TestSaltedBandEdges:
    """The scale profile's star-edge form (band_edges_mode="salted":
    identical-fingerprint contraction when the distinct-ratio probe says it
    pays + salted groupBy-min + AQE-skew join-back, and the join-form
    FP-verify contraction) must be label-identical to the window form and
    to the same oracle that pins the default path."""

    @staticmethod
    def distinct_fp_ratio(df, kernel):
        """The salted path's contraction probe, as minhash_dedup runs it."""
        from text_dedup_spark.operators.minhash import fingerprint_bands

        bands = fingerprint_bands(df, kernel)
        probe = bands.where(F.col("__BANDS__").isNotNull()).select(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.xxhash64("__BANDS__"), rsd=0.02).alias("nd"),
        ).first()
        bands.unpersist()
        return probe["nd"] / probe["n"]

    @pytest.mark.parametrize("check_fp", [False, True])
    def test_matches_oracle(self, spark, corpus, pages_df, check_fp):
        """Both probe outcomes: ``pages_df`` is mostly unique (the probe
        skips contraction); the flood adds 100 byte-identical copies of
        each of three pages (the probe contracts)."""
        kernel = MinHashKernel(num_perm=64, ngram_size=2, min_length=5, threshold=0.5)
        texts = list(corpus.pages["text"])
        n = len(texts)
        copies = [
            (n + 100 * k + j, texts[src])
            for k, src in enumerate((3, 17, 42))
            for j in range(100)
        ]
        flood_df = pages_df.select(INDEX_COL, "text").unionByName(
            spark.createDataFrame(copies, f"{INDEX_COL} long, text string")
        ).cache()
        flood_texts = texts + [t for _, t in copies]
        try:
            assert self.distinct_fp_ratio(pages_df, kernel) >= 0.85
            assert self.distinct_fp_ratio(flood_df, kernel) < 0.85
            for df, corpus_texts in ((pages_df, texts), (flood_df, flood_texts)):
                expected_parents, expected_kept = minhash_oracle(
                    corpus_texts, kernel, check_false_positive=check_fp
                )
                labels = {}
                # band_partitions pre-partitions the exploded bands on the
                # band keys, which each form's exchange must reuse
                for form in itertools.product(("window", "salted"), (None, 3)):
                    mode, band_partitions = form
                    res = minhash_dedup(
                        df, kernel, check_false_positive=check_fp, band_edges_mode=mode,
                        band_partitions=band_partitions,
                    )
                    got_kept = sorted(r[INDEX_COL] for r in res.kept.select(INDEX_COL).collect())
                    assert got_kept == expected_kept, form
                    labels[form] = {
                        r[INDEX_COL]: r[CLUSTER_COL]
                        for r in res.docs.select(INDEX_COL, CLUSTER_COL).collect()
                    }
                    for idx, c in labels[form].items():
                        assert expected_parents.get(idx, idx) == c, f"{form} doc {idx}"
                assert all(got == labels["window", None] for got in labels.values())
        finally:
            flood_df.unpersist()

    def test_salted_plan_has_no_window(self, spark, pages_df):
        """The whole point of the salted form: no per-band-key window sort
        anywhere in the physical plan (a hot band would land whole in one
        task). groupBy-min survives heat via partial agg; the join-back via
        AQE skew split."""
        from text_dedup_spark.operators.minhash import (
            contract_identical_fingerprints,
            lsh_star_edges_salted,
            minhash_fingerprint,
        )

        kernel = MinHashKernel(num_perm=64, ngram_size=2, min_length=5, threshold=0.5)
        # cut the test fixture's id-assignment lineage (itself a parity-mode
        # row_number window) so the plan under test is the band phase only
        docs = pages_df.localCheckpoint(eager=True)
        exploded = minhash_fingerprint(docs, kernel)
        edges = lsh_star_edges_salted(exploded)
        plan = edges._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan

        bands = docs.select(INDEX_COL, F.col("text")).withColumn(
            "__BANDS__", F.array(F.xxhash64("text"))
        )
        _, cedges = contract_identical_fingerprints(bands)
        cplan = cedges._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in cplan, cplan

    def test_minhash_fingerprint_evaluates_bands_udf_once(self, spark, pages_df):
        """posexplode infers ``isnotnull AND size > 0`` on the band array;
        pushed below the projection that computes it, that filter plans a
        second ArrowEvalPython node. The persisted raw UDF output keeps it
        to one."""
        from text_dedup_spark.operators.minhash import minhash_fingerprint

        # a seed no other test uses: a cache another test already filled
        # would print its adaptive plan twice (final and initial)
        kernel = MinHashKernel(num_perm=64, ngram_size=2, min_length=5, threshold=0.5, seed=7)
        exploded = minhash_fingerprint(pages_df, kernel)
        plan = exploded._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan

    def test_contraction_collapses_exact_duplicates(self, spark, pages_df):
        """Every byte-identical text group must contract to ONE exploded
        representative; members reconnect purely via contraction edges."""
        from text_dedup_spark.operators.minhash import (
            _bands_udf,
            contract_identical_fingerprints,
        )

        kernel = MinHashKernel(num_perm=64, ngram_size=2, min_length=5, threshold=0.5)
        bands = (
            pages_df.select(INDEX_COL, "text")
            .withColumn("__BANDS__", _bands_udf(kernel)(F.col("text")))
            .where(F.col("__BANDS__").isNotNull())
        )
        n_rows = bands.count()
        n_distinct_texts = bands.select("text").distinct().count()
        rep_rows, cedges = contract_identical_fingerprints(bands)
        # distinct fingerprints == distinct texts on this corpus (no planted
        # fingerprint collisions between different texts at num_perm=64)
        assert rep_rows.count() == n_distinct_texts
        assert cedges.count() == n_rows - n_distinct_texts

    def test_invalid_mode_raises(self, spark, pages_df):
        kernel = MinHashKernel(num_perm=16, ngram_size=2, min_length=5, threshold=0.5)
        with pytest.raises(ValueError, match="band_edges_mode"):
            minhash_dedup(pages_df, kernel, band_edges_mode="saltedd")


class TestSimHashDedup:
    @pytest.mark.parametrize(
        ("check_fp", "contraction"),
        [(False, "window"), (True, "window"), (True, "join")],
    )
    def test_matches_oracle(self, spark, corpus, pages_df, check_fp, contraction):
        kernel = SimHashKernel(f=64, bit_diff=3, num_bucket=4, ngram_size=3, min_length=5)
        texts = list(corpus.pages["text"])
        expected_parents, expected_kept = simhash_oracle(
            texts, kernel, check_false_positive=check_fp, jaccard_threshold=0.5
        )
        res = simhash_dedup(
            pages_df,
            kernel,
            check_false_positive=check_fp,
            jaccard_threshold=0.5,
            contraction=contraction,
        )
        got_kept = sorted(r[INDEX_COL] for r in res.kept.select(INDEX_COL).collect())
        assert got_kept == expected_kept
        got_clusters = {
            r[INDEX_COL]: r[CLUSTER_COL]
            for r in res.docs.select(INDEX_COL, CLUSTER_COL).collect()
        }
        for idx, c in got_clusters.items():
            assert expected_parents.get(idx, idx) == c, f"doc {idx}"


class TestSimHash128:
    def test_f128_matches_oracle(self, spark, corpus, pages_df):
        """f=128 exercises the two-long fingerprint path (sig_hi + sig_lo;
        Hamming = bit_count(lo1^lo2) + bit_count(hi1^hi2))."""
        kernel = SimHashKernel(f=128, bit_diff=4, num_bucket=8, ngram_size=3, min_length=5)
        texts = list(corpus.pages["text"])
        expected_parents, expected_kept = simhash_oracle(
            texts, kernel, check_false_positive=False, jaccard_threshold=0.5
        )
        res = simhash_dedup(pages_df, kernel)
        got_kept = sorted(r[INDEX_COL] for r in res.kept.select(INDEX_COL).collect())
        assert got_kept == expected_kept
        got_clusters = {
            r[INDEX_COL]: r[CLUSTER_COL]
            for r in res.docs.select(INDEX_COL, CLUSTER_COL).collect()
        }
        for idx, c in got_clusters.items():
            assert expected_parents.get(idx, idx) == c, f"doc {idx}"


class TestFPVerifyCap:
    def test_max_cluster_verify_bypasses_big_clusters(self, spark, corpus, pages_df):
        """With a cap of 2, clusters >2 skip pairwise verification and keep
        their assignment; capped-size clusters still verify exactly."""
        kernel = MinHashKernel(num_perm=64, ngram_size=2, min_length=5, threshold=0.5)
        uncapped = minhash_dedup(pages_df, kernel, check_false_positive=True)
        capped = minhash_dedup(
            pages_df, kernel, check_false_positive=True, max_cluster_verify=2
        )
        unc = {r[INDEX_COL]: r[CLUSTER_COL] for r in uncapped.docs.collect()}
        cap = {r[INDEX_COL]: r[CLUSTER_COL] for r in capped.docs.collect()}
        assert set(unc) == set(cap)
        from collections import Counter

        # original (pre-verification) cluster sizes decide the bypass
        base = minhash_dedup(pages_df, kernel, check_false_positive=False)
        orig = {r[INDEX_COL]: r[CLUSTER_COL] for r in base.docs.collect()}
        orig_sizes = Counter(orig.values())
        # 1. the cap never loses verified members: every doc the uncapped run
        #    kept clustered stays clustered (bypassed clusters keep ALL
        #    members, and min(bypassed) <= min(verified))
        for idx, c in unc.items():
            if c != idx:
                assert cap[idx] != idx, f"doc {idx} lost its cluster under cap"
        # 2. original clusters at/below the cap verify identically
        for idx in unc:
            if orig_sizes[orig[idx]] <= 2:
                assert cap[idx] == unc[idx], f"small-cluster doc {idx} diverged"
        # 3. at least one original cluster exceeded the cap (test is live)
        assert any(s > 2 for s in orig_sizes.values())


class TestReferenceBenchmarkConfigs:
    """Parity at the reference's pinned benchmark configs (BASELINE.md):
    CORE minhash (num_perm=200, ngram=2, bands=50, rows=4, threshold=0.5,
    xxh3, min_length=0) and NEWS simhash (f=64, bit_diff=12, num_bucket=13,
    ngram=1, min_length=0). min_length=0 exercises the short-doc edge where
    ngrams() emits a single whole-sequence tuple."""

    def test_core_minhash_config(self, spark, corpus, pages_df):
        kernel = MinHashKernel(
            num_perm=200, ngram_size=2, bands=50, rows=4, threshold=0.5,
            min_length=0, hash_func_name="xxh3", seed=42,
        )
        texts = list(corpus.pages["text"])
        expected_parents, expected_kept = minhash_oracle(texts, kernel)
        res = minhash_dedup(pages_df, kernel)
        got_kept = sorted(r[INDEX_COL] for r in res.kept.select(INDEX_COL).collect())
        assert got_kept == expected_kept

    def test_news_simhash_config(self, spark, corpus, pages_df):
        kernel = SimHashKernel(
            f=64, bit_diff=12, num_bucket=13, ngram_size=1, min_length=0, seed=42
        )
        texts = list(corpus.pages["text"])
        expected_parents, expected_kept = simhash_oracle(
            texts, kernel, check_false_positive=True, jaccard_threshold=0.45
        )
        res = simhash_dedup(
            pages_df, kernel, check_false_positive=True, jaccard_threshold=0.45
        )
        got_kept = sorted(r[INDEX_COL] for r in res.kept.select(INDEX_COL).collect())
        assert got_kept == expected_kept
        got = {
            r[INDEX_COL]: r[CLUSTER_COL]
            for r in res.docs.select(INDEX_COL, CLUSTER_COL).collect()
        }
        for idx, c in got.items():
            assert expected_parents.get(idx, idx) == c


class TestMd5SimHashOracleIdentities:
    """Pin the two identities the simhash_dedup_md5 SQL oracle builds on
    (see __spark_entry__._md5_simhash_oracle_sql)."""

    def test_permutation_key_arithmetic(self):
        # permute(x) & search_mask == sum over the leading (b-k) blocks of
        # ((x >> (f-end)) % 2^width) * 2^(f-end+offset) — the form the
        # oracle emits as HUGEINT div/mod arithmetic
        rng = np.random.RandomState(7)
        for num_bucket, bit_diff in [(4, 3), (4, 2), (5, 3), (8, 6)]:
            k = SimHashKernel(
                f=64, bit_diff=bit_diff, num_bucket=num_bucket,
                ngram_size=2, min_length=5, hash_func_name="md5",
            )
            bk = k.num_bucket - k.bit_diff
            xs = [int(x) for x in rng.randint(0, 2**63, size=50)] + [0, 2**64 - 1]
            for p in k.perms:
                for x in xs:
                    key = 0
                    for mask, off in zip(p.masks[:bk], p.offsets[:bk]):
                        shift = k.f - mask.end + off
                        assert shift >= 0
                        key += ((x >> (k.f - mask.end)) % (1 << mask.width)) * (1 << shift)
                    assert key == (p.permute(x) & p.search_mask)

    def test_md5_hash64_equals_duckdb_md5_number_upper(self):
        import duckdb

        from text_dedup_spark.kernels.hashfunc import md5_hash

        con = duckdb.connect()
        for s in ["hello world", "tok1 tok2", "a b", "", "the quick brown fox"]:
            got = con.execute("SELECT md5_number_upper(?)", [s]).fetchone()[0]
            assert int(got) == md5_hash(s.encode("utf-8"), 64)

    def test_md5_fingerprint_matches_manual_vote(self):
        # kernel.fingerprint(md5) == per-bit majority vote over
        # md5_number_upper-convention shingle hashes (the oracle's votes CTE)
        from text_dedup_spark.kernels.hashfunc import md5_hash
        from text_dedup_spark.kernels.tokenization import shingles

        k = SimHashKernel(
            f=64, bit_diff=3, num_bucket=4, ngram_size=2, min_length=5,
            hash_func_name="md5",
        )
        text = "the quick brown fox jumps over the lazy dog again and again"
        hs = [md5_hash(g, 64) for g in shingles(text, 2, 5)]
        sig = 0
        for j in range(64):
            ones = sum((h >> j) & 1 for h in hs)
            if 2 * ones > len(hs):
                sig |= 1 << j
        assert k.fingerprint(text) == sig
        assert k.fingerprint("too short") == 0


class TestSimHashFPVerifyCap:
    def test_max_cluster_verify_bypasses_big_clusters(self, spark, corpus, pages_df):
        """SimHash mirror of TestFPVerifyCap: clusters above the cap skip
        pairwise Jaccard verification and keep their assignment verbatim;
        clusters at/below the cap verify identically to the uncapped run."""
        from collections import Counter

        kernel = SimHashKernel(f=64, bit_diff=6, num_bucket=8, ngram_size=3, min_length=5)
        uncapped = simhash_dedup(pages_df, kernel, check_false_positive=True)
        capped = simhash_dedup(
            pages_df, kernel, check_false_positive=True, max_cluster_verify=2
        )
        unc = {r[INDEX_COL]: r[CLUSTER_COL] for r in uncapped.docs.collect()}
        cap = {r[INDEX_COL]: r[CLUSTER_COL] for r in capped.docs.collect()}
        assert set(unc) == set(cap)
        base = simhash_dedup(pages_df, kernel, check_false_positive=False)
        orig = {r[INDEX_COL]: r[CLUSTER_COL] for r in base.docs.collect()}
        orig_sizes = Counter(orig.values())
        # bypassed clusters keep ALL members assigned
        for idx, c in orig.items():
            if orig_sizes[c] > 2 and c != idx:
                assert cap[idx] == c, f"bypassed doc {idx} lost/changed cluster"
        # small clusters verify identically
        for idx in unc:
            if orig_sizes[orig[idx]] <= 2:
                assert cap[idx] == unc[idx], f"small-cluster doc {idx} diverged"
        assert any(s > 2 for s in orig_sizes.values())

    def test_identical_text_flood_contracts_before_cap(self, spark):
        """Round-4 contraction (mirrors minhash): the FP-verify cap bounds
        DISTINCT texts per cluster, so a 30-member exact-duplicate flood is
        ONE distinct text and must verify (never bypass) under a cap of 5 —
        observable via n_bypassed == 0."""
        from pyspark.sql import Observation

        base = "the quick brown fox jumps over the lazy dog near the river bank today"
        df = spark.createDataFrame(
            [(i, base) for i in range(30)], f"{INDEX_COL} long, text string"
        )
        kernel = SimHashKernel(ngram_size=3, min_length=5)
        obs = Observation("simhash_flood_cap")
        res = simhash_dedup(
            df, kernel, check_false_positive=True, max_cluster_verify=5,
            observation=obs,
        )
        got = {r[INDEX_COL]: r[CLUSTER_COL] for r in res.docs.collect()}
        assert got == {i: 0 for i in range(30)}  # all verified into cluster 0
        assert obs.get["n_bypassed"] == 0
