"""Round-8 optimization invariants: every structural change that round made
to an operator's internals is pinned by a parity or plan test here, so a
future edit can't silently regress the optimization or its bit-exactness.

Covered:
- fused band hashes (minhash.compute_signatures emits `bands`;
  compute_bands is a JVM posexplode) ≡ sketches.band_hashes in numpy
- hyperplane_buckets carry_vec vector ≡ the as_double join it replaced
- session.kernel_partitions scale policy (small scan → even partitions,
  wide input → keep upstream partitioning)
- session.page_bytes: 1 MB Tungsten pages up to an 8 GB heap, larger only
  where the page table could not address the heap
- the jaccard_clusters single-evaluation restructure (intersection size
  behind a lineage cut + arithmetic union) ≡ the direct formulation
"""

import pytest
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.minhash import compute_bands, compute_signatures
from dedup.pipeline import key_docs

SF = "/root/testdata/sf0.001"
CFG = DedupConfig()


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs.select(
        F.lit("src").alias("repo"),
        F.format_string("doc/%012d", "doc_id").alias("path"),
        F.lit("head").alias("commit"),
        "lang",
        F.coalesce("text", F.lit("")).alias("content"),
    )


class TestFusedBands:
    def test_signatures_emit_band_column(self, spark, corpus):
        sigs = compute_signatures(key_docs(corpus), CFG)
        assert "bands" in sigs.columns

    def test_jvm_explode_matches_python_fallback(self, spark, corpus):
        """The posexplode over the fused column must agree row-for-row with
        the Python band kernel (sketches.band_hashes) run in numpy on the
        collected minhash rows."""
        import numpy as np

        from dedup.sketches import band_hashes

        sigs = compute_signatures(key_docs(corpus), CFG)
        jvm = sorted(map(tuple, compute_bands(sigs, CFG).collect()))
        rows = sigs.select("doc_key", "minhash").collect()
        sig = np.array([r["minhash"] for r in rows], dtype=np.int64)
        bh = band_hashes(sig.astype(np.uint64), CFG.bands, CFG.rows_per_band,
                         CFG.seed).astype(np.int64)
        numpy_ref = sorted(
            (r["doc_key"], b, int(bh[i, b]))
            for i, r in enumerate(rows) for b in range(CFG.bands)
        )
        assert jvm == numpy_ref
        assert len(jvm) == CFG.bands * len(rows)

    def test_band_derivation_adds_no_python_stage(self, spark, corpus):
        """Banding fused signatures is pure JVM: exactly the signature
        kernel's MapInPandas in the plan, none added for the explode."""
        sigs = compute_signatures(key_docs(corpus), CFG)
        plan = physical_plan(compute_bands(sigs, CFG))
        assert plan.count("MapInPandas") == 1, plan
        assert "Generate posexplode" in plan, plan

    def test_decoded_checkpoint_bands_in_the_jvm(self, spark, corpus,
                                                 tmp_path):
        """A decoded signature checkpoint bands like fresh kernel output:
        the decode is the plan's only Python pass and the bands are a JVM
        posexplode of the decoded `bands` column."""
        from dedup.pipeline import decode_signature_blocks, signature_blocks

        path = str(tmp_path / "ckpt")
        sigs = compute_signatures(key_docs(corpus), CFG).drop("bands")
        signature_blocks(sigs, CFG).write.parquet(path)
        decoded = decode_signature_blocks(spark.read.parquet(path), CFG)
        plan = physical_plan(compute_bands(decoded, CFG))
        assert plan.count("MapInPandas") == 1, plan
        assert "Generate posexplode" in plan, plan


class TestCarryVec:
    def test_carried_vector_matches_as_double_join(self, spark):
        """carry_vec's float64 cast must equal the as_double join path it
        replaced, bit-for-bit, and bucket ids must be unchanged."""
        from dedup.ann import as_double, hyperplane_buckets

        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        fused = hyperplane_buckets(e, n_bits=8, dim=64, seed=7,
                                   carry_vec=True)
        plain = hyperplane_buckets(e, n_bits=8, dim=64, seed=7)
        joined = e.select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        ).join(plain, "vec_id").select("vec_id", "bucket", "v")
        a = sorted((r["vec_id"], r["bucket"], tuple(r["v"]))
                   for r in fused.collect())
        b = sorted((r["vec_id"], r["bucket"], tuple(r["v"]))
                   for r in joined.collect())
        assert a == b

    def test_cell_assignments_carry(self, spark):
        from dedup.ann import cell_assignments, train_quantizer

        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        cent = train_quantizer(e, 8, 42, 1000, "vec_id", "embedding")
        with_v = cell_assignments(e, cent, 2, "vec_id", "embedding",
                                  carry_vec=True)
        without = cell_assignments(e, cent, 2, "vec_id", "embedding")
        assert sorted(map(tuple, with_v.select("vec_id", "cell").collect())) \
            == sorted(map(tuple, without.collect()))
        # carried vector is the raw (unnormalized) float64 cast
        row = with_v.where(F.col("vec_id") == 0).limit(1).collect()[0]
        src = e.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        assert list(row["v"]) == [float(x) for x in src]


class TestKernelPartitions:
    def test_small_scan_gets_even_partition_count(self, spark):
        from dedup.session import kernel_partitions

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        parts = kernel_partitions(docs.select("doc_id", "text"))
        assert isinstance(parts, int) and parts >= 1

    def test_wide_input_keeps_upstream_partitioning(self, spark):
        """An input whose scan already yields at least one split per core
        (est/maxPartitionBytes >= parallelism) must NOT be repartitioned —
        re-shuffling a wide input is the §8 hazard the policy exists to
        avoid. Pinned by shrinking maxPartitionBytes so the same small
        table counts as wide."""
        from dedup.session import kernel_partitions

        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
            assert kernel_partitions(docs) is None
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


class TestPageBytes:
    def test_small_pages_that_still_address_the_heap(self):
        from dedup.session import _parse_bytes, page_bytes

        assert page_bytes("4g") == page_bytes("8g") == 1 << 20
        assert page_bytes("16g") == 2 << 20
        assert page_bytes("48g") == 8 << 20
        for heap in ("4g", "16g", "48g", "3000m"):
            assert 8192 * page_bytes(heap) >= _parse_bytes(heap)


class TestJaccardRestructure:
    def test_arithmetic_union_matches_direct_jaccard(self, spark, corpus):
        """round(inter/(na+nb-inter), 6) over a lineage cut must equal the
        direct round(size(intersect)/size(union), 6) formulation it
        replaced — exact for array_distinct'd gram arrays."""
        from dedup.queries import _SPARK_CHARGRAM

        d = spark.read.parquet(f"{SF}/documents.parquet").where(
            F.col("doc_id") < 60
        ).select(
            "doc_id",
            F.expr(_SPARK_CHARGRAM.format(c="coalesce(text, '')")).alias("sh"),
        )
        a, b = d.alias("a"), d.alias("b")
        direct = sorted(map(tuple, (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("ka"), F.col("b.doc_id").alias("kb"),
                F.round(
                    F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                    / F.size(F.array_union("a.sh", "b.sh")).cast("double"), 6,
                ).alias("j"),
            )
        ).collect()))
        inter = F.size(F.array_intersect("a.sh", "b.sh"))
        arith = sorted(map(tuple, (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("ka"), F.col("b.doc_id").alias("kb"),
                F.round(
                    inter.cast("double")
                    / (F.size("a.sh") + F.size("b.sh") - inter).cast("double"),
                    6,
                ).alias("j"),
            )
        ).collect()))
        assert direct == arith


class TestNoCachedPlans:
    def test_no_persist_or_cache_in_engine(self):
        """persist()/cache() is banned in dedup/ (r8 continuation): Spark
        materializes a CACHED plan with AQE partition coalescing disabled
        (cached output partitioning stays deterministic unless
        canChangeCachedPlanOutputPartitioning is set), so a persist() under
        a Python kernel froze the kernel and every consumer wave at the raw
        initial shuffle-partition count — measured 6.2s -> 2.1s on the
        flagship swapping run_dedup's sigs.persist() for materialize()
        (localCheckpoint finalizes the adaptive plan). materialize() is the
        sanctioned multi-consumer lineage cut."""
        import pathlib

        pkg = pathlib.Path(__file__).resolve().parent.parent / "dedup"
        banned = (".persist(", ".cache(")
        offenders = [
            (p.name, pat) for p in sorted(pkg.glob("*.py"))
            for line in p.read_text().splitlines()
            for pat in banned
            if pat in line and not line.lstrip().startswith("#")
        ]
        assert offenders == [], f"cached plans found in {offenders}"
