"""Signature stage: content → (sha256, MinHash-128, SimHash-64, n_shingles).

One `mapInPandas` pass computes every per-document signature; sha256 is
computed JVM-side with the built-in `sha2` BEFORE the UDF so the Python worker
never hashes bytes row-at-a-time. The UDF body is entirely batch-vectorized
numpy (BASELINE.json input_hint: no per-row Python).

This is the pipeline analog of the reference's point-update path
(FrequentDirections.java:187-205): a whole Arrow batch is "streamed" through
the kernel at once — the amortized-compaction idea (§2.3-4: operate per
capacity-trigger, never per row).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dedup.config import DedupConfig
from dedup.shingle import batch_shingles
from dedup.sketches import (
    band_hashes,
    minhash_from_segments,
    perm_seeds,
    simhash_from_segments,
)

SIGNATURE_FIELDS = [
    StructField("doc_key", StringType(), False),
    StructField("content_sha", StringType(), False),
    StructField("minhash", ArrayType(LongType(), False), False),
    StructField("simhash", LongType(), False),
    StructField("n_shingles", IntegerType(), False),
]
SIGNATURE_SCHEMA = StructType(SIGNATURE_FIELDS)

# compute_signatures additionally emits the per-doc LSH band hashes (r8):
# the kernel already holds the stacked signature matrix, so banding there is
# a few vectorized ops, and compute_bands becomes a JVM posexplode instead
# of a second Python crossing (one fewer Arrow round trip per consumer).
SIGNATURE_BANDS_SCHEMA = StructType(
    SIGNATURE_FIELDS + [StructField("bands", ArrayType(LongType(), False), False)]
)


def with_doc_key(df: DataFrame, key_cols: list[str], content_col: str = "content") -> DataFrame:
    """doc_key = sha2 over NUL-joined identity columns (FIXTURES.md F1),
    content_sha = sha2(content) — both JVM-side, whole-stage-codegen'd.
    content_sha is the per-row invariant vs the reference corpus
    (BASELINE.json input_hint).

    If the input already carries a `content_sha` column (stored at ingest —
    see warehouse.ingest_corpus), it is TRUSTED and reused: downstream
    column-pruned passes over (content_sha, doc_key) then scan 64 chars/row
    instead of re-reading and re-hashing every content byte — the preferred
    deployment at 10^12-file scale (VERDICT r4 #1)."""
    key = F.sha2(F.concat_ws("\x00", *[F.col(c) for c in key_cols]), 256)
    out = df.withColumn("doc_key", key)
    if "content_sha" in df.columns:
        # trusted but null-checked: a NULL stored sha would corrupt the fold
        # SILENTLY (groupBy collapses all null-sha docs into one group, then
        # the equi-join back drops their rows outright — SQL null != null),
        # so nulls fail loudly per row, JVM-side. The check references only
        # content_sha + doc_key, so the fold's pruned scan still never reads
        # content. ingest_corpus can't produce nulls; external tables can.
        return out.withColumn(
            "content_sha",
            F.when(F.col("content_sha").isNotNull(), F.col("content_sha"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("null content_sha in stored-sha corpus at "
                              "doc_key="),
                        F.col("doc_key"),
                    )
                )
            ),
        )
    return out.withColumn(
        "content_sha", F.sha2(F.coalesce(F.col(content_col), F.lit("")), 256)
    )


def compute_signatures(
    df: DataFrame,
    cfg: DedupConfig,
    key_col: str = "doc_key",
    content_col: str = "content",
    sha_col: str = "content_sha",
    repartition: int | str | None = "auto",
) -> DataFrame:
    """(key, sha, content) → SIGNATURE_SCHEMA rows via one mapInPandas pass.

    Column pruning: only the three needed columns reach the Python worker —
    select first so the Arrow transfer never ships anything else (SURVEY §4:
    only `content` reaches the shingler).

    repartition="auto" decides the kernel-stage parallelism from the
    OPTIMIZER'S input-size estimate (session.kernel_partitions, guide §2:
    scale-adaptive, derived from input size): a small scan-fed input whose
    split count would run the CPU-bound kernel nearly serially is hash-
    repartitioned by doc_key to an even task count; an input that is
    already wide — a big scan, or anything downstream of a shuffle (AQE's
    parallelism-first coalescing keeps those at ~defaultParallelism
    partitions, floored by minPartitionSize) — keeps its partitioning, so
    the content payload is never shuffled a second time just for task
    sizing (§8: move heavy bytes once). The r7 formulation probed
    `src.rdd.getNumPartitions()`, which under AQE eagerly materializes
    every upstream shuffle stage — ~0.7s of duplicated work per query at
    bench scale — and then unconditionally re-shuffled content to a fixed
    4x-parallelism count. Pass None to always keep the upstream
    partitioning, or an int to force a count.
    """
    cfg_k, cfg_perm, cfg_seed = cfg.shingle_k, cfg.num_perm, cfg.seed
    cfg_bands, cfg_rows = cfg.bands, cfg.rows_per_band
    src = df.select(
        F.col(key_col).alias("doc_key"),
        F.col(sha_col).alias("content_sha"),
        F.col(content_col).alias("content"),
    )
    if repartition == "auto":
        from dedup.session import kernel_partitions

        repartition = kernel_partitions(src)
    if repartition:
        src = src.repartition(int(repartition), "doc_key")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seeds = perm_seeds(cfg_perm, cfg_seed)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sh, starts, counts, n_distinct = batch_shingles(pdf["content"], cfg_k)
            sig = minhash_from_segments(sh, starts, seeds)
            sim = simhash_from_segments(sh, starts, counts)
            bh = band_hashes(sig, cfg_bands, cfg_rows, cfg_seed)
            yield pd.DataFrame(
                {
                    "doc_key": pdf["doc_key"].to_numpy(),
                    "content_sha": pdf["content_sha"].to_numpy(),
                    "minhash": list(sig.astype(np.int64)),
                    "simhash": sim.astype(np.int64),
                    "n_shingles": n_distinct.astype(np.int32),
                    "bands": list(bh.astype(np.int64)),
                }
            )

    return src.mapInPandas(compute, SIGNATURE_BANDS_SCHEMA)


SKETCH_AGG_SCHEMA = StructType(
    [
        StructField("group_key", StringType(), False),
        StructField("n_docs", LongType(), False),
        StructField("est_distinct_shingles", LongType(), False),
    ]
)

_SKETCH_PARTIAL_SCHEMA = StructType(
    [
        StructField("group_key", StringType(), False),
        StructField("payload", BinaryType(), False),
    ]
)


def minhash_sketch_by_group(
    sig_df: DataFrame, group_col: str, cfg: DedupConfig
) -> DataFrame:
    """Mergeable corpus-level MinHash sketch per group — the reference's
    partial+final aggregation contract run through Spark (SURVEY §2.2:
    update=partial per partition, merge=final per group,
    FrequentDirections.java:187-232).

    Partial: one MinHashSketch per (input partition, group), serialized to
    its compact preamble-validated image (shrink-before-shuffle, the
    reference's compact-serialization discipline §4-6). Final: images are
    heapified and merged associatively per group. Output includes a KMV-style
    distinct-shingle estimate n̂ = (k-1) / Σ(min_i / 2^64) — deterministic
    given the data, order-insensitive by the merge contract.
    """
    from dedup.sketches import MinHashSketch

    num_perm, seed = cfg.num_perm, cfg.seed

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[str, MinHashSketch] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for g, sub in pdf.groupby("group_key", sort=False):
                sk = sketches.setdefault(g, MinHashSketch(num_perm, seed))
                sk.update(np.vstack(sub["minhash"].to_numpy()).astype(np.uint64))
        if sketches:
            yield pd.DataFrame(
                {
                    "group_key": list(sketches),
                    "payload": [s.to_bytes() for s in sketches.values()],
                }
            )

    def final(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        merged = MinHashSketch(num_perm, seed)
        for buf in pdf["payload"]:
            merged.merge(MinHashSketch.from_bytes(bytes(buf)))
        u = merged.mins.astype(np.float64) / float(2**64)
        est = int((num_perm - 1) / max(u.sum(), 1e-300)) if merged.n else 0
        return pd.DataFrame(
            {
                "group_key": [key[0]],
                "n_docs": np.array([merged.n], dtype=np.int64),
                "est_distinct_shingles": np.array([est], dtype=np.int64),
            }
        )

    partials = (
        sig_df.select(F.col(group_col).alias("group_key"), "minhash")
        .mapInPandas(partial, _SKETCH_PARTIAL_SCHEMA)
    )
    return partials.groupBy("group_key").applyInPandas(final, SKETCH_AGG_SCHEMA)


def compute_bands(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Signatures → exploded (doc_key, band_id, band_hash) rows.

    The band hash folds rows_per_band signature components per band
    (sketches.band_hashes) — the analog of the reference's shape-aware
    algorithm choice (§4-2): compare 16 hashes, not 128 components.

    Every signature producer (compute_signatures and
    pipeline.decode_signature_blocks) emits the precomputed `bands` column,
    so this is a pure JVM posexplode — no second Python crossing, no Arrow
    round trip of the 128-long signature arrays.
    """
    return sig_df.select(
        "doc_key", F.posexplode("bands").alias("band_id", "band_hash")
    ).select(
        "doc_key", F.col("band_id").cast("int").alias("band_id"), "band_hash",
    )
