"""SimHash utilities: Hamming-radius candidate pairing.

SimHash fingerprints are computed in the signature stage (minhash.py) from the
same shingle stream. This module adds the SimHash-side candidate generator:
split the 64-bit fingerprint into (max_hamming + 1) blocks — two fingerprints
within Hamming distance h must agree exactly on at least one block
(pigeonhole), so an equi-join per block finds all candidates. Pure built-in
expressions, JVM-side; the final Hamming filter is `bit_count(a ^ b)`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup.buckets import self_join
from dedup.config import DedupConfig
from dedup.session import materialize


def simhash_blocks(sig_df: DataFrame, n_blocks: int) -> DataFrame:
    """Explode each fingerprint into (doc_key, block_id, block_val)."""
    width = 64 // n_blocks
    mask = (1 << width) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("block_val"),
            )
            for i in range(n_blocks)
        ]
    )
    return (
        sig_df.select("doc_key", "simhash", F.explode(blocks).alias("b"))
        .select("doc_key", "simhash", "b.block_id", "b.block_val")
    )


def simhash_candidate_pairs(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """All pairs with Hamming(simhash_a, simhash_b) <= cfg.simhash_max_hamming.

    Pigeonhole over max_hamming+1 blocks guarantees completeness. The block
    self-join is buckets.self_join over (block_id, block_val) capped at
    cfg.band_bucket_cap: a degenerate block value (e.g. all-zero
    fingerprints) is dropped by the count pass.
    """
    n_blocks = cfg.simhash_max_hamming + 1
    # the block table feeds the count pass and both join sides
    blocks = materialize(simhash_blocks(sig_df, n_blocks), eager=False)
    pairs, _ = self_join(blocks, ["block_id", "block_val"], "doc_key",
                         ["simhash"], cfg.band_bucket_cap)
    return pairs.distinct().select(
        F.col("id_a").alias("key_a"),
        F.col("id_b").alias("key_b"),
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        .alias("hamming"),
    ).where(F.col("hamming") <= cfg.simhash_max_hamming)
