"""LSH candidate generation: band buckets → pairs.

The bucket join and its skew defenses (sha-exact pre-fold, bucket cap with
compensative accounting, salted hot buckets) live in dedup/buckets.py; this
module adds the band-table specifics and the recall audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from dedup.buckets import audit, recall_floor, self_join
from dedup.config import DedupConfig

BAND_COLS = ["band_id", "band_hash"]


def lsh_audit(bands_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Compensative accounting surfaced as a query — the analog of
    getSingularValues(compensative=true) exposing svAdjustment_ at query time
    (reference: FrequentDirections.java:284-304, SURVEY §2.3-5): the raw
    result (pair slots actually eligible) next to the mass subtracted by the
    bucket cap (pair slots dropped), so recall can be audited without rerun.

    One row: (n_buckets, n_multi_buckets, n_dropped_buckets,
    eligible_pair_slots, dropped_pair_slots, candidate_recall_floor).
    """
    return audit(bands_df, BAND_COLS, cfg.band_bucket_cap).select(
        "n_buckets", "n_multi_buckets", "n_dropped_buckets",
        "eligible_pair_slots", "dropped_pair_slots",
        recall_floor("eligible_pair_slots", "dropped_pair_slots")
        .alias("candidate_recall_floor"),
    )


def candidate_pairs(
    bands_df: DataFrame,
    cfg: DedupConfig,
    observation: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped) from band buckets through buckets.self_join.

    pairs:   (key_a, key_b, n_bands_hit) with key_a < key_b, distinct
    dropped: (band_id, band_hash, bucket_size) for capped buckets — the
             compensative record (recall auditing, SURVEY §2.3-5)

    Materializing the band table is the caller's choice (buckets.py):
    bands exploded from materialized signatures (the fused r8 bands) are
    cheap to recompute per consumer. `observation` receives the dropped
    pair slots (buckets.gate).
    """
    pairs, dropped = self_join(bands_df, BAND_COLS, "doc_key", [],
                               cfg.band_bucket_cap, observation)
    pairs = (
        pairs.select(F.col("id_a").alias("key_a"), F.col("id_b").alias("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count("*").alias("n_bands_hit"))
    )
    return pairs, dropped
