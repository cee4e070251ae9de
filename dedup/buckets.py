"""Bucket joins with explicit skew defense: count → cap → salt, in one place.

Skew is the north-rule hazard (SURVEY §7.4-2): a hot bucket (license
headers, empty files, one giant repo, a dense embedding region) makes a
within-bucket join quadratic in one task. Three defenses, in order:

1. sha256-exact dedup BEFORE MinHash (pipeline.py) — verbatim copies never
   reach a bucket join at all.
2. bucket cap: a map-side combinable count per bucket (partial counts
   shuffle, never members), then buckets over the caller's cap are dropped
   before any task buffers their rows — a degenerate 10^7-member bucket
   costs one counter. Their size is recorded: the compensative accounting
   of the reference's svAdjustment_ (§2.3-5), mass we subtract is tracked,
   never silently lost.
3. salting for hot-but-eligible buckets (≥ HOT_BUCKET_MIN rows): one side
   keeps one salt (its id hash mod SALTS), the other replicates to all
   SALTS salts, so a size-m bucket fans out to SALTS tasks instead of one
   m² task, without betting on AQE skew-splitting a single join key.
   Exactly one replica matches each salted row: no pair repeats.

Every bucket join has one shape. `probe_join` joins probe rows to a build
table whose sizes gate the join: the build side is salted, the probe side
replicates, cold buckets join at salt 0. `self_join` is probe_join of the
table with itself, keeping the pairs with a.id < b.id. `new_vs_all` is
its incremental form: new rows probe new + stored rows, and the orientation
rule emits each pair once, in the round its later member arrives.

Materialization is the caller's choice. The gate's count pass and both
sides of the join read the table, so a table behind a Python kernel
(bands, SimHash blocks, decoded asset features) is cut once with
`materialize(..., eager=False)` — localCheckpoint, free of the plan-cache
aliasing a persist() inside a library operator would create. A cheap JVM
projection of materialized data (bands exploded from a signature cut) or a
pruned scan plus a small kernel (the vector-LSH probe at 10^9 vectors) is
recomputed per consumer: writing it out costs more than re-deriving it.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

HOT_BUCKET_MIN = 64  # buckets below this skip salting (one task is fine)
SALTS = 8            # tasks a hot bucket spreads over

# exact bigint pair slots of a bucket (ADVICE r4): a double form loses
# precision past 2^53, bigint overflows loudly under ANSI instead
PAIR_SLOTS = "bucket_size * (bucket_size - 1) DIV 2"


def bucket_sizes(table: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """(*bucket_cols, bucket_size): the map-side combinable count pass."""
    return table.groupBy(*bucket_cols).agg(F.count("*").alias("bucket_size"))


def gate(table: DataFrame, bucket_cols: list[str], cap: int, floor: int = 2,
         observation: Observation | None = None
         ) -> tuple[DataFrame, DataFrame]:
    """(eligible, dropped) bucket sizes, both (*bucket_cols, bucket_size):
    eligible buckets hold `floor`..`cap` rows, dropped ones more than `cap`.
    `observation` receives `dropped_slots`, the pair slots the cap drops,
    from the count pass itself: no job of its own."""
    sizes = bucket_sizes(table, bucket_cols)
    over = F.col("bucket_size") > cap
    if observation is not None:
        sizes = sizes.observe(observation, F.coalesce(
            F.sum(F.when(over, F.expr(PAIR_SLOTS))), F.lit(0)
        ).alias("dropped_slots"))
    return sizes.where((F.col("bucket_size") >= floor) & ~over), sizes.where(over)


def dropped_slots(observation: Observation, dropped: DataFrame) -> int:
    """The pair slots a gate dropped, read from its observation once the
    join has run. AQE removes a materialized stage from the final plan when
    a parent comes out empty (no eligible bucket, or no pair surviving
    downstream), and the observation of a metrics node in that stage stays
    unfilled: the slots are then summed from `dropped` directly."""
    try:
        return observation.get["dropped_slots"]
    except Py4JJavaError:
        return dropped.agg(
            F.coalesce(F.sum(F.expr(PAIR_SLOTS)), F.lit(0))
        ).collect()[0][0]


def audit(table: DataFrame, bucket_cols: list[str], cap: int) -> DataFrame:
    """One row of compensative accounting for a capped bucket join:
    (n_buckets, n_multi_buckets, n_dropped_buckets, eligible_rows,
    dropped_rows, eligible_pair_slots, dropped_pair_slots, max_multi_size).
    Sums are coalesced to 0 so an EMPTY table yields an all-zero row, not
    nulls that poison downstream comparisons."""
    size = F.col("bucket_size")
    over, multi, slots = size > cap, size >= 2, F.expr(PAIR_SLOTS)

    def total(x: Column) -> Column:
        return F.coalesce(F.sum(x), F.lit(0)).cast("long")

    return bucket_sizes(table, bucket_cols).agg(
        F.count("*").alias("n_buckets"),
        total(multi.cast("long")).alias("n_multi_buckets"),
        total(over.cast("long")).alias("n_dropped_buckets"),
        total(F.when(~over, size)).alias("eligible_rows"),
        total(F.when(over, size)).alias("dropped_rows"),
        total(F.when(multi & ~over, slots)).alias("eligible_pair_slots"),
        total(F.when(over, slots)).alias("dropped_pair_slots"),
        F.coalesce(F.max(F.when(multi, size)), F.lit(0))
        .alias("max_multi_size"),
    )


def recall_floor(kept: str, lost: str) -> Column:
    """kept / (kept + lost), rounded; 0 when both are 0."""
    return F.round(
        F.col(kept) / F.greatest(F.col(kept) + F.col(lost), F.lit(1)), 6
    )


def _salt(id_col: str) -> Column:
    return F.pmod(F.xxhash64(id_col), F.lit(SALTS)).cast("int")


def _replicas() -> Column:
    return F.sequence(F.lit(0), F.lit(SALTS - 1))


def _salted_on(bucket_cols: list[str]) -> list[Column]:
    # the salt is never null, so null-safe equality matches the same rows;
    # plain equality lets the optimizer push an inferred isnotnull(salt)
    # below the id-hash side's gate join, and the two sides of a self join
    # then stop sharing the table's exchanges (a second full shuffle)
    return [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols] + [
        F.col("a.salt").eqNullSafe(F.col("b.salt"))]


def self_join(table: DataFrame, bucket_cols: list[str], id_col: str,
              payload_cols: list[str], cap: int,
              observation: Observation | None = None
              ) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped): every pair of rows sharing an eligible bucket,
    probe_join of the table with itself. Rows must be distinct per
    (bucket, id, payload): a repeated row pairs once per copy.

    pairs:   (id_a, id_b, p_a, p_b for each payload column p) with
             id_a < id_b, once per shared bucket
    dropped: (*bucket_cols, bucket_size) of the over-cap buckets"""
    rows = table.select(*bucket_cols, id_col, *payload_cols)
    joined, dropped = probe_join(rows, rows, bucket_cols, id_col, cap, 2,
                                 observation)
    a, b = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return joined.where(a < b).select(
        a.alias("id_a"), b.alias("id_b"),
        *[F.col(f"{s}.{p}").alias(f"{p}_{s}")
          for p in payload_cols for s in ("a", "b")],
    ), dropped


def probe_join(probe: DataFrame, build: DataFrame, bucket_cols: list[str],
               id_col: str, cap: int, floor: int,
               observation: Observation | None = None
               ) -> tuple[DataFrame, DataFrame]:
    """(joined, dropped): probe rows joined to the build rows of their
    bucket, buckets gated on their build-side size.

    `id_col` is the build side's id, which salts its hot buckets. `floor`
    is 2 when the probe rows are part of the build table (a lone row has
    nothing to pair with) and 1 for a separate query side. `joined` holds
    both sides' columns, the probe side aliased "a" and the build side
    "b"; dropped is (*bucket_cols, bucket_size) of the over-cap buckets.
    `observation` goes to the gate."""
    eligible, dropped = gate(build, bucket_cols, cap, floor, observation)
    hot = F.col("bucket_size") >= HOT_BUCKET_MIN
    b = build.join(eligible, bucket_cols).withColumn(
        "salt", F.when(hot, _salt(id_col)).otherwise(F.lit(0)))
    a = probe.join(eligible, bucket_cols).withColumn("salt", F.explode(
        F.when(hot, _replicas()).otherwise(F.array(F.lit(0)))))
    joined = a.drop("bucket_size").alias("a").join(
        b.drop("bucket_size").alias("b"), on=_salted_on(bucket_cols)
    ).drop("salt")
    return joined, dropped


def new_vs_all(new: DataFrame, stored: DataFrame | None,
               bucket_cols: list[str], id_col: str, cap: int
               ) -> tuple[DataFrame, DataFrame]:
    """(joined, dropped): the incremental form of probe_join. `new` rows
    probe new + `stored` rows (`stored` may be None), buckets gated on
    their COMBINED size at floor 2, the batch path's drop semantics at the
    time the later member arrives. New rows pair once with a < b, stored
    rows pair with every new id, so each pair appears in the round its
    later member is new, once per shared bucket. Both sides carry the
    same columns, `new` aliased "a" and new + stored "b"."""
    both = new.withColumn("is_new", F.lit(True))
    if stored is not None:
        both = both.unionByName(stored.withColumn("is_new", F.lit(False)))
    joined, dropped = probe_join(new, both, bucket_cols, id_col, cap, floor=2)
    a, b = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return (joined.where(F.when(F.col("b.is_new"), a < b).otherwise(a != b)),
            dropped)
