"""Approximate nearest neighbors over an embedding column.

Two paths (task brief: similarity search over array<float>):

- `brute_force_topk`: exact cosine top-k with pure built-in expressions
  (`zip_with` dot product + `aggregate` sums inside whole-stage codegen) —
  the correctness baseline and the DuckDB-oracle query.
- `lsh_topk`: the scale path — random-hyperplane (sign) LSH buckets the
  candidates so each query only scores its bucket (plus multi-probe
  Hamming-1 neighbors). At 100 TB the bucket join replaces the cross join:
  shuffle on bucket id instead of broadcast-everything.

Hyperplanes are seeded and generated identically on every executor (no
driver-side state to ship besides the seed).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from dedup.buckets import audit, probe_join, recall_floor, self_join
from dedup.session import materialize


def _cosine(a, b):  # Column expr: cosine between two array<double>
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                            lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0),
                            lambda acc, x: acc + x))
    return dot / (na * nb)


def as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): each query's k best-scored
    (`cos_raw`) neighbors, ties broken on neighbor id (deterministic)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def brute_force_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    The cross join broadcasts the (small) query side; ranking is a window
    over each query partition (_top_k)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    scored = F.broadcast(q).crossJoin(c).withColumn(
        "cos_raw", _cosine(F.col("qv"), F.col("cv"))
    )
    return _top_k(scored, k)


def _vector_kernel(df: DataFrame, id_col: str, out_id: str, vec_col: str,
                   key: str, carry_vec: bool, kernel) -> DataFrame:
    """`kernel` mapped over (id_col AS out_id, vec_col) batches, emitting
    (out_id, key int) rows plus the double vector `v` with carry_vec; the
    id keeps the caller's type (numeric vec ids, string asset ids)."""
    from dedup.session import kernel_partitions

    fields = [StructField(out_id, df.schema[id_col].dataType, False),
              StructField(key, IntegerType(), False)]
    if carry_vec:
        fields.append(StructField("v", ArrayType(DoubleType(), False), False))
    src = df.select(F.col(id_col).alias(out_id), vec_col)
    # scale-adaptive kernel parallelism (session.kernel_partitions): a
    # small scan-fed vector table would run the matmul on its (few) splits
    # and — with carry_vec — leave every downstream bucket join that
    # narrow; at scale the scan is already core-wide and this is a no-op
    parts = kernel_partitions(src)
    if parts:
        src = src.repartition(parts, out_id)
    return src.mapInPandas(kernel, StructType(fields))


def hyperplane_buckets(
    df: DataFrame, n_bits: int = 12, dim: int = 64, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    carry_vec: bool = False,
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit pattern of n_bits projections.
    Output keeps the caller's id column name and type (numeric vec ids,
    string asset ids — anything orderable).

    carry_vec=True additionally emits the double-cast vector as `v`
    (bit-identical to ann.as_double: float32→float64 widening is exact), so
    join-side callers get (id, bucket, v) straight from the kernel instead
    of re-attaching vectors with an id equi-join — at 10^9 vectors that
    join shuffles the whole payload table by id just to recover a column
    the kernel already held (guide §8: re-attachment must not sneak the
    payload shuffle back in)."""
    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((dim, n_bits))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            proj = m @ planes  # (n, n_bits)
            bits = (proj > 0).astype(np.int64)
            bucket = (bits << np.arange(n_bits)[None, :]).sum(axis=1)
            out = {
                id_col: pdf[id_col].to_numpy(),
                "bucket": bucket.astype(np.int32),
            }
            if carry_vec:
                out["v"] = list(m)
            yield pd.DataFrame(out)

    return _vector_kernel(df, id_col, id_col, vec_col, "bucket", carry_vec,
                          bucketize)


DEFAULT_BUCKET_CAP = 2000  # same default discipline as DedupConfig.band_bucket_cap


def vector_lsh_audit(cb: DataFrame, cap: int) -> DataFrame:
    """Compensative accounting for the vector-LSH path (the lsh_audit analog,
    dedup/lsh.py): candidate rows dropped by the bucket cap are surfaced,
    never silently lost. One row: (n_buckets, n_dropped_buckets,
    eligible_rows, dropped_rows, row_recall_floor); all zeros on an empty
    input."""
    return audit(cb, ["bucket"], cap).select(
        "n_buckets", "n_dropped_buckets", "eligible_rows", "dropped_rows",
        recall_floor("eligible_rows", "dropped_rows").alias("row_recall_floor"),
    )


def capped_bucket_self_join(f: DataFrame, id_col: str, cap: int) -> DataFrame:
    """Within-bucket pairs (id_a, v_a, id_b, v_b), id_a < id_b, of a
    (id, bucket, v) table through buckets.self_join. The table is
    materialized first: the gate and both join sides read it, and its
    upstream may be an expensive kernel (the multimodal decode behind
    asset features). The cap matters here: with n_bits=12 there are only
    4096 buckets, so one dense region at 10^9 vectors would put 10^5+ rows
    in a bucket and 10^10+ pairs in one task (VERDICT r2 #1)."""
    f = materialize(f, eager=False)
    return self_join(f, ["bucket"], id_col, ["v"], cap)[0]


def cosine_verified(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine) of (id_a, id_b, v_a, v_b) pairs whose rounded
    cosine reaches `threshold`, once per pair (a bucket join emits a pair
    once per shared bucket)."""
    return (
        pairs.select(
            "id_a", "id_b",
            F.round(_cosine(F.col("v_a"), F.col("v_b")), 4).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def vector_near_dup_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_bits: int = 12, dim: int = 64, seed: int = 42,
    threshold: float = 0.9, bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate pairs over a raw embedding table: hyperplane-LSH
    buckets + capped/salted within-bucket self-join + cosine verify — the
    multimodal asset_near_dups shape minus the decode (embeddings arrive
    precomputed). Returns (id_a, id_b, cosine ≥ threshold), deduped.
    Batch ground truth for the incremental stream_vector_pairs path."""
    # carry_vec: (id, bucket, v) straight from the kernel — no id re-attach
    # join (which at scale shuffles the vector payload a second time)
    f = hyperplane_buckets(df, n_bits=n_bits, dim=dim, seed=seed,
                           id_col=id_col, vec_col=vec_col, carry_vec=True)
    return cosine_verified(capped_bucket_self_join(f, id_col, cap=bucket_cap),
                           threshold)


def quantizer_sample_plan(candidates: DataFrame, thr: int,
                          id_col: str, vec_col: str) -> DataFrame:
    """Pruned (hash, id, vector) projection filtered by a hash threshold —
    the distributed half of the quantizer sample. No global sort: the
    previous `orderBy(xxhash64).limit(sample_rows)` draw range-partitioned
    (= shuffled) the entire vector table to keep 20k rows (VERDICT r5 #5);
    the hash-threshold filter selects the same rows — the `sample_rows`
    smallest by (xxhash64(id), id) — with a scan-side projection filter and
    zero exchanges (plan-asserted, tests/test_plans.py)."""
    return candidates.select(
        F.xxhash64(F.col(id_col)).alias("h"),
        F.col(id_col).alias("i"),
        F.col(vec_col).alias("v"),
    ).where(F.col("h") <= F.lit(thr))


def quantizer_sample(candidates: DataFrame, sample_rows: int,
                     id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic bounded quantizer sample: the `sample_rows` rows with
    the smallest (xxhash64(id), id) — a seeded pseudo-random draw that is
    identical on any partition layout (VERDICT r2 #6) and bit-identical to
    the global-sort draw it replaces (pytest-pinned), without the global
    sort. Returns a (n, dim) float64 matrix in (hash, id) order.

    Cost model at 10^12 rows: one count (parquet answers from footer
    metadata — no data read) plus one filtered scan collecting ~4x
    sample_rows pruned rows; the old path shuffled every vector through a
    range partitioner."""
    total = candidates.count()
    frac = 1.0 if total <= sample_rows else min(1.0, 4.0 * sample_rows / total)
    while True:
        # xxhash64 is uniform over int64; the threshold keeps ~frac of rows.
        thr = (2**63 - 1) if frac >= 1.0 else int(-(2**63) + frac * 2.0**64)
        rows = quantizer_sample_plan(candidates, thr, id_col, vec_col).collect()
        if len(rows) >= min(sample_rows, total) or frac >= 1.0:
            break
        # binomial shortfall at 4x oversampling is astronomically rare;
        # widen and rescan rather than fail determinism
        frac = min(1.0, frac * 4.0)
    rows.sort(key=lambda r: (r["h"], r["i"]))
    m = np.vstack(
        [np.asarray(r["v"], dtype=np.float64) for r in rows[:sample_rows]]
    )
    return m


def train_quantizer(candidates: DataFrame, n_centroids: int, seed: int,
                    sample_rows: int, id_col: str, vec_col: str):
    """Seeded spherical k-means on the bounded sample → (n_centroids, dim)
    unit-norm centroid matrix, tiny enough to ship in a UDF closure."""
    sample = quantizer_sample(candidates, sample_rows, id_col, vec_col)
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)),
                             replace=False)]
    for _ in range(10):  # spherical k-means
        assign = np.argmax(sample @ cent.T, axis=1)
        for c in range(len(cent)):
            m = sample[assign == c]
            if len(m):
                v = m.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def cell_assignments(df: DataFrame, centroids, nearest: int,
                     id_col: str, vec_col: str,
                     carry_vec: bool = False) -> DataFrame:
    """(vec_id, cell) rows: each input vector's `nearest` closest centroid
    cells (nearest=1 for candidates, nprobe for queries). Arrow-batched
    matmul; centroids ride the closure. The vec_id column carries the
    caller's id type (numeric vec ids, string asset ids — anything
    orderable), mirroring hyperplane_buckets (VERDICT r6 #3).

    carry_vec=True emits the double-cast UNnormalized vector as `v` (see
    hyperplane_buckets: saves the id re-attach join that would shuffle the
    vector payload at scale)."""

    # the trained quantizer can hold FEWER centroids than nprobe (tiny
    # candidate tables, degenerate samples): clamp, or np.repeat below
    # mismatches argsort's column count and the whole Arrow batch fails
    n_take = min(nearest, len(centroids))

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            raw = m.copy() if carry_vec else None
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ centroids.T
            top = np.argsort(-sims, axis=1)[:, :n_take]
            out = {
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_take),
                "cell": top.reshape(-1).astype(np.int32),
            }
            if carry_vec:
                out["v"] = list(np.repeat(raw, n_take, axis=0))
            yield pd.DataFrame(out)

    return _vector_kernel(df, id_col, "vec_id", vec_col, "cell", carry_vec, go)


def ivf_cell_audit(
    candidates: DataFrame, n_centroids: int = 32, seed: int = 42,
    sample_rows: int = 20000, cap: int = DEFAULT_BUCKET_CAP,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Compensative accounting for the IVF cell join (the vector_lsh_audit
    analog): trains the same quantizer as ivf_topk and reports, in one row,
    how many candidate rows the cell cap would drop — dropped mass is
    surfaced, never silently lost."""
    centroids = train_quantizer(candidates, n_centroids, seed, sample_rows,
                                id_col, vec_col)
    cells = cell_assignments(candidates, centroids, 1, id_col, vec_col)
    return vector_lsh_audit(cells.withColumnRenamed("cell", "bucket"), cap)


def ivf_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 5,
    n_centroids: int = 32, nprobe: int = 8, seed: int = 42,
    sample_rows: int = 20000,
    id_col: str = "vec_id", vec_col: str = "embedding",
    cell_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer; each query scores only
    the `nprobe` nearest centroid cells.

    At scale: centroids are trained on a bounded hash-filtered sample (no
    global sort) and shipped in the UDF closure (tiny); the candidate table
    is shuffled ONCE on cell id, queries explode to nprobe rows — the join
    replaces the cross join, so cost is |C|·nprobe/n_centroids per query
    instead of |C|. Recall/cost is tuned by nprobe (nprobe = n_centroids
    degenerates to exact ONLY if cell_cap is also lifted — a cell over the
    cap is dropped compensatively regardless of nprobe; the exhaustive
    oracle passes cell_cap=1<<62 for exactly this reason).

    The cell join is buckets.probe_join (VERDICT r5 #1): the join key has
    only n_centroids (~32) distinct values, so a clustered embedding
    distribution at 10^12 rows would otherwise pin one cell's mass in a
    single task. Cells over `cell_cap` rows are dropped compensatively —
    quantify with ivf_cell_audit before trusting a capped run."""
    centroids = train_quantizer(candidates, n_centroids, seed, sample_rows,
                                id_col, vec_col)
    # carry_vec: the cell kernel emits the vector alongside the assignment,
    # so neither side pays an id re-attach join (a full payload shuffle at
    # scale — guide §8)
    q = (
        cell_assignments(queries, centroids, nprobe, id_col, vec_col,
                         carry_vec=True)
        .withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("v", "qv")
    )
    c = (
        cell_assignments(candidates, centroids, 1, id_col, vec_col,
                         carry_vec=True)
        .withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("v", "cv")
    )
    scored = probe_join(
        q.withColumnRenamed("cell", "bucket"),
        c.withColumnRenamed("cell", "bucket"),
        ["bucket"], "neighbor_id", cell_cap, floor=1,
    )[0].withColumn("cos_raw", _cosine(F.col("qv"), F.col("cv")))
    return _top_k(scored, k)


def lsh_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 5,
    n_bits: int = 12, dim: int = 64, seed: int = 42, multiprobe: bool = True,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing a (multi-probed)
    hyperplane bucket with the query. Equi-join on bucket id — shuffles scale
    with bucket sizes, not |Q| x |C|. The join is buckets.probe_join
    (VERDICT r2 #1): candidate buckets over `bucket_cap` are dropped
    (quantify via vector_lsh_audit)."""
    # carry_vec: bucket + vector from one kernel pass per side — no id
    # re-attach joins (full payload shuffles at scale — guide §8)
    qb = hyperplane_buckets(queries, n_bits, dim, seed, id_col, vec_col,
                            carry_vec=True)
    cb = hyperplane_buckets(candidates, n_bits, dim, seed, id_col, vec_col,
                            carry_vec=True)
    if multiprobe:
        # probe the bucket plus all Hamming-1 neighbors of the query's bucket
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << b)).cast("int")
                for b in range(n_bits)
            ],
        )
        qb = qb.withColumn("bucket", F.explode(probes))
    q = qb.withColumnRenamed(id_col, "query_id").withColumnRenamed("v", "qv")
    c = cb.withColumnRenamed(id_col, "neighbor_id").withColumnRenamed("v", "cv")
    scored = (
        probe_join(q, c, ["bucket"], "neighbor_id", bucket_cap, floor=1)[0]
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_raw", _cosine(F.col("qv"), F.col("cv")))
    )
    return _top_k(scored, k)
