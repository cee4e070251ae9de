"""Union-find connected components as alternating star-contraction joins.

Spark has no built-in connected-components operator (SURVEY §4, custom work
#2). We implement the large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond" — the same family as the BTS
paper listed in PAPERS.md): each round is two self-join + groupBy passes over
the edge list, converging in O(log² n) rounds. Every round localCheckpoints
the edge list to truncate lineage — the fixpoint loop is the one genuinely
non-relational control flow in the engine (SURVEY §7.4-1).

Cluster labels are canonical min-member ids, so the result is deterministic
regardless of merge/iteration order — the same order-insensitivity contract
as the reference's sketch merge (SURVEY §2.3-1).

A single-node numpy union-find (`numpy_connected_components`) serves as the
closed-form oracle in tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from dedup.session import materialize


def connected_components(
    edges: DataFrame, src: str = "key_a", dst: str = "key_b", max_iter: int = 50,
    driver_threshold: int = 2_000_000, driver_byte_budget: int = 256 << 20,
) -> DataFrame:
    """Edge list → (doc_key, cluster_id) for every node appearing in edges.

    cluster_id = minimum doc_key in the component (lexicographic for strings,
    numeric for numerics — caller picks an orderable key type).

    Small edge sets run path-compressed union-find on the driver (same
    canonical labels, none of the fixpoint-iteration shuffles) — the same
    small-side cutover Catalyst applies for broadcast joins. The cutover is
    BYTE-budgeted, not just row-counted (VERDICT r1 fix #7): the same
    aggregate that counts edges sums their key bytes, and the collect only
    happens when both fit (Python-object inflation is bounded by
    driver_byte_budget * ~6). The star-contraction path handles arbitrarily
    large graphs; both paths are tested against each other
    (test_pipeline.py).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # the cutover stats are observed on the cut's own action (no count job);
    # octet_length, not length: the budget is in BYTES and multi-byte UTF-8
    # keys would undercount by up to 4x with a character count (ADVICE r2)
    key_bytes = (F.octet_length(F.col("u").cast("string")).cast("long")
                 + F.octet_length(F.col("v").cast("string")).cast("long"))
    seen = Observation()
    e = materialize(
        e.observe(seen, F.count(F.lit(1)).alias("c"),
                  F.coalesce(F.sum(key_bytes), F.lit(0)).alias("bytes")),
        eager=True,
    )
    stats = seen.get
    if stats["c"] <= driver_threshold and stats["bytes"] <= driver_byte_budget:
        pairs = [(r["u"], r["v"]) for r in e.collect()]
        labels = numpy_connected_components(pairs)
        out_schema = e.select(
            F.col("u").alias("doc_key"), F.col("v").alias("cluster_id")
        ).schema
        return e.sparkSession.createDataFrame(list(labels.items()), out_schema)
    prev_sig = _edge_sig(e)

    for _ in range(max_iter):
        e2 = _small_star(_large_star(e))
        e2 = materialize(e2, eager=True)
        sig = _edge_sig(e2)
        e = e2
        if sig == prev_sig:
            break
        prev_sig = sig

    # converged: every edge is (child, root). Roots label themselves.
    children = e.select(F.col("u").alias("doc_key"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("doc_key")).distinct().withColumn(
        "cluster_id", F.col("doc_key")
    )
    return children.unionByName(roots).groupBy("doc_key").agg(
        F.min("cluster_id").alias("cluster_id")
    )


def _sym(e: DataFrame) -> DataFrame:
    return e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect all strictly-larger neighbors to
    m = min(N(u) ∪ {u})."""
    s = _sym(e)
    m = s.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.withColumn("m", F.least("u", "mn")).select("u", "m")
    return (
        s.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u over smaller-or-equal neighbors N⁻(u): connect them
    (and u) to m = min(N⁻(u) ∪ {u})."""
    # orient edges toward the larger endpoint: (big, small)
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = d.groupBy("u").agg(F.min("v").alias("m"))  # m < u always here
    return (
        d.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .unionAll(m.select(F.col("u"), F.col("m").alias("v")))
        .distinct()
    )


def _edge_sig(df: DataFrame) -> tuple:
    """Order-insensitive edge-set checksum for the fixpoint test; bit_xor
    cannot overflow (edges are distinct so no self-cancellation). One job per
    iteration — the signature of the previous edge set is carried forward."""
    r = df.agg(
        F.count("*").alias("c"),
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
    ).collect()[0]
    return (r["c"], r["h"])


def attach_singletons(clusters: DataFrame, all_docs: DataFrame,
                      key: str = "doc_key") -> DataFrame:
    """Every document gets a cluster id; docs in no edge label themselves."""
    return (
        all_docs.select(F.col(key).alias("doc_key"))
        .join(clusters, "doc_key", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_key"))
    )


def numpy_connected_components(pairs: list[tuple]) -> dict:
    """Single-node union-find oracle: node → min-member label.

    Path-compressed weighted union-find; the test oracle for the Spark
    implementation (FIXTURES.md F3 merge-order tests).
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = set()
    for a, b in pairs:
        nodes.add(a)
        nodes.add(b)
    return {n: find(n) for n in nodes}
