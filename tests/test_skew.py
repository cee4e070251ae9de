"""Skew defenses: bucket caps with compensative accounting, salted hot-bucket
path (SURVEY §7.4-2, north rule: skew handled explicitly)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.buckets import HOT_BUCKET_MIN
from dedup.lsh import candidate_pairs
from dedup.minhash import compute_bands, compute_signatures
from dedup.pipeline import exact_stage, key_docs
from dedup.session import materialize


def _boilerplate_corpus(spark, n_copies: int):
    """n_copies near-identical docs (1 token mutated each) — they do NOT fold
    in the exact stage but land in the same LSH buckets: a hot band."""
    base = " ".join(f"tok{i}" for i in range(300))
    rows = []
    for i in range(n_copies):
        toks = base.split()
        toks[i % len(toks)] = f"mut{i}"
        rows.append(
            dict(repo="r", path=f"f{i}", commit=str(i), lang="python",
                 content=" ".join(toks))
        )
    return key_docs(spark.createDataFrame(pd.DataFrame(rows)).repartition(4))


class TestBucketCap:
    def test_over_cap_buckets_dropped_and_recorded(self, spark):
        cfg = DedupConfig(band_bucket_cap=8)
        keyed = _boilerplate_corpus(spark, 24)  # buckets of ~24 > cap 8
        sigs = compute_signatures(keyed, cfg)
        pairs, dropped = candidate_pairs(
            materialize(compute_bands(sigs, cfg), eager=False), cfg)
        d = dropped.collect()
        assert len(d) > 0, "over-cap buckets must be recorded, not silent"
        assert all(r["bucket_size"] > cfg.band_bucket_cap for r in d)

    def test_degenerate_bucket_never_buffered(self, spark):
        """A planted over-cap bucket (10^7-member analog) must be dropped by
        the COUNT pass before any member row reaches the pair join: both
        inputs of the salted join sit above the gate's bucket_size filter,
        so no task buffers an over-cap bucket regardless of input skew
        (VERDICT r1 'what's wrong' #1)."""
        cfg = DedupConfig(band_bucket_cap=100)
        n_degen, n_cold = 5000, 5
        pdf = pd.DataFrame(
            {
                "doc_key": [f"d{i:06d}" for i in range(n_degen)]
                + [f"c{i}" for i in range(n_cold)],
                "band_id": np.int32(0),
                "band_hash": [np.int64(1)] * n_degen + [np.int64(2)] * n_cold,
            }
        )
        bands = spark.createDataFrame(pdf).repartition(8)
        pairs, dropped = candidate_pairs(materialize(bands, eager=False), cfg)

        got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
        assert got == {
            (f"c{i}", f"c{j}") for i in range(n_cold) for j in range(i + 1, n_cold)
        }, "cold bucket pairs intact, degenerate bucket contributes none"
        d = dropped.collect()
        assert len(d) == 1 and d[0]["bucket_size"] == n_degen

        def walk(node):
            yield node
            ch = node.children()
            for i in range(ch.size()):
                yield from walk(ch.apply(i))

        def gated(side):
            return any(
                n.nodeName() == "Filter" and "bucket_size" in n.simpleString(500)
                and f"<= {cfg.band_bucket_cap}" in n.simpleString(500)
                for n in walk(side)
            )

        nodes = list(walk(pairs._jdf.queryExecution().optimizedPlan()))
        assert not [n for n in nodes if "collect_set" in n.simpleString(500)]
        salt_joins = [n for n in nodes if n.nodeName() == "Join"
                      and "salt" in n.simpleString(500)]
        assert len(salt_joins) == 1, [n.simpleString(500) for n in salt_joins]
        join = salt_joins[0]
        assert gated(join.left()) and gated(join.right()), (
            "a pair-join input skips the cap gate — OOM hazard at scale"
        )

    def test_hot_bucket_salted_path_finds_pairs(self, spark):
        """Buckets between HOT_BUCKET_MIN and the cap route through the
        salted self-join and still produce every pair exactly once."""
        n = HOT_BUCKET_MIN + 10
        cfg = DedupConfig(band_bucket_cap=n + 50)
        keyed = _boilerplate_corpus(spark, n)
        sigs = compute_signatures(keyed, cfg)
        pairs, dropped = candidate_pairs(
            materialize(compute_bands(sigs, cfg), eager=False), cfg)
        rows = pairs.collect()
        assert dropped.count() == 0
        # near-identical docs: essentially every pair is a candidate
        seen = {(r["key_a"], r["key_b"]) for r in rows}
        assert len(seen) == len(rows), "pair produced more than once"
        assert len(seen) >= 0.95 * (n * (n - 1) / 2)
        assert all(r["key_a"] < r["key_b"] for r in rows)


class TestSimHashBucketCap:
    def _sigs(self, spark, counts: dict[int, int]):
        """(doc_key, simhash) rows: counts[h] docs per fingerprint value."""
        rows = [
            dict(doc_key=f"h{h}-{i:06d}", simhash=np.int64(h))
            for h, n in counts.items()
            for i in range(n)
        ]
        return spark.createDataFrame(pd.DataFrame(rows)).repartition(8)

    def test_degenerate_fingerprint_dropped(self, spark):
        from dedup.simhash import simhash_candidate_pairs

        cfg = DedupConfig(band_bucket_cap=100)
        sigs = self._sigs(spark, {0: 5000, 7: 4})
        got = {(r["key_a"], r["key_b"])
               for r in simhash_candidate_pairs(sigs, cfg).collect()}
        assert got == {
            (f"h7-{i:06d}", f"h7-{j:06d}")
            for i in range(4) for j in range(i + 1, 4)
        }, "cold fingerprint pairs intact, degenerate value dropped"

    def test_hot_but_eligible_salted_complete(self, spark):
        from dedup.simhash import simhash_candidate_pairs

        n = HOT_BUCKET_MIN + 20
        cfg = DedupConfig(band_bucket_cap=n + 50)
        sigs = self._sigs(spark, {3: n})
        got = {(r["key_a"], r["key_b"])
               for r in simhash_candidate_pairs(sigs, cfg).collect()}
        assert len(got) == n * (n - 1) // 2, "salted path must keep every pair"


def _bucketed_vectors(spark, counts: dict[int, int]):
    """(vec_id, bucket, v) rows: counts[bucket] near-identical unit vectors
    per bucket (tiny per-id jitter so ids are distinguishable)."""
    rows = []
    for bucket, n in counts.items():
        for i in range(n):
            v = np.zeros(4)
            v[bucket % 4] = 1.0
            v[(bucket + 1) % 4] = 1e-6 * i
            rows.append(
                dict(vec_id=bucket * 1_000_000 + i, bucket=bucket,
                     v=(v / np.linalg.norm(v)).tolist())
            )
    return spark.createDataFrame(pd.DataFrame(rows)).repartition(8)


class TestVectorBucketCap:
    """VERDICT r2 #1: the hyperplane-LSH bucket joins (ann.lsh_topk,
    multimodal.asset_near_dups) must follow the same count-cap-salt
    discipline as the text path."""

    def test_degenerate_vector_bucket_dropped_before_join(self, spark):
        from dedup.ann import capped_bucket_self_join

        f = _bucketed_vectors(spark, {1: 5000, 2: 5})
        pairs = capped_bucket_self_join(f, "vec_id", cap=100)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        expect = {
            (2_000_000 + i, 2_000_000 + j)
            for i in range(5) for j in range(i + 1, 5)
        }
        assert got == expect, "cold bucket intact, degenerate bucket dropped"

        # one id may hold several rows of a bucket (fingerprints keep a
        # first and a last offset): the cold path still pairs id_a < id_b,
        # never an id with itself
        from dedup.buckets import self_join

        rows = spark.createDataFrame(
            [("d1", 7, 5), ("d1", 7, 9), ("d2", 7, 3)],
            "doc_key string, fp_hash long, fp_off long",
        )
        pairs, _ = self_join(rows, ["fp_hash"], "doc_key", ["fp_off"], 100)
        assert sorted(map(tuple, pairs.collect())) == [
            ("d1", "d2", 5, 3), ("d1", "d2", 9, 3)
        ]

    def test_vector_audit_records_dropped_mass(self, spark):
        from dedup.ann import vector_lsh_audit

        f = _bucketed_vectors(spark, {1: 5000, 2: 5})
        row = vector_lsh_audit(f.select("vec_id", "bucket"), cap=100).collect()[0]
        assert row["n_buckets"] == 2
        assert row["n_dropped_buckets"] == 1
        assert row["dropped_rows"] == 5000
        assert row["eligible_rows"] == 5
        # empty input: an all-zero row, not nulls
        empty = vector_lsh_audit(f.select("vec_id", "bucket").where("false"),
                                 cap=100).collect()[0]
        assert empty.asDict() == dict(
            n_buckets=0, n_dropped_buckets=0, eligible_rows=0,
            dropped_rows=0, row_recall_floor=0.0,
        )

    def test_hot_but_eligible_bucket_salted_pairs_once(self, spark):
        from dedup.ann import capped_bucket_self_join

        n = HOT_BUCKET_MIN + 36
        f = _bucketed_vectors(spark, {3: n, 0: 3})
        pairs = capped_bucket_self_join(f, "vec_id", cap=n + 50)
        rows = pairs.collect()
        seen = {(r["id_a"], r["id_b"]) for r in rows}
        assert len(seen) == len(rows), "pair produced more than once"
        assert len(seen) == n * (n - 1) // 2 + 3, "every within-bucket pair exactly once"

    def test_lsh_topk_bounded_by_cap_and_still_ranks(self, spark):
        """End to end: a dense embedding region (one bucket holding most
        candidates) is dropped at a small cap — the query still ranks the
        surviving buckets, returns each neighbor once, and doesn't buffer
        the degenerate bucket."""
        from dedup.ann import lsh_topk

        rng = np.random.default_rng(7)
        dense = rng.standard_normal(8)
        rows = [dict(vec_id=i, embedding=(dense + 1e-4 * rng.standard_normal(8)).tolist())
                for i in range(100, 400)]  # 300 near-identical vectors
        sparse = [dict(vec_id=i, embedding=rng.standard_normal(8).tolist())
                  for i in range(400, 430)]
        cand = spark.createDataFrame(pd.DataFrame(rows + sparse))
        q = spark.createDataFrame(
            pd.DataFrame([dict(vec_id=0, embedding=dense.tolist())])
        )
        got = lsh_topk(q, cand, k=5, n_bits=4, dim=8, bucket_cap=50).collect()
        ids = [r["neighbor_id"] for r in got]
        assert len(ids) == len(set(ids)), "duplicate neighbors after salting"
        assert all(r["neighbor_id"] >= 400 for r in got), (
            "dropped dense bucket must not contribute neighbors"
        )
        # same call with a permissive cap routes the dense bucket through the
        # salted path and recovers the true near-identical neighbors
        full = lsh_topk(q, cand, k=5, n_bits=4, dim=8,
                        bucket_cap=2000).collect()
        assert all(100 <= r["neighbor_id"] < 400 for r in full)
        assert len({r["neighbor_id"] for r in full}) == 5


class TestExactStageSkew:
    def test_hot_sha_folds_without_window_partition(self, spark):
        """VERDICT r3 #1: plant ~1e5 verbatim copies of ONE content (the
        boilerplate-sha regime that dominates at verbatim-copy scale) and
        fold them. Correctness: exactly one representative, n-1 exact
        pairs, all anchored at the min doc_key. Plan: no Window operator
        anywhere — the hot sha must be absorbed by partial aggregation on a
        pruned projection, never sorted inside one window partition."""
        n = 100_000
        df = spark.range(n).select(
            F.lit("r").alias("repo"),
            F.format_string("f/%06d", "id").alias("path"),
            F.lit("c").alias("commit"),
            F.lit("text").alias("lang"),
            F.lit("same boilerplate license header " * 8).alias("content"),
        ).repartition(8)
        keyed = key_docs(df)
        rep_docs, pairs = exact_stage(keyed)
        for d in (rep_docs, pairs):
            plan = d._jdf.queryExecution().executedPlan().toString()
            assert "Window" not in plan, plan
        reps = rep_docs.collect()
        assert len(reps) == 1
        rep_key = reps[0]["doc_key"]
        got = pairs.collect()
        assert len(got) == n - 1
        assert all(r["key_a"] == rep_key for r in got)
        min_key = keyed.agg(F.min("doc_key")).collect()[0][0]
        assert rep_key == min_key, "representative must be the min doc_key"
