"""End-to-end pipeline tests: Spark pipeline vs single-node numpy reference
on the planted-duplicate fixture corpus (FIXTURES.md F1, SURVEY §5 transfer
items (a)(d)) — recall >= 0.99 and identical canonical cluster IDs are the
north-rule acceptance criteria."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup.cluster import connected_components, numpy_connected_components
from dedup.config import DedupConfig
from dedup.fixtures import make_corpus
from dedup.lsh import candidate_pairs
from dedup.minhash import compute_bands, compute_signatures
from dedup.pipeline import exact_stage, key_docs, run_dedup, signature_input
from dedup.reference_impl import reference_pipeline
from dedup.session import materialize
from dedup.verify import verified_pairs

CFG = DedupConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    pdf, truth = make_corpus(n_base=60, seed=42)
    return spark.createDataFrame(pdf).repartition(6), pdf, truth


@pytest.fixture(scope="module")
def ref(corpus):
    _, pdf, _ = corpus
    return reference_pipeline(pdf, CFG)


class TestSignatureParity:
    def test_spark_signatures_match_numpy(self, spark, corpus, ref):
        df, pdf, _ = corpus
        keyed = key_docs(df)
        rep_docs, _ = exact_stage(keyed)
        sigs = compute_signatures(signature_input(rep_docs, CFG), CFG).collect()
        got = {r["doc_key"]: r for r in sigs}
        ref_sig = {
            k: ref["signatures"][i] for i, k in enumerate(ref["rep_keys"])
        }
        ref_sim = {k: ref["simhash"][i] for i, k in enumerate(ref["rep_keys"])}
        assert set(got) == set(ref_sig)
        for k, row in got.items():
            assert np.array_equal(
                np.array(row["minhash"], dtype=np.int64).view(np.uint64), ref_sig[k]
            ), f"minhash mismatch for {k}"
            assert np.int64(row["simhash"]).view(np.uint64) == ref_sim[k]

    def test_sha_invariant(self, spark, corpus, ref):
        """Per-row invariant: sha256(content) equality vs reference
        (BASELINE.json input_hint)."""
        df, pdf, _ = corpus
        got = key_docs(df).select("doc_key", "content_sha").collect()
        want = dict(zip(ref["doc_keys"], ref["content_sha"]))
        assert len(got) == len(want)
        for r in got:
            assert want[r["doc_key"]] == r["content_sha"]


class TestCandidatesAndVerify:
    def test_pair_recall_vs_reference(self, spark, corpus, ref):
        df, _, _ = corpus
        keyed = key_docs(df)
        rep_docs, _ = exact_stage(keyed)
        sigs = compute_signatures(rep_docs, CFG)
        bands = compute_bands(sigs, CFG)
        pairs, dropped = candidate_pairs(materialize(bands, eager=False), CFG)
        got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
        want = ref["candidate_pairs"]
        missing = want - got
        recall = 1 - len(missing) / max(len(want), 1)
        assert recall >= 0.99, f"candidate recall {recall}: missing {missing}"
        assert got == want  # identical kernels → identical candidate sets

        ver = verified_pairs(pairs, sigs, CFG).collect()
        got_v = {(r["key_a"], r["key_b"]): r["est_jaccard"] for r in ver}
        assert set(got_v) == set(ref["verified_pairs"])
        for k, v in got_v.items():
            assert abs(v - ref["verified_pairs"][k]) < 1e-9

    def test_truth_recall(self, spark, corpus, ref):
        """Pairs planted with exact Jaccard >= 0.9 must essentially all be
        recovered (16x8 banding S-curve at s=0.9 → P(miss) ~ 1e-4)."""
        _, _, truth = corpus
        verified = set(ref["verified_pairs"]) | ref["exact_pairs"]
        # exact pairs: key order is canonical min-first already
        strong = truth[
            (truth["jaccard_exact"] >= 0.9) & (truth["kind"] != "substring")
        ]
        found = sum(
            1 for _, r in strong.iterrows()
            if (r["key_a"], r["key_b"]) in verified
            or _connected(ref["clusters"], r["key_a"], r["key_b"])
        )
        assert found / max(len(strong), 1) >= 0.99


def _connected(clusters: dict, a: str, b: str) -> bool:
    return clusters.get(a) == clusters.get(b)


class TestClustering:
    def test_star_contraction_matches_numpy_union_find(self, spark):
        rng = np.random.default_rng(11)
        # random graph + long chain (worst case for min-propagation)
        edges = [(f"n{int(a)}", f"n{int(b)}")
                 for a, b in rng.integers(0, 200, size=(150, 2)) if a != b]
        edges += [(f"c{i}", f"c{i+1}") for i in range(60)]
        df = spark.createDataFrame(pd.DataFrame(edges, columns=["key_a", "key_b"]))
        # force the distributed star-contraction path
        got = {
            r["doc_key"]: r["cluster_id"]
            for r in connected_components(df, driver_threshold=0).collect()
        }
        want = numpy_connected_components(edges)
        assert got == want
        # driver fast path must agree exactly
        fast = {
            r["doc_key"]: r["cluster_id"]
            for r in connected_components(df).collect()
        }
        assert fast == want

    def test_byte_budget_forces_distributed_path(self, spark):
        """Row count alone no longer gates the driver collect: blowing the
        byte budget (long keys) routes through star contraction and labels
        still match the numpy oracle (VERDICT r1 fix #7)."""
        long = "x" * 200
        edges = [(f"{long}{i}", f"{long}{i+1}") for i in range(40)]
        df = spark.createDataFrame(pd.DataFrame(edges, columns=["key_a", "key_b"]))
        got = {
            r["doc_key"]: r["cluster_id"]
            for r in connected_components(df, driver_byte_budget=1024).collect()
        }
        assert got == numpy_connected_components(edges)

    def test_end_to_end_clusters_match_reference(self, spark, corpus, ref):
        df, _, _ = corpus
        clusters = run_dedup(spark, df, CFG)
        got = {r["doc_key"]: r["cluster_id"] for r in clusters.collect()}
        assert got == ref["clusters"]

    def test_transitive_chain_clustered(self, spark, corpus, ref):
        """A≈B≈C with sim(A,C) below threshold still one cluster."""
        _, _, truth = corpus
        near = truth[truth["kind"] == "near"]
        chains = near[near["key_a"].isin(near["key_b"])]
        if len(chains):
            r = chains.iloc[0]
            assert ref["clusters"][r["key_a"]] == ref["clusters"][r["key_b"]]


class TestDegenerateInputs:
    def test_empty_corpus(self, spark, corpus):
        """Zero input rows → zero clusters, no stage crashes (the
        reference's null-update no-op discipline end-to-end)."""
        df, _, _ = corpus
        assert run_dedup(spark, df.where(F.lit(False)), CFG).count() == 0

    def test_single_doc_is_its_own_cluster(self, spark, corpus):
        df, _, _ = corpus
        rows = run_dedup(spark, df.limit(1), CFG).collect()
        assert len(rows) == 1 and rows[0]["cluster_id"] == rows[0]["doc_key"]

    def test_all_empty_content_docs(self, spark):
        """Docs whose content is empty/null: exact-duplicate each other
        (same sha), skip signatures (min_content_len), and land in ONE
        cluster via the exact stage."""
        pdf = pd.DataFrame(
            {
                "repo": ["r"] * 4,
                "path": [f"e/{i}" for i in range(4)],
                "commit": ["h"] * 4,
                "lang": ["en"] * 4,
                "content": ["", None, "", None],
            }
        )
        clusters = run_dedup(spark, spark.createDataFrame(pdf), CFG)
        rows = clusters.collect()
        assert len(rows) == 4
        assert len({r["cluster_id"] for r in rows}) == 1

    def test_ingested_corpus_with_stored_sha_matches_raw(
        self, spark, corpus, tmp_path
    ):
        """VERDICT r4 #1 production path: a corpus landed via
        Warehouse.ingest_corpus carries a STORED content_sha; run_dedup
        detects it, skips every sha2-over-content recompute (with_doc_key
        reuses the column, the pruned fold scan reads 64 chars/row) and
        must produce byte-identical clusters to the raw-corpus run."""
        from dedup.warehouse import Warehouse

        df, _, _ = corpus
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, df, CFG).collect()
        }
        wh = Warehouse(spark, str(tmp_path / "wh_ingest"))
        wh.ingest_corpus(df)
        stored = wh.read("corpus")
        assert "content_sha" in stored.columns
        got = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, stored, CFG).collect()
        }
        assert got == want

    def test_null_stored_content_sha_fails_loudly(self, spark):
        """A stored content_sha column is trusted — but a NULL in it would
        corrupt the fold silently (all null-sha docs collapse into one
        group, then the join back drops their rows). It must raise, by
        name, on first touch."""
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "repo": ["r", "r"],
                    "path": ["a", "b"],
                    "commit": ["c", "c"],
                    "lang": ["py", "py"],
                    "content": ["x", "y"],
                    "content_sha": ["0" * 64, None],
                }
            )
        )
        keyed = key_docs(df)
        with pytest.raises(Exception, match="null content_sha"):
            exact_stage(keyed, sha_stored=True)[0].count()


class TestJaccardClusters:
    def test_jaccard_clusters_match_numpy_union_find(self, spark):
        """q_jaccard_clusters (the driver-gate end-to-end oracle for the
        distributed union-find) must equal a single-node union-find over
        the same thresholded exact-Jaccard pair set, including singleton
        self-labels."""
        from dedup.cluster import numpy_connected_components
        from dedup.queries import (
            _JACCARD_CLUSTER_THRESHOLD,
            _SPARK_CHARGRAM,
            q_jaccard_clusters,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in q_jaccard_clusters(spark, sf).collect()
        }

        d = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .where(F.col("doc_id") < 300)
            .select(
                "doc_id",
                F.expr(
                    _SPARK_CHARGRAM.format(c="coalesce(text, '')")
                ).alias("sh"),
            )
        )
        a, b = d.alias("a"), d.alias("b")
        pairs = (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("ka"),
                F.col("b.doc_id").alias("kb"),
                F.round(
                    F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                    / F.size(F.array_union("a.sh", "b.sh")).cast("double"),
                    6,
                ).alias("j"),
            )
            .where(F.col("j") >= _JACCARD_CLUSTER_THRESHOLD)
            .collect()
        )
        assert pairs, "threshold should keep at least one pair at sf0.001"
        labels = numpy_connected_components([(r["ka"], r["kb"]) for r in pairs])
        all_ids = [r["doc_id"] for r in d.select("doc_id").collect()]
        want = {i: labels.get(i, i) for i in all_ids}
        assert got == want


class TestCleanedCorpus:
    def test_one_representative_per_cluster_and_it_is_the_min(
        self, spark, corpus
    ):
        """The output stage keeps exactly one doc per near-dup cluster —
        the canonical (minimum doc_key) member — and nothing else."""
        from dedup.pipeline import cleaned_corpus

        df, pdf, truth = corpus
        keyed = key_docs(df)
        clusters = run_dedup(spark, df, CFG)
        kept = cleaned_corpus(keyed, clusters)

        kept_keys = {r["doc_key"] for r in kept.select("doc_key").collect()}
        lab = {
            r["doc_key"]: r["cluster_id"] for r in clusters.collect()
        }
        want = {min(k for k, c in lab.items() if c == cid)
                for cid in set(lab.values())}
        assert kept_keys == want
        # canonical label == min member, so reps are exactly the labels
        assert kept_keys == set(lab.values())
        # kept rows are real corpus rows (all original columns survive)
        assert set(kept.columns) == set(keyed.columns)

    def test_cli_write_cleaned_flag(self, spark, corpus, tmp_path,
                                    monkeypatch):
        """--write-cleaned lands `corpus_cleaned` in the warehouse with one
        row per cluster (in-process; spark-submit wiring is covered by
        test_submit). cli.main's final spark.stop() would kill the shared
        session-scoped SparkContext, so it is neutered for the in-process
        call."""
        from pyspark.sql import SparkSession

        from dedup.cli import main
        from dedup.warehouse import Warehouse

        monkeypatch.setattr(SparkSession, "stop", lambda self: None)
        df, _, _ = corpus
        inp = str(tmp_path / "corpus_in")
        df.write.parquet(inp)
        out = str(tmp_path / "wh")
        rc = main([
            "--input", inp, "--output", out, "--write-cleaned",
            "--master", "local[4]",
        ])
        assert rc == 0
        wh = Warehouse(spark, out)
        cleaned = wh.read("corpus_cleaned")
        clusters = wh.read("clusters")
        assert cleaned.count() == clusters.select("cluster_id").distinct().count()

    def test_cli_repo_similarity_flag(self, spark, tmp_path, monkeypatch):
        """--repo-similarity lands the fork-detection rollup + its audit in
        the warehouse, matching a direct repo_shared_content call on the
        same corpus."""
        from pyspark.sql import SparkSession

        from dedup.cli import main
        from dedup.pipeline import repo_shared_content
        from dedup.warehouse import Warehouse

        monkeypatch.setattr(SparkSession, "stop", lambda self: None)
        rows = [
            dict(repo=f"r{i % 3}", path=f"f{i}", commit="head", lang="py",
                 content=f"shared-{i % 4}")
            for i in range(24)
        ]
        df = spark.createDataFrame(pd.DataFrame(rows))
        inp = str(tmp_path / "corpus_in")
        df.write.parquet(inp)
        out = str(tmp_path / "wh")
        rc = main([
            "--input", inp, "--output", out, "--repo-similarity",
            "--master", "local[4]",
        ])
        assert rc == 0
        wh = Warehouse(spark, out)
        got = {
            (r["repo_a"], r["repo_b"], r["shared_shas"])
            for r in wh.read("repo_similarity").collect()
        }
        want = {
            (r["repo_a"], r["repo_b"], r["shared_shas"])
            for r in repo_shared_content(key_docs(df)).collect()
        }
        assert got == want and got
        audit = wh.read("repo_similarity_audit").collect()[0]
        assert audit["n_multi_repo_shas"] == audit["n_eligible"] + audit[
            "n_dropped"
        ]


class TestCleanedCorpusFromPresent:
    def test_missing_rep_falls_back_to_next_present_member(self, spark):
        """ADVICE r5: stream-mode --write-cleaned re-reads --input while
        labels persist across rounds; a cluster whose canonical rep's
        source file is gone must keep its next-present member, not vanish."""
        from dedup.pipeline import cleaned_corpus, cleaned_corpus_from_present

        clusters = spark.createDataFrame(
            [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")],
            "doc_key string, cluster_id string",
        )
        # rep "a" of cluster a and singleton-rep "x" both missing from corpus
        keyed = spark.createDataFrame(
            [("b", "B"), ("c", "C"), ("y", "Y"), ("z", "Z")],
            "doc_key string, content string",
        )
        kept = {r["doc_key"] for r in
                cleaned_corpus_from_present(keyed, clusters).collect()}
        # cluster a keeps next-present member b; cluster x keeps y;
        # unlabeled z is not emitted (same contract as cleaned_corpus)
        assert kept == {"b", "y"}
        # the strict variant loses both clusters here — the failure mode
        # the fallback exists for
        strict = {r["doc_key"] for r in
                  cleaned_corpus(keyed, clusters).collect()}
        assert strict == set()

    def test_equals_cleaned_corpus_when_all_present(self, spark, corpus):
        """With every labeled doc present the fallback is exactly
        cleaned_corpus (canonical label IS the member minimum)."""
        from dedup.pipeline import cleaned_corpus, cleaned_corpus_from_present

        df, pdf, truth = corpus
        keyed = key_docs(df)
        clusters = run_dedup(spark, df, CFG)
        a = {r["doc_key"] for r in
             cleaned_corpus(keyed, clusters).select("doc_key").collect()}
        b = {r["doc_key"] for r in
             cleaned_corpus_from_present(keyed, clusters)
             .select("doc_key").collect()}
        assert a == b


class TestRepoSharedContent:
    """Repo-level fork/copy rollup (pipeline.repo_shared_content): exact
    result vs a brute-force python recompute, plus the boilerplate cap's
    compensative accounting under planted skew."""

    def _corpus(self, spark, rows):
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    dict(repo=r, path=f"f{i}", commit="head", lang="py",
                         content=c)
                    for i, (r, c) in enumerate(rows)
                ]
            )
        )

    def test_matches_bruteforce(self, spark):
        from dedup.pipeline import repo_shared_content

        rng = np.random.default_rng(11)
        texts = [f"text-{i}" for i in range(12)]
        rows = [
            (f"r{rng.integers(0, 6)}", texts[rng.integers(0, len(texts))])
            for _ in range(80)
        ]
        got = {
            (r["repo_a"], r["repo_b"]): (
                r["shared_shas"], r["n_a"], r["n_b"],
                r["containment"], r["jaccard"],
            )
            for r in repo_shared_content(
                key_docs(self._corpus(spark, rows))
            ).collect()
        }
        sets: dict[str, set] = {}
        for r, c in rows:
            sets.setdefault(r, set()).add(c)
        want = {}
        for a in sets:
            for b in sets:
                if a < b and sets[a] & sets[b]:
                    s, na, nb = len(sets[a] & sets[b]), len(sets[a]), len(sets[b])
                    want[(a, b)] = (
                        s, na, nb,
                        round(s / min(na, nb), 6),
                        round(s / (na + nb - s), 6),
                    )
        assert got == want

    def test_boilerplate_cap_drops_and_audits(self, spark):
        """One sha planted across 40 repos with cap=16: it contributes NO
        pairs (40·39/2 = 780 rows would otherwise dwarf the real signal) and
        the audit's conservation identity accounts for it exactly."""
        from dedup.pipeline import (
            repo_shared_content, repo_shared_content_audit,
        )

        rows = [(f"r{i:02d}", "LICENSE-boilerplate") for i in range(40)]
        rows += [("r00", "real-shared"), ("r01", "real-shared")]
        keyed = key_docs(self._corpus(spark, rows))
        pairs = repo_shared_content(keyed, cap=16).collect()
        assert {(r["repo_a"], r["repo_b"]) for r in pairs} == {("r00", "r01")}
        assert pairs[0]["shared_shas"] == 1
        audit = repo_shared_content_audit(keyed, cap=16).collect()[0]
        assert audit["n_multi_repo_shas"] == 2
        assert audit["n_eligible"] == 1
        assert audit["n_dropped"] == 1
        assert audit["n_eligible"] + audit["n_dropped"] == audit[
            "n_multi_repo_shas"
        ]
        assert audit["max_spread"] == 40

    def test_empty_and_no_overlap(self, spark):
        from dedup.pipeline import (
            repo_shared_content, repo_shared_content_audit,
        )

        rows = [("r0", "a"), ("r1", "b")]
        keyed = key_docs(self._corpus(spark, rows))
        assert repo_shared_content(keyed).count() == 0
        audit = repo_shared_content_audit(keyed).collect()[0]
        assert audit["n_multi_repo_shas"] == 0
        assert audit["max_spread"] == 0


class TestRepoSimilarityEstimated:
    """KMV estimated-similarity lane (VERDICT r6 #4): exact in the
    small-set regime, error-bounded in the sketch regime, and it recovers
    pairs the exact lane's boilerplate cap drops."""

    _corpus = TestRepoSharedContent._corpus

    def test_exact_regime_matches_bruteforce(self, spark):
        """With every repo's sha set under k, est_jaccard equals exact set
        Jaccard bit-for-bit (the oracle regime)."""
        from dedup.pipeline import repo_similarity_estimated

        rng = np.random.default_rng(23)
        texts = [f"text-{i}" for i in range(15)]
        rows = [
            (f"r{rng.integers(0, 6)}", texts[rng.integers(0, len(texts))])
            for _ in range(90)
        ]
        got = {
            (r["repo_a"], r["repo_b"]): r["est_jaccard"]
            for r in repo_similarity_estimated(
                key_docs(self._corpus(spark, rows))
            ).collect()
        }
        sets: dict[str, set] = {}
        for r, c in rows:
            sets.setdefault(r, set()).add(c)
        want = {
            (a, b): round(
                len(sets[a] & sets[b])
                / (len(sets[a]) + len(sets[b]) - len(sets[a] & sets[b])),
                6,
            )
            for a in sets
            for b in sets
            if a < b and sets[a] & sets[b]
        }
        assert got == want

    def test_sketch_regime_bounded_error(self, spark):
        """k far below the set sizes: the KMV union estimator stays within
        the standard O(1/sqrt(k)) error band of true Jaccard."""
        from dedup.pipeline import repo_similarity_estimated

        n, overlap, k = 2000, 1000, 256
        rows = [("big_a", f"common-{i}") for i in range(overlap)]
        rows += [("big_a", f"only-a-{i}") for i in range(n - overlap)]
        rows += [("big_b", f"common-{i}") for i in range(overlap)]
        rows += [("big_b", f"only-b-{i}") for i in range(n - overlap)]
        out = repo_similarity_estimated(
            key_docs(self._corpus(spark, rows)), k=k
        ).collect()
        assert len(out) == 1
        true_j = overlap / (2 * n - overlap)  # 1000/3000
        assert abs(out[0]["est_jaccard"] - true_j) < 4 / (k ** 0.5), (
            f"est {out[0]['est_jaccard']} vs true {true_j}"
        )

    def test_union_overflow_is_estimated_not_exact(self, spark):
        """The exactness boundary is the PAIR UNION, not per-repo size:
        each repo here fits the sketch (48 < k=64) but |A∪B| = 88 > k, so
        the kept set truncates and the value is an error-bounded estimate
        — the regime the oracles must stay OUT of (they use
        _ORACLE_KMV_K=16384 for exactly this reason)."""
        from dedup.pipeline import repo_similarity_estimated

        k = 64
        rows = [("u_a", f"common-{i}") for i in range(8)]
        rows += [("u_a", f"only-a-{i}") for i in range(40)]
        rows += [("u_b", f"common-{i}") for i in range(8)]
        rows += [("u_b", f"only-b-{i}") for i in range(40)]
        out = repo_similarity_estimated(
            key_docs(self._corpus(spark, rows)), k=k
        ).collect()
        assert len(out) == 1
        true_j = 8 / 88
        # 3σ of the hypergeometric estimator ≈ 3·sqrt(J(1-J)/k) ≈ 0.11
        assert abs(out[0]["est_jaccard"] - true_j) <= 0.12, out

    def test_capped_pair_resurfaces(self, spark):
        """Two repos sharing ONLY a viral sha (spread > exact cap): the
        exact lane reports no pair; the recovered lane resurfaces it with
        the exact Jaccard (small sets ⇒ KMV is lossless), and the lane's
        own audit sees nothing dropped at its wider cap."""
        from dedup.pipeline import (
            repo_estimated_audit,
            repo_shared_content,
            repo_similarity_recovered,
        )

        rows = [(f"r{i:02d}", "LICENSE-boilerplate") for i in range(40)]
        rows += [(f"r{i:02d}", f"unique-{i}") for i in range(40)]
        rows += [("r00", "real-shared"), ("r01", "real-shared")]
        keyed = key_docs(self._corpus(spark, rows))
        exact_pairs = {
            (r["repo_a"], r["repo_b"])
            for r in repo_shared_content(keyed, cap=16).collect()
        }
        assert exact_pairs == {("r00", "r01")}
        recovered = {
            (r["repo_a"], r["repo_b"]): r["est_jaccard"]
            for r in repo_similarity_recovered(keyed, cap=16).collect()
        }
        # every boilerplate-only pair resurfaces; (r00, r01) stays exact-lane
        assert ("r00", "r01") not in recovered
        assert len(recovered) == 40 * 39 // 2 - 1
        # e.g. r02-r03: sets {LICENSE, unique-i} → J = 1/3
        assert recovered[("r02", "r03")] == round(1 / 3, 6)
        audit = repo_estimated_audit(keyed).collect()[0]
        assert audit["n_dropped"] == 0
        assert audit["max_spread"] == 40
