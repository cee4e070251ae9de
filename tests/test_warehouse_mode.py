"""Warehouse-mode run_dedup: the write counts rows on its own action, a run
lands its stage metrics in one append, a resumed run gives the fresh run's
labels, and the Spark jobs each mode submits are pinned."""

from __future__ import annotations

import pytest

from dedup.config import DedupConfig
from dedup.fixtures import make_corpus
from dedup.lsh import lsh_audit
from dedup.minhash import compute_bands, compute_signatures
from dedup.pipeline import exact_stage, key_docs, run_dedup, signature_input
from dedup.warehouse import Warehouse

CFG = DedupConfig()
STAGES = ["exact", "signatures", "lsh", "verify", "cluster"]

# Spark jobs one run_dedup submits on the fixture below, AQE stage jobs
# included. AQE submits some stages before it settles a join's strategy,
# so identical runs differ by a few jobs: over six fresh/resume pairs on a
# 4-core host the fresh run took 20-21 jobs and the full resume 21-22. The
# layout whose metrics append and driver union-find labels were list-built
# frames took 22-23 and 23-24 (four pairs), and the one before fused
# decoded bands and observed counts 43-44 and 52-53. The pins add two jobs
# of headroom to the highest count seen.
MAX_FRESH_JOBS = 23
MAX_RESUME_JOBS = 24


@pytest.fixture()
def corpus(spark, tmp_path):
    """make_corpus landed as Parquet, the way the CLI reads a corpus."""
    pdf, _ = make_corpus(n_base=40, seed=7)
    path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(pdf).write.parquet(path)
    return spark.read.parquet(path)


def _labels(df) -> dict[str, str]:
    return {r["doc_key"]: r["cluster_id"] for r in df.collect()}


class TestWriteRowCounts:
    def test_empty_frame_records_zero_rows(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path / "wh"))
        empty = spark.range(5).where("id < 0")
        assert wh.write(empty, "t", "cfg") == 0
        assert wh._load_manifest()["tables"]["t"]["rows"] == 0

    def test_append_records_table_total(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path / "wh"))
        assert wh.write(spark.range(7), "t", "cfg") == 7
        assert wh.write(spark.range(5), "t", "cfg", mode="append") == 12
        assert wh._load_manifest()["tables"]["t"]["rows"] == 12
        assert wh.read("t").count() == 12
        # an overwrite resets the total
        assert wh.write(spark.range(3), "t", "cfg") == 3


class TestRunDedupWarehouse:
    def test_one_metrics_append_per_run(self, spark, corpus, tmp_path):
        wh = Warehouse(spark, str(tmp_path / "wh"))
        appends = []
        orig = wh.append

        def append(df, name):
            appends.append(name)
            return orig(df, name)

        wh.append = append
        run_dedup(spark, corpus, CFG, warehouse=wh)
        assert appends.count("metrics") == 1
        rows = wh.metrics().collect()
        assert sorted(r["stage"] for r in rows) == sorted(STAGES)
        assert all(r["config_hash"] == CFG.config_hash() for r in rows)
        by_stage = {r["stage"]: r for r in rows}
        reps, _ = exact_stage(key_docs(corpus))
        assert (by_stage["signatures"]["rows_out"]
                == signature_input(reps, CFG).count())

    def test_dropped_candidates_equal_audit(self, spark, corpus, tmp_path):
        """The lsh row's dropped mass, observed on the bucket count pass,
        equals the audit's dropped pair slots; cap 2 drops the fixture's
        3-doc bucket."""
        cfg = DedupConfig(band_bucket_cap=2)
        wh = Warehouse(spark, str(tmp_path / "wh"))
        run_dedup(spark, corpus, cfg, warehouse=wh)
        got = {r["stage"]: r for r in wh.metrics().collect()}["lsh"]
        reps, _ = exact_stage(key_docs(corpus))
        sigs = compute_signatures(signature_input(reps, cfg), cfg)
        audit = lsh_audit(compute_bands(sigs, cfg), cfg).collect()[0]
        assert audit["dropped_pair_slots"] > 0
        assert got["dropped_candidates"] == audit["dropped_pair_slots"]

    def test_dropped_candidates_when_every_bucket_capped(self, spark,
                                                        tmp_path):
        """Three whitespace variants of one text share all 16 band buckets,
        so cap 2 drops every bucket and no pair is generated: the observed
        metrics node sits in a stage AQE prunes, and the dropped mass comes
        from the direct count instead — 16 buckets of 3 slots each."""
        import pandas as pd

        text = " ".join(f"tok{i}" for i in range(60))
        pdf = pd.DataFrame([
            dict(repo="r", path=f"f{i}", commit="c", lang="py",
                 content=text.replace(" ", " " * (i + 1)))
            for i in range(3)
        ])
        cfg = DedupConfig(band_bucket_cap=2)
        wh = Warehouse(spark, str(tmp_path / "wh"))
        run_dedup(spark, spark.createDataFrame(pdf), cfg, warehouse=wh)
        got = {r["stage"]: r for r in wh.metrics().collect()}["lsh"]
        assert got["dropped_candidates"] == cfg.bands * 3

    def test_empty_corpus_records_zero_dropped(self, spark, tmp_path):
        """An all-empty-content corpus signs nothing, so the observed count
        pass never runs: the run records 0 dropped and does not raise."""
        pdf, _ = make_corpus(n_base=5, seed=7)
        pdf["content"] = ""
        corpus = spark.createDataFrame(pdf)
        wh = Warehouse(spark, str(tmp_path / "wh"))
        clusters = run_dedup(spark, corpus, CFG, warehouse=wh)
        assert clusters.count() == len(pdf)
        got = {r["stage"]: r for r in wh.metrics().collect()}["lsh"]
        assert got["dropped_candidates"] == 0

    def test_job_counts_fresh_and_resume(self, spark, corpus, tmp_path,
                                         count_jobs):
        root = str(tmp_path / "wh")
        fresh, fresh_jobs = count_jobs(
            lambda: run_dedup(spark, corpus, CFG,
                              warehouse=Warehouse(spark, root)))
        fresh = _labels(fresh)
        # every signature is checkpointed now: a full resume
        resumed, resume_jobs = count_jobs(
            lambda: run_dedup(spark, corpus, CFG,
                              warehouse=Warehouse(spark, root)))
        assert _labels(resumed) == fresh
        assert fresh_jobs <= MAX_FRESH_JOBS, fresh_jobs
        assert resume_jobs <= MAX_RESUME_JOBS, resume_jobs
        # the resume appended nothing: no second signature lineage entry
        appended = [e for e in Warehouse(spark, root)._load_manifest()["lineage"]
                    if e["status"] == "appended"]
        assert len(appended) == 1
