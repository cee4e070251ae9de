"""Checkpoint/resume semantics (M4): kill-and-resume equivalence, config
isolation, corruption rejection — the reference's heapify discipline
(FrequentDirections.java:104-148) carried to stage checkpoints."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.fixtures import make_corpus
from dedup.minhash import compute_signatures
from dedup.pipeline import (
    decode_signature_blocks,
    exact_stage,
    key_docs,
    run_dedup,
    signature_blocks,
    signatures_with_resume,
)
from dedup.warehouse import Warehouse

CFG = DedupConfig()


@pytest.fixture()
def corpus_df(spark):
    pdf, _ = make_corpus(n_base=40, seed=7)
    return spark.createDataFrame(pdf).repartition(4)


class TestCheckpointRoundtrip:
    def test_blocks_roundtrip(self, spark, corpus_df):
        keyed = key_docs(corpus_df)
        rep_docs, _ = exact_stage(keyed)
        sigs = compute_signatures(rep_docs, CFG)
        blocks = signature_blocks(sigs, CFG)
        back = decode_signature_blocks(blocks, CFG)
        a = {r["doc_key"]: r for r in sigs.collect()}
        b = {r["doc_key"]: r for r in back.collect()}
        assert set(a) == set(b)
        for k in a:
            assert a[k]["minhash"] == b[k]["minhash"]
            assert a[k]["simhash"] == b[k]["simhash"]
            assert a[k]["content_sha"] == b[k]["content_sha"]
            # decoded blocks carry the kernel's fused band hashes
            assert a[k]["bands"] == b[k]["bands"]

    def test_empty_partitions_emit_valid_blocks(self, spark):
        empty = spark.createDataFrame(
            [], "doc_key string, content_sha string, minhash array<bigint>, "
            "simhash bigint, n_shingles int",
        ).repartition(3)
        blocks = signature_blocks(empty, CFG).collect()
        assert all(r["rows_used"] == 0 for r in blocks)
        assert decode_signature_blocks(
            signature_blocks(empty, CFG), CFG
        ).count() == 0


class TestKillAndResume:
    def test_mid_stage_resume_equivalence(self, spark, corpus_df, tmp_path):
        """Simulated executor loss: checkpoint HALF the corpus's signatures
        (the 'killed' run), then run the full pipeline with resume — final
        clusters must equal a from-scratch run, and the resumed stage must
        only compute the missing half."""
        keyed = key_docs(corpus_df)
        rep_docs, _ = exact_stage(keyed)

        # "killed" run: only half the docs got checkpointed
        wh = Warehouse(spark, str(tmp_path / "wh"))
        half = rep_docs.where(F.abs(F.xxhash64("doc_key")) % 2 == 0)
        wh.append(signature_blocks(compute_signatures(half, CFG), CFG),
                  "checkpoint_signatures")
        n_half = half.count()

        # resume: computes only the remainder
        sigs = signatures_with_resume(rep_docs, CFG, wh)
        assert sigs.count() == rep_docs.count()

        # resumed pipeline result == from-scratch result
        resumed = run_dedup(spark, corpus_df, CFG, warehouse=wh)
        scratch = run_dedup(spark, corpus_df, CFG)
        a = {r["doc_key"]: r["cluster_id"] for r in resumed.collect()}
        b = {r["doc_key"]: r["cluster_id"] for r in scratch.collect()}
        assert a == b

        # lineage shows the append of only the missing remainder
        manifest = wh._load_manifest()
        appended = [l for l in manifest["lineage"] if l["status"] == "appended"]
        assert appended and appended[-1]["rows"] == rep_docs.count() - n_half

    def test_fresh_run_scans_corpus_once(self, spark, corpus_df, tmp_path):
        """The append job is the only pass over the corpus on a fresh
        warehouse run — no count-driven second scan (VERDICT r1 fix #6).
        Counted with an accumulator on the rows flowing out of the input."""
        import pandas as pd

        acc = spark.sparkContext.accumulator(0)

        def counting(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        keyed = key_docs(corpus_df)
        rep_docs, _ = exact_stage(keyed)
        counted = rep_docs.mapInPandas(counting, rep_docs.schema)
        n_reps = rep_docs.count()

        wh = Warehouse(spark, str(tmp_path / "wh1scan"))
        sigs = signatures_with_resume(counted, CFG, wh)
        n_out = sigs.count()
        assert n_out == n_reps
        assert acc.value == n_reps, (
            f"corpus rows scanned {acc.value} != {n_reps}: "
            "fresh run must read the input exactly once"
        )

    def test_stale_checkpoint_keys_restricted(self, spark, corpus_df, tmp_path):
        """Re-running against an existing warehouse after docs were REMOVED
        must not leak the stale doc_keys into the result (ADVICE r1: a
        phantom doc could bridge two live docs into one cluster)."""
        keyed = key_docs(corpus_df)
        rep_docs, _ = exact_stage(keyed)
        wh = Warehouse(spark, str(tmp_path / "whstale"))
        # full corpus checkpointed
        signatures_with_resume(rep_docs, CFG, wh).count()
        # corpus shrinks: half the docs disappear
        live = rep_docs.where(F.abs(F.xxhash64("doc_key")) % 2 == 0)
        live_keys = {r["doc_key"] for r in live.select("doc_key").collect()}
        out = signatures_with_resume(live, CFG, wh)
        got = {r["doc_key"] for r in out.collect()}
        assert got == live_keys, "stale checkpoint keys leaked into resume"
        # streaming accumulate path keeps the unrestricted union
        acc = signatures_with_resume(live, CFG, wh, restrict_to_input=False)
        assert acc.count() == rep_docs.count()

    def test_config_mismatch_refused(self, spark, corpus_df, tmp_path):
        keyed = key_docs(corpus_df)
        rep_docs, _ = exact_stage(keyed)
        sigs = compute_signatures(rep_docs, CFG)
        blocks = signature_blocks(sigs, CFG)
        other = DedupConfig(seed=99)
        with pytest.raises(Exception, match="config"):
            decode_signature_blocks(blocks, other).count()
