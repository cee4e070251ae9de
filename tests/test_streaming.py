"""Structured Streaming ingest: incremental, idempotent signature state."""

import os

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
    signature_input,
)
from dedup.streaming import ingest_stream
from dedup.warehouse import Warehouse

CFG = DedupConfig()


class TestStreamingIngest:
    def test_incremental_ingest_matches_batch(self, spark, tmp_path):
        """Two arrival rounds through the stream == one batch run: same
        signature rows for every doc (exactly-once per doc_key)."""
        pdf, _ = make_corpus(n_base=30, seed=21)
        half = len(pdf) // 2
        in_dir = str(tmp_path / "incoming")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh"))
        ckpt = str(tmp_path / "stream_ckpt")

        # round 1: first half arrives
        spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        n1 = decode_signature_blocks(
            wh.read("checkpoint_signatures"), CFG
        ).count()
        assert n1 > 0

        # round 2: rest arrives; only new docs are processed
        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        streamed = decode_signature_blocks(
            wh.read("checkpoint_signatures"), CFG
        ).dropDuplicates(["doc_key"])

        # batch reference over the full corpus
        keyed = key_docs(spark.createDataFrame(pdf))
        rep_docs, _ = exact_stage(keyed)
        rep_docs = signature_input(rep_docs, CFG)
        batch = compute_signatures(rep_docs, CFG)

        a = {r["doc_key"]: (r["minhash"], r["simhash"]) for r in streamed.collect()}
        b = {r["doc_key"]: (r["minhash"], r["simhash"]) for r in batch.collect()}
        assert a == b

        # replay: re-running with no new files is a no-op
        before = wh.read("checkpoint_signatures").count()
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        assert decode_signature_blocks(
            wh.read("checkpoint_signatures"), CFG
        ).dropDuplicates(["doc_key"]).count() == len(b)

    def test_cross_batch_verbatim_copy_folds_exact(self, spark, tmp_path):
        """A verbatim copy arriving in a LATER batch is folded into a
        cross-batch exact pair against the prior representative and is NOT
        re-signed (ADVICE r1); stream_exact_pairs reads deduped."""
        from dedup.streaming import read_stream_exact_pairs

        pdf, _ = make_corpus(n_base=12, seed=33)
        in_dir = str(tmp_path / "in2")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh2"))
        ckpt = str(tmp_path / "ck2")

        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        n_before = decode_signature_blocks(
            wh.read("checkpoint_signatures"), CFG
        ).dropDuplicates(["doc_key"]).count()

        # batch 2: one verbatim copy of doc 0 under a new path
        copy = pdf.iloc[[0]].copy()
        copy["path"] = "copied/later/" + copy["path"]
        spark.createDataFrame(copy).coalesce(1).write.mode("append").parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        n_after = decode_signature_blocks(
            wh.read("checkpoint_signatures"), CFG
        ).dropDuplicates(["doc_key"]).count()
        assert n_after == n_before, "verbatim cross-batch copy was re-signed"

        keyed = key_docs(spark.createDataFrame(copy))
        copy_key = keyed.select("doc_key").collect()[0][0]
        pairs = {(r["key_a"], r["key_b"])
                 for r in read_stream_exact_pairs(wh).collect()}
        assert any(copy_key in p for p in pairs), (
            "cross-batch exact pair missing from stream_exact_pairs"
        )
        # canonical orientation (ADVICE r2): every pair is (min, max), so the
        # same pair can never survive distinct() in both orientations
        assert all(a < b for a, b in pairs)

    def test_incremental_lsh_matches_batch_and_scales_with_batch(
        self, spark, tmp_path
    ):
        """VERDICT r2 #7: per round, only NEW signatures are banded (band
        appends == bands x new eligible reps, work proportional to the
        batch); new-vs-old pairs come from one join against the accumulated
        band table; the accumulated clusters equal the batch pipeline's."""
        from dedup.pipeline import run_dedup
        from dedup.streaming import BAND_TABLE, stream_clusters

        pdf, _ = make_corpus(n_base=40, seed=77)
        # no content filtering: docs that skip the signature stage must
        # still come back as singletons, exactly like batch attach_singletons
        pdf = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
        half = len(pdf) // 2
        in_dir = str(tmp_path / "in3")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh3"))
        ckpt = str(tmp_path / "ck3")

        def eligible_reps(frame):
            return (
                key_docs(spark.createDataFrame(frame))
                .where(F.length("content") >= CFG.min_content_len)
                .select("content_sha")
                .distinct()
                .count()
            )

        spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        bands_r1 = wh.read(BAND_TABLE).count()
        assert bands_r1 == CFG.bands * eligible_reps(pdf.iloc[:half])

        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        bands_r2 = wh.read(BAND_TABLE).count()
        # round 2 appended ONLY the new reps' bands (old ones not re-banded)
        assert bands_r2 == CFG.bands * eligible_reps(pdf)

        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        corpus = spark.createDataFrame(pdf)
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, corpus, CFG).collect()
        }
        assert got == want, "incremental clusters diverge from batch pipeline"

    def test_recovery_rebands_signed_but_unbanded_docs(self, spark, tmp_path):
        """Crash-ordering regression: an epoch that died AFTER appending
        signatures but BEFORE appending pairs/bands leaves docs signed but
        unbanded; on replay the cross-batch sha fold hides them from
        rep_docs, so the band work-list must come from the signature
        checkpoint itself or the pairs are lost forever."""
        from dedup.pipeline import run_dedup
        from dedup.streaming import BAND_TABLE, stream_clusters

        pdf, _ = make_corpus(n_base=30, seed=11)
        half = len(pdf) // 2
        in_dir = str(tmp_path / "in4")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh4"))
        ckpt = str(tmp_path / "ck4")

        spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        # simulate the crash window: signatures landed, pairs/bands did not
        wh.drop(BAND_TABLE)
        wh.drop("stream_verified_pairs")

        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(pdf), CFG).collect()
        }
        assert got == want, "recovery lost pairs for signed-but-unbanded docs"

    def test_partial_crash_replay_bands_leftover_signatures(
        self, spark, tmp_path
    ):
        """An epoch that dies at its band append, after its signatures and
        pairs landed, leaves the band table behind the checkpoint while
        every other state table is intact. The replay must detect the lag
        from the manifest's lineage totals, band the leftover signatures
        without signing them again, and still cluster like run_dedup."""
        from dedup.pipeline import run_dedup
        from dedup.streaming import BAND_TABLE, stream_clusters

        pdf, _ = make_corpus(n_base=30, seed=13)
        half = len(pdf) // 2
        in_dir = str(tmp_path / "in_crash")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_crash"))
        ckpt = str(tmp_path / "ck_crash")

        def signed_keys():
            return decode_signature_blocks(
                wh.read("checkpoint_signatures"), CFG
            ).select("doc_key")

        spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        append = wh.append

        def crashing_append(df, name):
            if name == BAND_TABLE:
                raise RuntimeError("crash at the band append")
            return append(df, name)

        wh.append = crashing_append
        with pytest.raises(Exception, match="crash at the band append"):
            ingest_stream(spark, in_dir, wh, CFG, ckpt)
        wh.append = append
        banded = wh.read(BAND_TABLE).select("doc_key").distinct()
        assert signed_keys().join(banded, "doc_key", "left_anti").count() > 0, (
            "the crash must leave signed but unbanded docs"
        )

        # replay of the failed epoch
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        keys = signed_keys()
        assert keys.count() == keys.distinct().count(), "a doc was signed twice"
        banded = wh.read(BAND_TABLE).select("doc_key").distinct()
        assert keys.join(banded, "doc_key", "left_anti").count() == 0

        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(pdf), CFG).collect()
        }
        assert got == want, "replay lost pairs of the crashed epoch"

    def test_incremental_cluster_maintenance(self, spark, tmp_path):
        """VERDICT r3 #4: stream_clusters persists its label table and the
        next call union-finds only the quotient graph (new edges contracted
        to prior labels), so per-call cluster work is proportional to the
        batch — while final labels still match run_dedup over the full
        corpus."""
        from dedup.pipeline import run_dedup
        from dedup.streaming import (
            LABEL_TABLE,
            _effective_edges,
            read_stream_exact_pairs,
            read_stream_verified_pairs,
            stream_clusters,
        )

        pdf, _ = make_corpus(n_base=40, seed=91)
        half = len(pdf) // 2
        in_dir = str(tmp_path / "in_inc")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_inc"))
        ckpt = str(tmp_path / "ck_inc")

        spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        stream_clusters(spark, wh, CFG)
        assert wh.exists(LABEL_TABLE), "label table must persist"
        n_edges_r1 = read_stream_exact_pairs(wh).count()
        if wh.exists("stream_verified_pairs"):
            n_edges_r1 += read_stream_verified_pairs(wh).count()

        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        # the quotient graph the second call will fold: already-clustered
        # edges contract to self-loops and vanish, so its size is bounded
        # by the edges the new batch introduced — not the accumulated total
        edges = read_stream_exact_pairs(wh)
        if wh.exists("stream_verified_pairs"):
            edges = edges.unionByName(read_stream_verified_pairs(wh))
        prior = wh.read(LABEL_TABLE).select("doc_key", "cluster_id").distinct()
        n_total = edges.count()
        n_quotient = _effective_edges(edges, prior).count()
        assert n_quotient <= n_total - n_edges_r1, (
            f"quotient {n_quotient} not bounded by new edges "
            f"{n_total - n_edges_r1} (total {n_total})"
        )

        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(pdf), CFG).collect()
        }
        assert got == want, "incremental labels diverge from batch pipeline"

        # third call with nothing new: quotient graph empty, labels stable
        again = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        assert again == want

    def test_label_delta_write_proportional_to_batch(self, spark, tmp_path):
        """VERDICT r4 #2: stream_clusters must not rewrite the whole label
        table per call — it appends a delta generation containing ONLY the
        labels that changed this call (new docs + merged components), so
        per-call WRITE work is proportional to the batch, not the corpus.
        Readers reconcile latest-generation-wins and still match batch."""
        from dedup.pipeline import run_dedup
        from dedup.streaming import LABEL_TABLE, stream_clusters

        pdf1, _ = make_corpus(n_base=40, seed=91)
        pdf2, _ = make_corpus(n_base=8, seed=777)
        pdf2 = pdf2.copy()
        pdf2["path"] = "b2/" + pdf2["path"]
        in_dir = str(tmp_path / "in_delta")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_delta"))
        ckpt = str(tmp_path / "ck_delta")

        spark.createDataFrame(pdf1).coalesce(1).write.mode("append").parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        stream_clusters(spark, wh, CFG)
        stored1 = wh.read(LABEL_TABLE)
        assert "ver" in stored1.columns
        n_gen0 = stored1.count()

        spark.createDataFrame(pdf2).coalesce(1).write.mode("append").parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        labels2 = stream_clusters(spark, wh, CFG)

        stored2 = wh.read(LABEL_TABLE)
        max_ver = stored2.agg(F.max("ver")).collect()[0][0]
        assert max_ver == 1, "second call must append a new delta generation"
        delta_keys = {
            r["doc_key"] for r in
            stored2.where(F.col("ver") == max_ver).select("doc_key").collect()
        }
        batch2_keys = {
            r["doc_key"]
            for r in key_docs(spark.createDataFrame(pdf2))
            .select("doc_key").collect()
        }
        # the delta is the new docs plus the handful of batch-1 docs whose
        # component merged across batches (e.g. the shared empty file) —
        # NEVER a rewrite of generation 0
        assert batch2_keys <= delta_keys, "new docs missing from the delta"
        n_merged = len(delta_keys - batch2_keys)
        assert n_merged <= 3, (
            f"delta rewrote {n_merged} unrelated gen-0 rows (gen0={n_gen0})"
        )

        # reconciled labels still equal a batch run over the full corpus
        full = pd.concat([pdf1, pdf2], ignore_index=True)
        got = {r["doc_key"]: r["cluster_id"] for r in labels2.collect()}
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(full), CFG).collect()
        }
        assert got == want

    def test_stale_config_label_table_dropped(self, spark, tmp_path):
        """ADVICE r4: a label table persisted under a DIFFERENT config hash
        must not seed the quotient graph — stale merges would bake into all
        future labels. stream_clusters drops it and rebuilds from the pair
        tables."""
        from dedup.pipeline import run_dedup
        from dedup.streaming import LABEL_TABLE, stream_clusters

        pdf, _ = make_corpus(n_base=20, seed=55)
        in_dir = str(tmp_path / "in_stale")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_stale"))
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, str(tmp_path / "ck_stale"))

        # adversarial prior: every doc collapsed into ONE cluster, recorded
        # under a different config hash (e.g. a run with other LSH params)
        keyed = key_docs(spark.createDataFrame(pdf))
        fake = keyed.select(
            "doc_key", F.lit("0" * 64).alias("cluster_id"),
            F.lit(0).alias("ver"),
        )
        wh.write(fake, LABEL_TABLE, "deadbeefdeadbeef")

        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(pdf), CFG).collect()
        }
        assert got == want, "stale-config label table leaked into labels"

    def test_stream_clusters_empty_warehouse(self, spark, tmp_path):
        """ADVICE r3: stream_clusters on a warehouse where no non-empty
        batch was ever ingested (fresh/empty input dir) must yield an empty
        clusters frame — matching the batch path's empty-corpus behavior —
        not raise AnalysisException on the missing tables."""
        from dedup.streaming import stream_clusters

        wh = Warehouse(spark, str(tmp_path / "wh_empty"))
        out = stream_clusters(spark, wh, CFG)
        assert out.columns == ["doc_key", "cluster_id"]
        assert out.count() == 0

    def test_cli_stream_mode(self, spark, tmp_path, monkeypatch):
        """spark-submit surface: --stream consumes the input incrementally
        and prints cluster stats; a second invocation after new files is a
        cheap incremental run."""
        from pyspark.sql import SparkSession

        from dedup.cli import main

        monkeypatch.setattr(SparkSession, "stop", lambda self: None)
        pdf, _ = make_corpus(n_base=12, seed=5)
        in_dir = str(tmp_path / "cli_in")
        os.makedirs(in_dir)
        out = str(tmp_path / "cli_wh")
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(in_dir)
        assert main(["--input", in_dir, "--output", out, "--stream",
                     "--substring"]) == 0
        wh = Warehouse(spark, out)
        assert wh.exists("checkpoint_bands")
        assert wh.exists("stream_verified_pairs")
        assert wh.exists("clusters"), "--stream must write the clusters table"
        assert wh.exists("stream_fingerprints"), (
            "--substring must persist the incremental fingerprint state"
        )
        # second run over the same files: offsets consumed, nothing
        # re-banded, nothing re-fingerprinted
        bands_before = wh.read("checkpoint_bands").count()
        fps_before = wh.read("stream_fingerprints").count()
        assert main(["--input", in_dir, "--output", out, "--stream",
                     "--substring"]) == 0
        assert wh.read("checkpoint_bands").count() == bands_before
        assert wh.read("stream_fingerprints").count() == fps_before

    def test_watermarked_lang_counts_emit_on_window_close(self, spark, tmp_path):
        """Append-mode watermarked windowed aggregation: a window only emits
        once the watermark passes it, so the first AvailableNow run emits
        nothing and a later arrival (clock advanced past window + watermark)
        flushes the closed window with the full first-batch counts — the
        late-data semantics of the streaming surface."""
        import time

        from dedup.streaming import streaming_lang_counts

        pdf, _ = make_corpus(n_base=10, seed=44)
        in_dir = str(tmp_path / "in3")
        out_dir = str(tmp_path / "out3")
        ckpt = str(tmp_path / "ck3")
        os.makedirs(in_dir)
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(in_dir)
        streaming_lang_counts(spark, in_dir, ckpt, out_dir)

        # watermark = max_ts - 10s must pass window_end <= first_ts + 10s,
        # so the late arrival needs to be > 20s after the first batch
        time.sleep(22)
        spark.createDataFrame(pdf.iloc[:1]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        # the watermark advances at the END of the trigger that saw the late
        # arrival, so the flush happens on the NEXT trigger — exactly the
        # two-step late-data dance production pipelines live with
        streaming_lang_counts(spark, in_dir, ckpt, out_dir)
        spark.createDataFrame(pdf.iloc[:1]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        streaming_lang_counts(spark, in_dir, ckpt, out_dir)

        out = spark.read.parquet(out_dir)
        emitted = out.agg(F.sum("n_docs")).collect()[0][0] or 0
        assert emitted >= len(pdf), (
            f"closed window must flush all {len(pdf)} first-batch rows, "
            f"got {emitted}"
        )


class TestUpgradePaths:
    """State maintained across many calls stays bounded: the label delta
    log folds back into one generation."""

    def test_label_log_compacts_periodically(self, spark, tmp_path, monkeypatch):
        """Every LABEL_COMPACT_EVERY calls the delta log folds back into a
        single generation-0 overwrite, bounding read-side reconciliation
        work; labels still match a batch run afterwards."""
        import dedup.streaming as streaming
        from dedup.pipeline import run_dedup
        from dedup.streaming import LABEL_TABLE, stream_clusters

        monkeypatch.setattr(streaming, "LABEL_COMPACT_EVERY", 2)
        in_dir = str(tmp_path / "in_cmp")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_cmp"))
        ckpt = str(tmp_path / "ck_cmp")

        frames = []
        for i, seed in enumerate((41, 42, 43)):
            pdf, _ = make_corpus(n_base=10, seed=seed)
            pdf = pdf.copy()
            pdf["path"] = f"b{i}/" + pdf["path"]
            frames.append(pdf)
            spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
                in_dir
            )
            ingest_stream(spark, in_dir, wh, CFG, ckpt)
            labels = stream_clusters(spark, wh, CFG)

        # call 1 wrote gen 0, call 2 appended gen 1, call 3 compacted
        stored = wh.read(LABEL_TABLE)
        assert stored.agg(F.max("ver")).collect()[0][0] == 0
        n_docs = stored.select("doc_key").distinct().count()
        assert stored.count() == n_docs, "compaction left duplicate doc rows"

        full = pd.concat(frames, ignore_index=True)
        got = {r["doc_key"]: r["cluster_id"] for r in labels.collect()}
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(full), CFG).collect()
        }
        assert got == want
# Spark jobs of one ingest_stream epoch on a prior state, and of the
# stream_clusters call after it, on the fixture below (AQE stage jobs
# included; AQE can vary identical runs by a job or two). Over ten runs on
# a 4-core host the epoch took 30 jobs and stream_clusters 19-20 (the
# layout that re-ran the micro-batch per consumer and decoded the
# checkpoint three times took 63-64 and 27-28 over three runs). The pins
# add two jobs of headroom to the highest count seen.
MAX_EPOCH_JOBS = 32
MAX_CLUSTER_JOBS = 22


class TestStreamingJobs:
    def test_jobs_per_epoch_and_cluster_call_pinned(
        self, spark, tmp_path, count_jobs
    ):
        from dedup.pipeline import run_dedup
        from dedup.streaming import stream_clusters

        pdf, _ = make_corpus(n_base=40, seed=77)
        # shuffled, so the last ten docs pair with docs already ingested
        pdf = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
        in_dir = str(tmp_path / "in_jobs")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_jobs"))
        ckpt = str(tmp_path / "ck_jobs")

        # the prior state: everything but the last ten docs, clustered
        spark.createDataFrame(pdf.iloc[:-10]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        stream_clusters(spark, wh, CFG)

        spark.createDataFrame(pdf.iloc[-10:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        n_verified = wh.read("stream_verified_pairs").count()
        _, epoch_jobs = count_jobs(
            lambda: ingest_stream(spark, in_dir, wh, CFG, ckpt))
        # the pinned epoch runs every step: it verifies new pairs
        assert wh.read("stream_verified_pairs").count() > n_verified
        labels, cluster_jobs = count_jobs(
            lambda: stream_clusters(spark, wh, CFG))

        got = {r["doc_key"]: r["cluster_id"] for r in labels.collect()}
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(pdf), CFG).collect()
        }
        assert got == want
        assert epoch_jobs <= MAX_EPOCH_JOBS, epoch_jobs
        assert cluster_jobs <= MAX_CLUSTER_JOBS, cluster_jobs


class TestStreamingSoak:
    def test_fifty_batch_soak_bounded_log_and_batch_parity(
        self, spark, tmp_path
    ):
        """VERDICT r5 #8 long-horizon soak: 50 AvailableNow ingest +
        stream_clusters rounds. Invariants over the WHOLE horizon:

        1. WRITE work per call == exactly the changed-label set (new docs +
           docs a cross-batch merge relabels — doc_key is a sha, so a merge
           can legitimately move a component minimum and relabel members),
           NEVER a rewrite of unchanged rows. Checked against independent
           per-call label snapshots.
        2. Cumulative appended rows stay a small multiple of the corpus —
           the full-table-rewrite-per-call pathology would be ~25x here.
        3. READ amplification: the stored generation number never reaches
           LABEL_COMPACT_EVERY (the periodic fold keeps reconciliation
           bounded by policy), and right after a compaction the log is
           exactly one generation with one row per doc.
        4. Final labels ≡ a from-scratch batch run_dedup over all 50
           batches (the incremental path never drifts)."""
        from dedup.pipeline import run_dedup
        from dedup.streaming import (
            LABEL_COMPACT_EVERY,
            LABEL_TABLE,
            stream_clusters,
        )

        in_dir = str(tmp_path / "in_soak")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_soak"))
        ckpt = str(tmp_path / "ck_soak")

        frames = []
        prev_rows = 0
        prev_snapshot: dict = {}
        total_appended = 0
        compactions = 0
        for i in range(50):
            pdf, _ = make_corpus(n_base=3, seed=1000 + i)
            pdf = pdf.copy()
            pdf["path"] = f"soak{i:03d}/" + pdf["path"]
            frames.append(pdf)
            spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
                in_dir
            )
            ingest_stream(spark, in_dir, wh, CFG, ckpt)
            labels = stream_clusters(spark, wh, CFG)
            snapshot = {
                r["doc_key"]: r["cluster_id"] for r in labels.collect()
            }

            stored = wh.read(LABEL_TABLE)
            agg = stored.agg(
                F.count("*").alias("rows"), F.max("ver").alias("max_ver")
            ).collect()[0]
            n_total_docs = sum(len(f) for f in frames)

            # (3) generations bounded by the compaction policy, always
            assert agg["max_ver"] < LABEL_COMPACT_EVERY, (
                f"call {i}: delta log reached gen {agg['max_ver']}"
            )
            if agg["max_ver"] == 0:
                # just compacted (or first call): exactly one row per doc
                compactions += 1
                assert agg["rows"] == len(snapshot), (
                    f"call {i}: compacted log has {agg['rows']} rows for "
                    f"{len(snapshot)} labeled docs"
                )
            else:
                # (1) the append == exactly the labels that changed
                changed = {
                    k for k, v in snapshot.items()
                    if prev_snapshot.get(k) != v
                }
                wrote = agg["rows"] - prev_rows
                total_appended += wrote
                assert wrote == len(changed), (
                    f"call {i}: delta wrote {wrote} rows but "
                    f"{len(changed)} labels changed"
                )
            prev_rows = agg["rows"]
            prev_snapshot = snapshot

        n_total_docs = sum(len(f) for f in frames)
        assert compactions >= 50 // LABEL_COMPACT_EVERY, (
            f"only {compactions} compactions in 50 calls"
        )
        # (2) amortized write amplification stays small: a rewrite-per-call
        # pathology would append ~25x the corpus; merge-relabel churn on the
        # sha-keyed minima stays well under 2x
        assert total_appended <= 2 * n_total_docs, (
            f"appended {total_appended} delta rows for a "
            f"{n_total_docs}-doc corpus"
        )

        # (4) horizon-end parity with the batch pipeline
        full = pd.concat(frames, ignore_index=True)
        got = prev_snapshot
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(full), CFG).collect()
        }
        assert got == want, "50-batch incremental labels diverge from batch"


class TestStreamingSubstring:
    def test_incremental_substring_matches_batch(self, spark, tmp_path):
        """Incremental suffix pass ≡ batch: two arrival rounds through
        stream_substring_pairs find exactly the batch substring_pairs set
        over the full corpus's sha-representatives (compared at the
        content-sha level — stream rep choice per sha may differ from the
        batch global-min rep when exact dups straddle batches, but reps of
        equal content have equal shas and equal lcs). Per-round fingerprint
        appends cover ONLY the new docs, and a no-new-docs call is a no-op."""
        from dedup.pipeline import exact_stage, key_docs
        from dedup.streaming import (
            FP_TABLE,
            read_stream_substring_pairs,
            stream_substring_pairs,
        )
        from dedup.suffix import substring_pairs

        pdf, _ = make_corpus(n_base=40, seed=55)
        pdf = pdf.sample(frac=1.0, random_state=9).reset_index(drop=True)
        half = len(pdf) // 2
        in_dir = str(tmp_path / "in_sub")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_sub"))
        ckpt = str(tmp_path / "ck_sub")

        def sha_pairs(rows, sha_of):
            out = set()
            for r in rows:
                a, b = sha_of[r["key_a"]], sha_of[r["key_b"]]
                out.add((min(a, b), max(a, b), r["lcs_len"]))
            return out

        # round 1
        spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        corpus = spark.read.parquet(in_dir)
        stream_substring_pairs(spark, wh, CFG, corpus)
        fp_docs_r1 = (
            wh.read(FP_TABLE).where(F.col("fp_off") >= 0)
            .select("doc_key").distinct().count()
        )

        # round 2
        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        corpus = spark.read.parquet(in_dir)
        got_df = stream_substring_pairs(spark, wh, CFG, corpus)

        keyed = key_docs(spark.createDataFrame(pdf))
        sha_of = {
            r["doc_key"]: r["content_sha"]
            for r in keyed.select("doc_key", "content_sha").collect()
        }
        reps, _ = exact_stage(keyed)
        want = sha_pairs(substring_pairs(reps, CFG).collect(), sha_of)
        got = sha_pairs(got_df.collect(), sha_of)
        assert got == want, (
            f"incremental substring pairs diverge: extra={got - want}, "
            f"missing={want - got}"
        )

        # work-list proportionality: round 2 fingerprinted only new reps.
        # Docs shorter than the 64-char gram yield zero fp rows but DO get
        # a sentinel row (fp_off = -1) so they are never rescanned, so the
        # stored table covers every rep; real fp rows match the batch
        # kernel's doc set.
        from dedup.suffix import fingerprints

        n_fp_docs_batch = (
            fingerprints(reps, CFG).select("doc_key").distinct().count()
        )
        stored = wh.read(FP_TABLE)
        fp_docs_r2 = (
            stored.where(F.col("fp_off") >= 0)
            .select("doc_key").distinct().count()
        )
        assert fp_docs_r1 < fp_docs_r2 == n_fp_docs_batch
        assert stored.select("doc_key").distinct().count() == reps.count(), (
            "every rep (including zero-fp docs) must be marked processed"
        )

        # third call with nothing new: no re-fingerprinting, stable pairs
        rows_before = wh.read(FP_TABLE).count()
        again = stream_substring_pairs(spark, wh, CFG, corpus)
        assert wh.read(FP_TABLE).count() == rows_before
        assert sha_pairs(again.collect(), sha_of) == want
        assert sha_pairs(
            read_stream_substring_pairs(wh, CFG).collect(), sha_of
        ) == want


class TestStreamingAssets:
    def test_incremental_asset_pairs_match_batch(self, spark, tmp_path):
        """Incremental perceptual asset dedup ≡ batch asset_near_dups across
        two arrival rounds; only new assets cross the decode kernel, and a
        no-new-assets call appends nothing."""
        from dedup.multimodal import asset_near_dups, assets_from_documents
        from dedup.streaming import (
            ASSET_FEAT_TABLE,
            read_stream_asset_pairs,
            stream_asset_pairs,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(120)
        assets = assets_from_documents(docs)
        copies = assets_from_documents(docs.where(F.col("doc_id") < 15)).withColumn(
            "asset_id", F.concat(F.lit("copy-"), F.col("asset_id"))
        )
        combined = assets.unionByName(copies)
        wh = Warehouse(spark, str(tmp_path / "wh_assets"))

        batch1 = combined.where(F.col("asset_id") < "asset000060")
        stream_asset_pairs(spark, wh, batch1)
        n_feat_r1 = wh.read(ASSET_FEAT_TABLE).count()
        assert n_feat_r1 == batch1.count(), "round 1 must decode every asset"

        got_df = stream_asset_pairs(spark, wh, combined)
        # round 2 decoded ONLY the new assets
        assert (
            wh.read(ASSET_FEAT_TABLE).count() == combined.count()
        )

        def key(rows):
            return {(r["asset_a"], r["asset_b"], r["cosine"]) for r in rows}

        want = key(asset_near_dups(combined).collect())
        got = key(got_df.collect())
        assert got == want, (
            f"incremental asset pairs diverge: extra={got - want}, "
            f"missing={want - got}"
        )

        # idempotent third call: nothing new decoded, pairs stable
        feats_before = wh.read(ASSET_FEAT_TABLE).count()
        again = stream_asset_pairs(spark, wh, combined)
        assert wh.read(ASSET_FEAT_TABLE).count() == feats_before
        assert key(again.collect()) == want
        assert key(read_stream_asset_pairs(wh).collect()) == want

    def test_hot_bucket_salted_join(self, spark):
        """A planted dominant bucket (≥ HOT_BUCKET_MIN combined rows, under
        the cap) must follow capped_bucket_self_join's salt discipline in
        the incremental join (VERDICT r6 #2): the stored+new side keeps one
        id-hash salt, the new side replicates across all salts (plan-fenced
        explode + pmod), the pair set equals the naive all-pairs expectation
        exactly, and an over-cap bucket emits nothing."""
        from itertools import combinations

        from dedup.streaming import salted_new_vs_all_pairs

        def vec(i):
            # near-identical unit vectors: pairwise cosine ≈ 1 » threshold
            eps = 1e-4 * i
            n = (1.0 + eps * eps) ** 0.5
            return [1.0 / n, eps / n, 0.0, 0.0]

        hot_old = [(f"old{i:03d}", 7, vec(i)) for i in range(60)]
        hot_new = [(f"new{i:03d}", 7, vec(100 + i)) for i in range(40)]
        cold_old = [("cold-old0", 3, vec(200))]
        cold_new = [("cold-new0", 3, vec(201)), ("cold-new1", 3, vec(202))]
        over_new = [(f"over{i:03d}", 9, vec(300 + i)) for i in range(120)]
        schema = "asset_id string, bucket int, v array<double>"
        new_f = spark.createDataFrame(hot_new + cold_new + over_new, schema)
        old_f = spark.createDataFrame(hot_old + cold_old, schema)
        both = new_f.withColumn("is_new", F.lit(True)).unionByName(
            old_f.withColumn("is_new", F.lit(False))
        )

        out = salted_new_vs_all_pairs(
            new_f, both, bucket_cap=110, salts=8, threshold=0.92
        )
        got = {(r["id_a"], r["id_b"]) for r in out.collect()}

        new_hot = [x[0] for x in hot_new]
        old_hot = [x[0] for x in hot_old]
        want = {tuple(sorted(p)) for p in combinations(new_hot, 2)}
        want |= {tuple(sorted((a, b))) for a in new_hot for b in old_hot}
        want |= {("cold-new0", "cold-new1")}
        want |= {
            tuple(sorted((a, "cold-old0"))) for a in ("cold-new0", "cold-new1")
        }
        assert got == want, (
            f"extra={got - want}, missing={want - got}"
        )

        # the hot bucket genuinely spreads: stored-side salt takes >1 value
        n_salts = (
            both.where(F.col("bucket") == 7)
            .select(
                F.pmod(F.xxhash64("asset_id"), F.lit(8)).cast("int").alias("s")
            )
            .distinct()
            .count()
        )
        assert n_salts > 1, "planted hot bucket collapsed to one salt"

        plan = out._jdf.queryExecution().executedPlan().toString().lower()
        assert "explode" in plan, plan  # new side replicates across salts
        assert "pmod" in plan, plan     # stored side keeps one id-hash salt

    def test_incremental_vector_pairs_match_batch(self, spark, tmp_path):
        """Incremental ANN over streaming embeddings ≡ batch
        vector_near_dup_pairs across two arrival rounds (VERDICT r6 #6);
        only new vectors are bucketed, and a no-new-vectors call appends
        nothing."""
        from dedup.ann import vector_near_dup_pairs
        from dedup.streaming import (
            VEC_STATE_TABLE,
            read_stream_vector_pairs,
            stream_vector_pairs,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(100)
        copies = emb.where(F.col("vec_id") < 15).withColumn(
            "vec_id", (F.col("vec_id") + F.lit(1_000_000)).cast("long")
        )
        combined = emb.unionByName(copies)
        wh = Warehouse(spark, str(tmp_path / "wh_vec"))

        batch1 = combined.where(F.col("vec_id") < 50)
        stream_vector_pairs(spark, wh, batch1)
        assert wh.read(VEC_STATE_TABLE).count() == batch1.count(), (
            "round 1 must bucket every vector"
        )

        got_df = stream_vector_pairs(spark, wh, combined)
        assert wh.read(VEC_STATE_TABLE).count() == combined.count()

        def key(rows):
            # batch emits (id_a, id_b, cosine), stream (vec_a, vec_b, cosine)
            return {(r[0], r[1], r[2]) for r in rows}

        want = key(vector_near_dup_pairs(combined).collect())
        assert want, "planted identical copies must pair in batch mode"
        got = key(got_df.collect())
        assert got == want, (
            f"incremental vector pairs diverge: extra={got - want}, "
            f"missing={want - got}"
        )

        # idempotent third call: nothing new bucketed, pairs stable
        n_state = wh.read(VEC_STATE_TABLE).count()
        again = stream_vector_pairs(spark, wh, combined)
        assert wh.read(VEC_STATE_TABLE).count() == n_state
        assert key(again.collect()) == want
        assert key(read_stream_vector_pairs(wh).collect()) == want

    def test_string_vector_ids_on_empty_warehouse(self, spark, tmp_path):
        """String vector ids keep their type end to end, including the
        empty frame a warehouse without the pair table yields."""
        from dedup.streaming import read_stream_vector_pairs, stream_vector_pairs

        wh = Warehouse(spark, str(tmp_path / "wh_vec_str"))
        empty = read_stream_vector_pairs(wh, id_type="string")
        assert empty.count() == 0
        assert dict(empty.dtypes)["vec_a"] == "string"
        assert dict(empty.dtypes)["vec_b"] == "string"

        none = spark.createDataFrame(
            [], "vec_id string, embedding array<float>"
        )
        got = stream_vector_pairs(spark, wh, none)
        assert got.count() == 0
        assert dict(got.dtypes)["vec_a"] == "string"

    def test_asset_state_param_hash_isolated(self, spark, tmp_path):
        """Changing the hyperplane/threshold params starts a fresh state
        lineage — stored features under other params are not reused."""
        from dedup.multimodal import assets_from_documents
        from dedup.streaming import ASSET_FEAT_TABLE, stream_asset_pairs

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(30)
        assets = assets_from_documents(docs)
        wh = Warehouse(spark, str(tmp_path / "wh_assets2"))
        stream_asset_pairs(spark, wh, assets)
        stream_asset_pairs(spark, wh, assets, n_bits=10)
        t = wh.read(ASSET_FEAT_TABLE)
        assert t.select("param_hash").distinct().count() == 2
        per = {r["param_hash"]: r["n"] for r in
               t.groupBy("param_hash").agg(F.count("*").alias("n")).collect()}
        assert all(n == 30 for n in per.values()), per
