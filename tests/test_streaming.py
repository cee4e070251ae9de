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


def stored_labels(wh: Warehouse) -> dict:
    """The stored label table as {doc_key: cluster_id}; asserts its
    columns and that it holds one row per doc."""
    from dedup.streaming import LABEL_TABLE

    table = wh.read(LABEL_TABLE)
    assert table.columns == ["doc_key", "cluster_id"], table.columns
    rows = table.collect()
    out = {r["doc_key"]: r["cluster_id"] for r in rows}
    assert len(out) == len(rows), "the label table holds a doc twice"
    return out


def epoch_rows(wh: Warehouse, kind: str, cfg=CFG):
    """The stream's rows of one kind under `cfg` in the epoch table."""
    from dedup.streaming import _epoch_rows

    return _epoch_rows(wh, cfg.config_hash(), kind)


def batch_labels(spark, pdf, cfg=CFG) -> dict:
    """run_dedup's {doc_key: cluster_id} over the pandas corpus `pdf`."""
    from dedup.pipeline import run_dedup

    return {r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(pdf), cfg).collect()}


def crash_after_writing(wh: Warehouse, keep):
    """A stand-in for `wh.write` that writes only the epoch rows where
    `keep(df)` holds and then raises, as a crash partway through the
    epoch's one write would leave the table."""
    from dedup.streaming import EPOCH_TABLE

    def write(df, name, config_hash, mode="overwrite", partition_by=None):
        assert name == EPOCH_TABLE
        Warehouse.write(wh, df.where(keep(df)), name, config_hash, mode,
                        partition_by)
        raise RuntimeError("crash in the epoch write")

    return write


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
        n1 = decode_signature_blocks(epoch_rows(wh, "sig_block"), CFG).count()
        assert n1 > 0

        # round 2: rest arrives; only new docs are processed
        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        streamed = decode_signature_blocks(
            epoch_rows(wh, "sig_block"), CFG
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
        before = epoch_rows(wh, "sig_block").count()
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        assert decode_signature_blocks(
            epoch_rows(wh, "sig_block"), CFG
        ).dropDuplicates(["doc_key"]).count() == len(b)

    def test_cross_batch_verbatim_copy_folds_exact(self, spark, tmp_path):
        """A verbatim copy arriving in a LATER batch is folded into a
        cross-batch exact pair against the prior representative and is NOT
        re-signed (ADVICE r1); the exact pairs read deduped."""
        from dedup.streaming import read_stream_pairs

        pdf, _ = make_corpus(n_base=12, seed=33)
        in_dir = str(tmp_path / "in2")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh2"))
        ckpt = str(tmp_path / "ck2")

        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        n_before = decode_signature_blocks(
            epoch_rows(wh, "sig_block"), CFG
        ).dropDuplicates(["doc_key"]).count()

        # batch 2: one verbatim copy of doc 0 under a new path
        copy = pdf.iloc[[0]].copy()
        copy["path"] = "copied/later/" + copy["path"]
        spark.createDataFrame(copy).coalesce(1).write.mode("append").parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        n_after = decode_signature_blocks(
            epoch_rows(wh, "sig_block"), CFG
        ).dropDuplicates(["doc_key"]).count()
        assert n_after == n_before, "verbatim cross-batch copy was re-signed"

        keyed = key_docs(spark.createDataFrame(copy))
        copy_key = keyed.select("doc_key").collect()[0][0]
        pairs = {(r["key_a"], r["key_b"])
                 for r in read_stream_pairs(wh, CFG, "exact").collect()}
        assert any(copy_key in p for p in pairs), (
            "cross-batch exact pair missing from the exact pairs"
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
        band rows; the accumulated clusters equal the batch pipeline's."""
        from dedup.pipeline import run_dedup
        from dedup.streaming import stream_clusters

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
        bands_r1 = epoch_rows(wh, "band").count()
        assert bands_r1 == CFG.bands * eligible_reps(pdf.iloc[:half])

        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        bands_r2 = epoch_rows(wh, "band").count()
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

    def test_half_written_epoch_replays_to_batch_labels(
        self, spark, tmp_path, monkeypatch
    ):
        """An epoch whose one write lands only half its rows and then
        raises leaves partial (run, epoch) partitions behind. The stream
        replays the epoch: its reads skip its own partitions and its write
        replaces them, so the labels equal run_dedup and no doc is signed
        twice."""
        from dedup.pipeline import run_dedup
        from dedup.streaming import stream_clusters

        pdf, _ = make_corpus(n_base=30, seed=13)
        half = len(pdf) // 2
        in_dir = str(tmp_path / "in_crash")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_crash"))
        ckpt = str(tmp_path / "ck_crash")

        def signed_keys():
            return decode_signature_blocks(
                epoch_rows(wh, "sig_block"), CFG).select("doc_key")

        spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        bands_r1 = epoch_rows(wh, "band").count()

        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        with monkeypatch.context() as m:
            m.setattr(wh, "write", crash_after_writing(
                wh, lambda df: F.pmod(F.xxhash64(*df.columns), F.lit(2)) == 0))
            with pytest.raises(Exception, match="crash in the epoch write"):
                ingest_stream(spark, in_dir, wh, CFG, ckpt)
        bands_crashed = epoch_rows(wh, "band").count()

        # replay of the failed epoch
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        assert bands_r1 < bands_crashed < epoch_rows(wh, "band").count(), (
            "the crash must leave a partial epoch"
        )
        keys = signed_keys()
        assert keys.count() == keys.distinct().count(), "a doc was signed twice"

        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        want = {
            r["doc_key"]: r["cluster_id"]
            for r in run_dedup(spark, spark.createDataFrame(pdf), CFG).collect()
        }
        assert got == want, "replay lost rows of the crashed epoch"

    def test_recovery_rebands_signed_but_unbanded_docs(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash-ordering regression: an epoch whose write lands its
        signature blocks and nothing else leaves docs signed but unbanded
        and unpaired. The replay must not take its own landed signature
        rows for prior state (that would hide the docs from the band
        work-list and lose their pairs for good): its labels equal
        run_dedup and no doc is signed twice."""
        from dedup.streaming import stream_clusters

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
        signed_r1 = epoch_rows(wh, "sig_block").count()
        bands_r1 = epoch_rows(wh, "band").count()
        verified_r1 = epoch_rows(wh, "verified").count()

        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        with monkeypatch.context() as m:
            m.setattr(wh, "write", crash_after_writing(
                wh, lambda df: df["kind"] == "sig_block"))
            with pytest.raises(Exception, match="crash in the epoch write"):
                ingest_stream(spark, in_dir, wh, CFG, ckpt)
        # the crash window: signatures landed, pairs and bands did not
        assert epoch_rows(wh, "sig_block").count() > signed_r1
        assert epoch_rows(wh, "band").count() == bands_r1
        assert epoch_rows(wh, "verified").count() == verified_r1

        # replay of the failed epoch
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        keys = decode_signature_blocks(
            epoch_rows(wh, "sig_block"), CFG).select("doc_key")
        assert keys.count() == keys.distinct().count(), "a doc was signed twice"

        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        assert got == batch_labels(spark, pdf), (
            "recovery lost pairs for signed-but-unbanded docs"
        )

    def test_partial_crash_replay_bands_leftover_signatures(
        self, spark, tmp_path, monkeypatch
    ):
        """An epoch whose write lands every row but its bands (signatures,
        pairs, doc keys, sha reps, metrics) leaves the band rows behind the
        signature rows while every other kind is intact. The replay must
        band the leftover signatures without signing them again, leave no
        signed doc unbanded, and still cluster like run_dedup."""
        from dedup.streaming import stream_clusters

        pdf, _ = make_corpus(n_base=30, seed=13)
        half = len(pdf) // 2
        in_dir = str(tmp_path / "in_crash")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_crash"))
        ckpt = str(tmp_path / "ck_crash")

        def signed_keys():
            return decode_signature_blocks(
                epoch_rows(wh, "sig_block"), CFG).select("doc_key")

        def unbanded():
            banded = epoch_rows(wh, "band").select("doc_key").distinct()
            return signed_keys().join(banded, "doc_key", "left_anti").count()

        spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        with monkeypatch.context() as m:
            m.setattr(wh, "write", crash_after_writing(
                wh, lambda df: df["kind"] != "band"))
            with pytest.raises(Exception, match="crash in the epoch write"):
                ingest_stream(spark, in_dir, wh, CFG, ckpt)
        assert unbanded() > 0, "the crash must leave signed but unbanded docs"

        # replay of the failed epoch
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        keys = signed_keys()
        assert keys.count() == keys.distinct().count(), "a doc was signed twice"
        assert unbanded() == 0

        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        assert got == batch_labels(spark, pdf), (
            "replay lost pairs of the crashed epoch"
        )

    def test_second_query_keeps_the_first_querys_epochs(self, spark, tmp_path):
        """A second ingest_stream over the same warehouse and config with a
        fresh checkpoint restarts epoch ids at 0. It is another run (the
        streaming query id), so its epochs never overwrite the first
        query's: every earlier row stays, and the labels still equal
        run_dedup."""
        from dedup.streaming import EPOCH_TABLE, EPOCH_SCHEMA, stream_clusters

        pdf, _ = make_corpus(n_base=20, seed=17)
        half = len(pdf) // 2
        in_dir = str(tmp_path / "in_runs")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_runs"))

        def rows_by_run():
            return {
                (r["run"], r["epoch"], r["kind"]): r["n"]
                for r in wh.read(EPOCH_TABLE, EPOCH_SCHEMA)
                .groupBy("run", "epoch", "kind")
                .agg(F.count("*").alias("n")).collect()
            }

        for rows in (pdf.iloc[:half], pdf.iloc[half:]):
            spark.createDataFrame(rows).coalesce(1).write.mode(
                "append").parquet(in_dir)
            ingest_stream(spark, in_dir, wh, CFG, str(tmp_path / "ck_first"))
        first = rows_by_run()
        assert {e for _, e, _ in first} == {0, 1}

        ingest_stream(spark, in_dir, wh, CFG, str(tmp_path / "ck_second"))
        both = rows_by_run()
        assert {k: both[k] for k in first} == first, "an earlier epoch changed"
        assert len({run for run, _, _ in both}) == 2
        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, CFG).collect()
        }
        assert got == batch_labels(spark, pdf)

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
            read_stream_pairs,
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
        n_edges_r1 = read_stream_pairs(wh, CFG, "exact").count()
        n_edges_r1 += read_stream_pairs(wh, CFG, "verified").count()

        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        # the quotient graph the second call will fold: already-clustered
        # edges contract to self-loops and vanish, so its size is bounded
        # by the edges the new batch introduced — not the accumulated total
        edges = read_stream_pairs(wh, CFG, "exact")
        edges = edges.unionByName(read_stream_pairs(wh, CFG, "verified"))
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

    def test_stale_config_label_table_dropped(self, spark, tmp_path):
        """ADVICE r4: a label table persisted under a DIFFERENT config hash
        must not seed the quotient graph — stale merges would bake into all
        future labels. stream_clusters rebuilds the labels from the pair
        tables and overwrites the stale table."""
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
        # the call's overwrite replaced the stale table: it is complete
        # under the current config and holds exactly the returned labels
        assert wh.is_complete(LABEL_TABLE, CFG.config_hash())
        assert stored_labels(wh) == got

    def test_verified_pairs_gated_by_config(self, spark, tmp_path):
        """Verified pairs carry the config hash they were verified under,
        and stream_clusters folds only its own config's: a warehouse first
        streamed under CFG, then under a stricter threshold (its own
        stream checkpoint), labels like run_dedup under the stricter
        config — CFG's looser merges never leak into its labels."""
        from dedup.streaming import stream_clusters

        strict = DedupConfig(jaccard_threshold=0.95)
        pdf, _ = make_corpus(n_base=30, seed=91)
        want = batch_labels(spark, pdf, strict)
        assert want != batch_labels(spark, pdf), (
            "the fixture needs pairs the two thresholds verify differently"
        )
        in_dir = str(tmp_path / "in_gate")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_gate"))
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            in_dir
        )
        ingest_stream(spark, in_dir, wh, CFG, str(tmp_path / "ck_cfg"))
        stream_clusters(spark, wh, CFG)
        ingest_stream(spark, in_dir, wh, strict, str(tmp_path / "ck_strict"))

        got = {
            r["doc_key"]: r["cluster_id"]
            for r in stream_clusters(spark, wh, strict).collect()
        }
        assert got == want, "another config's verified pairs leaked"

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
        assert epoch_rows(wh, "band").count() > 0
        assert epoch_rows(wh, "verified").count() > 0
        assert wh.exists("clusters"), "--stream must write the clusters table"
        assert wh.exists("stream_fingerprints"), (
            "--substring must persist the incremental fingerprint state"
        )
        # second run over the same files: offsets consumed, nothing
        # re-banded, nothing re-fingerprinted
        bands_before = epoch_rows(wh, "band").count()
        fps_before = wh.read("stream_fingerprints").count()
        assert main(["--input", in_dir, "--output", out, "--stream",
                     "--substring"]) == 0
        assert epoch_rows(wh, "band").count() == bands_before
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


class TestLabelCrash:
    def test_half_written_label_overwrite_still_matches_batch(
        self, spark, tmp_path, monkeypatch
    ):
        """A stream_clusters call whose label overwrite lands only half
        its rows and then raises leaves a partial table the manifest still
        calls complete (the previous call's entry). The labels it lost
        re-enter the quotient graph through their persisted edges, so the
        next call — after a further batch — still equals run_dedup, and
        its overwrite leaves one row per doc."""
        from dedup.streaming import LABEL_TABLE, stream_clusters

        in_dir = str(tmp_path / "in_crash")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_crash"))
        ckpt = str(tmp_path / "ck_crash")

        def half_overwrite_then_crash(df, name, config_hash, mode="overwrite"):
            if name != LABEL_TABLE:
                return Warehouse.write(wh, df, name, config_hash, mode)
            half = df.where(F.pmod(F.xxhash64("doc_key"), F.lit(2)) == 0)
            half.write.mode("overwrite").parquet(wh._path(name))
            raise RuntimeError("crash in the label overwrite")

        frames = []
        for i, seed in enumerate((51, 52, 53)):
            pdf, _ = make_corpus(n_base=10, seed=seed)
            pdf = pdf.copy()
            pdf["path"] = f"c{i}/" + pdf["path"]
            frames.append(pdf)
            spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
                in_dir
            )
            ingest_stream(spark, in_dir, wh, CFG, ckpt)
            if i == 1:
                with monkeypatch.context() as m:
                    m.setattr(wh, "write", half_overwrite_then_crash)
                    with pytest.raises(RuntimeError, match="crash in the"):
                        stream_clusters(spark, wh, CFG)
                n_docs = sum(len(f) for f in frames)
                assert wh.is_complete(LABEL_TABLE, CFG.config_hash())
                assert 0 < len(stored_labels(wh)) < n_docs, (
                    "the crash must leave a partial label table"
                )
                continue
            labels = stream_clusters(spark, wh, CFG)

        got = {r["doc_key"]: r["cluster_id"] for r in labels.collect()}
        assert got == batch_labels(spark, pd.concat(frames, ignore_index=True))
        assert stored_labels(wh) == got


# Spark jobs of one ingest_stream epoch on a prior state, and of the
# stream_clusters call after it, on the fixture below (AQE stage jobs
# included; AQE can vary identical runs by a job or two). Over four runs
# on a 4-core host the epoch took 22 jobs and stream_clusters 11. The
# epoch that landed its state in seven ordered appends took 30 and 12. The
# label layout that appended a delta generation per call and reconciled it
# on read took 15; the one that also built the edge seed and the driver
# union-find's labels from Python lists (PythonRDDs) and read the label
# generation with a max(ver) collect took 19-20; the one that re-ran the
# micro-batch per consumer and decoded the checkpoint three times took
# 63-64 and 27-28. A stream_substring_pairs round over a prior state took
# 21 jobs over four runs (36 when it inferred each state table's schema
# from Parquet footers and counted its new docs in a job of its own). The
# pins add two jobs of headroom to the highest count seen.
MAX_EPOCH_JOBS = 24
MAX_CLUSTER_JOBS = 13
MAX_SUBSTRING_JOBS = 23


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
        n_verified = epoch_rows(wh, "verified").count()
        _, epoch_jobs = count_jobs(
            lambda: ingest_stream(spark, in_dir, wh, CFG, ckpt))
        # the pinned epoch runs every step: it verifies new pairs
        assert epoch_rows(wh, "verified").count() > n_verified
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


class TestEpochWrites:
    def test_one_warehouse_write_per_epoch(self, spark, tmp_path):
        """An epoch on a prior state calls the Warehouse write methods
        once: a single write of the epoch table (nested calls, such as the
        lineage entry the write records, are not counted)."""
        from dedup.streaming import EPOCH_TABLE

        pdf, _ = make_corpus(n_base=10, seed=61)
        # round 2 holds near and exact copies of round-1 docs
        first = pdf.iloc[list(range(10)) + list(range(17, 25))]
        second = pdf.iloc[list(range(10, 17)) + list(range(25, 30))]
        in_dir = str(tmp_path / "in_one")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_one"))
        ckpt = str(tmp_path / "ck_one")
        spark.createDataFrame(first).coalesce(1).write.mode("append").parquet(
            in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)

        calls, depth = [], [0]
        for name in ("write", "append", "append_metrics", "record_metrics",
                     "record_lineage", "drop"):
            def counted(*a, _real=getattr(wh, name), _name=name, **kw):
                if depth[0] == 0:
                    calls.append((_name, kw.get("name", a[1] if len(a) > 1
                                                else None)))
                depth[0] += 1
                try:
                    return _real(*a, **kw)
                finally:
                    depth[0] -= 1

            setattr(wh, name, counted)
        spark.createDataFrame(second).coalesce(1).write.mode(
            "append").parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        assert calls == [("write", EPOCH_TABLE)], calls
        # the epoch ran every step: it signed, banded and verified
        assert epoch_rows(wh, "verified").count() > 0

    def test_small_epoch_writes_one_file_per_kind(self, spark, tmp_path):
        """The epoch write is rebalanced by kind: a micro-batch read from
        four input files still lands one file in each (kind, run, epoch)
        partition, not one per upstream task."""
        from dedup.streaming import EPOCH_TABLE

        pdf, _ = make_corpus(n_base=10, seed=62)
        in_dir = str(tmp_path / "in_files")
        spark.createDataFrame(pdf).repartition(4).write.parquet(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_files"))
        ingest_stream(spark, in_dir, wh, CFG, str(tmp_path / "ck_files"))

        files = {}
        for d, _, names in os.walk(os.path.join(wh.root, EPOCH_TABLE)):
            if os.path.basename(d).startswith("epoch="):
                files[os.path.relpath(d, wh.root)] = sum(
                    n.endswith(".parquet") for n in names)
        kinds = {p.split("kind=")[1].split(os.sep)[0] for p in files}
        assert {"doc_key", "sig_block", "band", "verified"} <= kinds, files
        assert set(files.values()) == {1}, files


class TestStreamingSoak:
    def test_fifty_batch_soak_bounded_log_and_batch_parity(
        self, spark, tmp_path
    ):
        """VERDICT r5 #8 long-horizon soak: 50 AvailableNow ingest +
        stream_clusters rounds. After EVERY call the label table holds
        exactly one row per labeled doc and equals the returned labels (the
        stored state never grows past the corpus), and at the horizon's
        end the labels ≡ a from-scratch batch run_dedup over all 50
        batches (the incremental path never drifts)."""
        from dedup.streaming import stream_clusters

        in_dir = str(tmp_path / "in_soak")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_soak"))
        ckpt = str(tmp_path / "ck_soak")

        frames = []
        for i in range(50):
            pdf, _ = make_corpus(n_base=3, seed=1000 + i)
            pdf = pdf.copy()
            pdf["path"] = f"soak{i:03d}/" + pdf["path"]
            frames.append(pdf)
            spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
                in_dir
            )
            ingest_stream(spark, in_dir, wh, CFG, ckpt)
            labels = {
                r["doc_key"]: r["cluster_id"]
                for r in stream_clusters(spark, wh, CFG).collect()
            }
            assert stored_labels(wh) == labels, (
                f"call {i}: the label table differs from the returned labels"
            )

        full = pd.concat(frames, ignore_index=True)
        assert labels == batch_labels(spark, full), (
            "50-batch incremental labels diverge from batch"
        )


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


    def test_jobs_per_substring_round_pinned(
        self, spark, tmp_path, count_jobs
    ):
        """A stream_substring_pairs round over a prior state runs at most
        MAX_SUBSTRING_JOBS Spark jobs, and its metrics row counts the new
        docs it fingerprinted (each processed doc is one stored doc_key)."""
        from dedup.streaming import FP_TABLE, stream_substring_pairs

        pdf, _ = make_corpus(n_base=40, seed=55)
        pdf = pdf.sample(frac=1.0, random_state=9).reset_index(drop=True)
        in_dir = str(tmp_path / "in_sub_jobs")
        os.makedirs(in_dir)
        wh = Warehouse(spark, str(tmp_path / "wh_sub_jobs"))
        ckpt = str(tmp_path / "ck_sub_jobs")

        def fp_docs():
            return wh.read(FP_TABLE).select("doc_key").distinct().count()

        spark.createDataFrame(pdf.iloc[:-10]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        stream_substring_pairs(spark, wh, CFG, spark.read.parquet(in_dir))
        n_before = fp_docs()

        spark.createDataFrame(pdf.iloc[-10:]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, ckpt)
        corpus = spark.read.parquet(in_dir)
        _, jobs = count_jobs(
            lambda: stream_substring_pairs(spark, wh, CFG, corpus))

        rows_in = (
            wh.metrics().where(F.col("stage") == "stream_substring")
            .orderBy(F.col("created_at").desc()).first()["rows_in"]
        )
        assert 0 < rows_in == fp_docs() - n_before
        assert jobs <= MAX_SUBSTRING_JOBS, jobs


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
        both = new_f.unionByName(old_f)

        out = salted_new_vs_all_pairs(
            new_f, old_f, bucket_cap=110, threshold=0.92
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
