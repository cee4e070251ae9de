"""Crash matrix: every warehouse write boundary of a stream epoch, of the
stream_clusters call after it, and of a warehouse-mode run_dedup.

The `crash_at` fixture makes the k-th call of `Warehouse.write`, `append`,
`record_lineage` or `_save_manifest` (nested calls counted too) raise
before it does anything. For every k up to the last boundary of the
scenario, the scenario is run from the same prior state, crashed at k,
then replayed without faults, and the replay must give run_dedup's
labels, sign no doc twice and read no other config's rows.

The boundaries of one stream epoch plus the stream_clusters call after
it, in call order:
  1  write stream_epochs (the epoch's one partition overwrite)
  2  its manifest save (table entry)
  3  record_lineage(stream_epochs)
  4  its manifest save
  5  write stream_cluster_labels (the label overwrite)
  6  its manifest save
  7  record_lineage(stream_cluster_labels)
  8  its manifest save

The boundaries of a warehouse-mode run_dedup:
  1  record_lineage(signatures)
  2  its manifest save
  3  append checkpoint_signatures
  4  append metrics
  5  write clusters
  6  its manifest save
  7  record_lineage(clusters)
  8  its manifest save
"""

import os
import shutil

import pytest

from dedup.config import DedupConfig
from dedup.fixtures import make_corpus
from dedup.pipeline import (
    decode_signature_blocks,
    read_signature_checkpoint,
    run_dedup,
)
from dedup.streaming import _epoch_rows, ingest_stream, stream_clusters
from dedup.warehouse import Warehouse

CFG = DedupConfig()
# another config whose state shares the warehouse: none of its rows may
# reach CFG's labels, signatures or exact fold
OTHER = DedupConfig(jaccard_threshold=0.5)
CRASHING = ("write", "append", "record_lineage", "_save_manifest")
# the matrix never needs more points than this; reaching it means the
# scenario crashed at every k so far, and the loop would not end
MAX_POINTS = 40


class InjectedCrash(RuntimeError):
    pass


@pytest.fixture()
def crash_at():
    """`crash_at(wh, k)` makes the k-th call of the crashing Warehouse
    methods on the instance `wh` raise InjectedCrash. The hooks live on
    that instance only: a replay opens a new Warehouse on the same root."""

    def install(wh: Warehouse, k: int) -> None:
        calls = [0]
        for name in CRASHING:
            def hooked(*a, _real=getattr(wh, name), _name=name, **kw):
                calls[0] += 1
                if calls[0] == k:
                    raise InjectedCrash(f"injected crash at {_name} #{k}")
                return _real(*a, **kw)

            setattr(wh, name, hooked)

    return install


def _labels(df) -> dict:
    return {r["doc_key"]: r["cluster_id"] for r in df.collect()}


def _assert_signed_once(sig_keys) -> None:
    keys = [r["doc_key"] for r in sig_keys.select("doc_key").collect()]
    assert len(keys) == len(set(keys)), "a doc was signed twice"


def _corpus():
    """30 docs: round 1 holds ten base docs and the short ones, round 2
    their exact copies, near copies and chain members, so the epoch under
    test signs, verifies pairs and folds cross-batch exact pairs."""
    pdf, _ = make_corpus(n_base=10, seed=61)
    pdf = pdf.iloc[:30]
    first = pdf.iloc[list(range(10)) + list(range(17, 25))]
    second = pdf.iloc[list(range(10, 17)) + list(range(25, 30))]
    return pdf, first, second


def _run_points(scenario, replay, check, crash_at):
    """Crash `scenario(k)` at k = 1, 2, ... until a run completes; after
    each crash, `replay(k)` then `check(k)`. Returns the points run."""
    k = 0
    while True:
        k += 1
        assert k < MAX_POINTS, "the scenario never stopped crashing"
        try:
            scenario(k, crash_at)
        except Exception as e:  # noqa: BLE001 - Py4J wraps the crash
            assert "injected crash" in str(e), e
        else:
            return k - 1
        replay(k)
        check(k)


class TestCrashMatrix:
    def test_stream_epoch_and_cluster_call(self, spark, tmp_path, crash_at):
        pdf, first, second = _corpus()
        want = _labels(run_dedup(spark, spark.createDataFrame(pdf), CFG))
        in_dir = str(tmp_path / "in")
        os.makedirs(in_dir)
        base = tmp_path / "base"

        # the prior state: round 1 under CFG, clustered, plus OTHER's
        # ingest of copies of the round-2 docs under other paths
        spark.createDataFrame(first).coalesce(1).write.mode("append").parquet(
            in_dir)
        wh0 = Warehouse(spark, str(base / "wh"))
        ingest_stream(spark, in_dir, wh0, CFG, str(base / "ck"))
        stream_clusters(spark, wh0, CFG)
        other_dir = str(tmp_path / "in_other")
        other = second.copy()
        other["repo"] = "other/" + other["repo"]
        spark.createDataFrame(other).coalesce(1).write.parquet(other_dir)
        ingest_stream(spark, other_dir, wh0, OTHER, str(base / "ck_other"))
        spark.createDataFrame(second).coalesce(1).write.mode("append").parquet(
            in_dir)

        def point(k):
            return str(tmp_path / f"p{k}")

        def wh_of(k):
            return Warehouse(spark, os.path.join(point(k), "wh"))

        def round_(wh, k):
            ingest_stream(spark, in_dir, wh, CFG, os.path.join(point(k), "ck"))
            return stream_clusters(spark, wh, CFG)

        def scenario(k, crash):
            shutil.copytree(base, point(k))
            wh = wh_of(k)
            crash(wh, k)
            round_(wh, k)

        def replay(k):
            wh = wh_of(k)
            got = _labels(round_(wh, k))
            assert got == want, f"crash at {k}: labels differ from run_dedup"

        def check(k):
            blocks = _epoch_rows(wh_of(k), CFG.config_hash(), "sig_block")
            _assert_signed_once(decode_signature_blocks(blocks, CFG))
            shutil.rmtree(point(k))

        assert _run_points(scenario, replay, check, crash_at) == 8

    def test_warehouse_run_dedup(self, spark, tmp_path, crash_at):
        pdf, _, second = _corpus()
        corpus = spark.createDataFrame(pdf)
        want = _labels(run_dedup(spark, corpus, CFG))
        base = str(tmp_path / "base")
        other = second.copy()
        other["repo"] = "other/" + other["repo"]
        run_dedup(spark, spark.createDataFrame(other), OTHER,
                  warehouse=Warehouse(spark, base))

        def point(k):
            return str(tmp_path / f"p{k}")

        def scenario(k, crash):
            shutil.copytree(base, point(k))
            wh = Warehouse(spark, point(k))
            crash(wh, k)
            run_dedup(spark, corpus, CFG, warehouse=wh).collect()

        def replay(k):
            got = _labels(run_dedup(spark, corpus, CFG,
                                    warehouse=Warehouse(spark, point(k))))
            assert got == want, f"crash at {k}: labels differ from run_dedup"

        def check(k):
            wh = Warehouse(spark, point(k))
            _assert_signed_once(read_signature_checkpoint(wh, CFG))
            shutil.rmtree(point(k))

        assert _run_points(scenario, replay, check, crash_at) == 8
