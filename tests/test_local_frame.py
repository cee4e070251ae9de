"""Driver-side frames (`dedup.session.local_frame`): connected components'
driver-path labels, the metrics rows and the stream's empty frames are
Arrow-built LocalTableScans, so no query over them starts a Python-worker
task. A list passed to createDataFrame would plan as a PythonRDD."""

import numpy as np
import pytest
from pyspark.sql.types import LongType, StringType

from dedup.cluster import connected_components, numpy_connected_components
from dedup.config import DedupConfig
from dedup.fixtures import make_corpus
from dedup.warehouse import Warehouse, metrics_row

CFG = DedupConfig()
KEY_TYPES = {"bigint": LongType(), "string": StringType()}


def rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _edges(key_type: str) -> list[tuple]:
    rng = np.random.default_rng(5)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 80, size=(60, 2))
             if a != b]
    pairs += [(100 + i, 101 + i) for i in range(20)]  # a long chain
    if key_type == "string":
        pairs = [(f"k{a:03d}", f"k{b:03d}") for a, b in pairs]
    return pairs


def _labels(df) -> dict:
    return {r["doc_key"]: r["cluster_id"] for r in df.collect()}


class TestDriverPath:
    @pytest.mark.parametrize("key_type", sorted(KEY_TYPES))
    def test_labels_match_oracle_and_distributed_path(self, spark, key_type):
        edges = _edges(key_type)
        df = spark.createDataFrame(edges, f"key_a {key_type}, key_b {key_type}")
        driver = connected_components(df)
        assert [f.dataType for f in driver.schema.fields] == [
            KEY_TYPES[key_type]] * 2
        want = numpy_connected_components(edges)
        assert _labels(driver) == want
        assert _labels(connected_components(df, driver_threshold=0)) == want

    @pytest.mark.parametrize("key_type", sorted(KEY_TYPES))
    def test_empty_edge_set_keeps_key_type(self, spark, key_type):
        df = spark.createDataFrame([], f"key_a {key_type}, key_b {key_type}")
        out = connected_components(df)
        assert out.columns == ["doc_key", "cluster_id"]
        assert [f.dataType for f in out.schema.fields] == [
            KEY_TYPES[key_type]] * 2
        assert out.count() == 0


class TestMetricsRows:
    @pytest.mark.parametrize("arrow", ["true", "false"])
    def test_null_counts_round_trip(self, spark, tmp_path, arrow):
        """None in the nullable bigint columns survives the append, whether
        or not PySpark's Arrow conversion is enabled."""
        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, arrow)
        try:
            wh = Warehouse(spark, str(tmp_path / "wh"))
            rows = [metrics_row("lsh", "h", 12, rows_in=None, rows_out=7,
                                dropped_candidates=None),
                    metrics_row("exact", "h", 3, rows_in=5)]
            wh.append_metrics(rows)
            got = sorted(tuple(r) for r in wh.metrics().collect())
        finally:
            spark.conf.set(key, prev)
        assert got == sorted(rows)


class TestNoPythonRDD:
    def test_driver_frames_start_no_python_worker(self, spark, tmp_path,
                                                  monkeypatch):
        """connected_components' driver-path labels, the frame
        append_metrics writes, and the inputs of stream_clusters' two cuts
        (the edges connected_components cuts, then the labels) carry no
        PythonRDD in their RDD lineage."""
        import dedup.cluster as cluster
        import dedup.streaming as streaming
        from dedup.streaming import ingest_stream, stream_clusters

        edges = spark.createDataFrame(_edges("string"),
                                      "key_a string, key_b string")
        assert "PythonRDD" not in rdd_lineage(connected_components(edges))

        appended = {}

        def capture_append(self, df, name):
            appended[name] = df
            return real_append(self, df, name)

        real_append = Warehouse.append
        monkeypatch.setattr(Warehouse, "append", capture_append)
        wh = Warehouse(spark, str(tmp_path / "wh"))
        wh.record_metrics("cluster", "h", 1, rows_in=None)
        assert "PythonRDD" not in rdd_lineage(appended["metrics"])

        cuts = []

        def capture_cut(df, eager=False):
            cuts.append(df)
            return real_cut(df, eager=eager)

        real_cut = streaming.materialize
        monkeypatch.setattr(streaming, "materialize", capture_cut)
        monkeypatch.setattr(cluster, "materialize", capture_cut)
        pdf, _ = make_corpus(n_base=10, seed=61)
        in_dir = str(tmp_path / "in")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(in_dir)
        ingest_stream(spark, in_dir, wh, CFG, str(tmp_path / "ck"))
        cuts.clear()
        stream_clusters(spark, wh, CFG)
        edge_cut, label_cut = cuts
        assert "PythonRDD" not in rdd_lineage(edge_cut)
        assert "PythonRDD" not in rdd_lineage(label_cut)
