"""materialize(): reliable checkpoint when a checkpoint dir is configured,
localCheckpoint fallback otherwise — the executor-loss-safety policy behind
every multi-consumer intermediate in the engine."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import os, sys
sys.path.insert(0, __REPO__)
from pyspark.sql import functions as F
from dedup.session import get_spark, materialize

ckpt_dir = sys.argv[1]
spark = get_spark("mat", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.setCheckpointDir(ckpt_dir)
df = spark.range(1000).withColumn("x", F.xxhash64("id"))
m = materialize(df, eager=True)
assert m.count() == 1000
# reliable checkpoint writes RDD blocks under the configured dir
found = [
    os.path.join(r, f) for r, _, fs in os.walk(ckpt_dir) for f in fs
]
assert found, "no reliable-checkpoint files written"
print("RELIABLEOK", len(found))
spark.stop()
"""


def test_reliable_checkpoint_when_dir_configured(tmp_path):
    res = subprocess.run(
        [sys.executable, "-c", _SCRIPT.replace("__REPO__", repr(REPO)),
         str(tmp_path / "ckpt")],
        capture_output=True, text=True, timeout=570,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert "RELIABLEOK" in res.stdout, res.stdout[-2000:]


def test_local_checkpoint_without_dir(spark):
    from pyspark.sql import functions as F

    from dedup.session import materialize

    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(100).withColumn("x", F.xxhash64("id"))
    m = materialize(df, eager=True)
    assert m.count() == 100
    # lineage is cut: the materialized plan reads an RDD scan, not range()
    assert "Range" not in m._jdf.queryExecution().executedPlan().toString()


def test_materialize_strips_origin_stats(spark):
    """A checkpoint must not inherit the pre-checkpoint size estimate: for
    kernel outputs that estimate is blind to row fan-out and made the
    static planner auto-broadcast corpus-sized tables (r8 §6g). The
    materialized frame must report "unknown/huge" so join-strategy choice
    falls to AQE's true runtime sizes."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dedup.session import materialize

    df = spark.range(50).select(F.col("id").cast("string").alias("k"))

    def fan(batches):
        for b in batches:
            yield pd.concat([b] * 100)

    out = df.mapInPandas(fan, "k string")
    m = materialize(out, eager=False)
    est = int(m._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    default_size = int(
        spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1))
    )
    assert est >= default_size, (
        f"checkpoint inherited a propagated estimate ({est} bytes) — the "
        "static planner will mis-broadcast kernel-output checkpoints"
    )
    origin = int(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est > origin, (est, origin)
    assert m.count() == 5000


def test_materialize_keeps_lineage_cut_partitioning(spark):
    """The re-wrap builds the frame without the checkpoint's
    outputPartitioning. Under AQE that loses nothing: a key-aligned
    consumer of a key-partitioned table shuffles exactly as often after
    materialize as after a plain localCheckpoint."""
    from pyspark.sql import functions as F

    from dedup.session import materialize

    df = spark.range(200_000).select(
        (F.col("id") % 1000).alias("k")).repartition(16, "k")

    def key_exchanges(cut):
        agg = cut.groupBy("k").count()
        assert len(agg.collect()) == 1000
        final = agg._jdf.queryExecution().executedPlan().toString()
        return final.split("== Initial Plan ==")[0].count(
            "Exchange hashpartitioning(k")

    assert key_exchanges(df.localCheckpoint(eager=True)) == key_exchanges(
        materialize(df, eager=True))


def test_rewrap_fallback_warns_once(spark, monkeypatch):
    """When the private re-wrap fails, materialize still returns a working
    checkpoint and says so once per process, not once per call."""
    import warnings

    from dedup import session

    class FailingRewrap:
        def __init__(self, j):
            self._j = j

        def internalCreateDataFrame(self, *a):
            raise RuntimeError("re-wrap unavailable")

        def __getattr__(self, name):
            return getattr(self._j, name)

    df = spark.range(10)
    monkeypatch.setattr(session, "_rewrap_warned", False)
    monkeypatch.setattr(spark, "_jsparkSession",
                        FailingRewrap(spark._jsparkSession))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert session.materialize(df, eager=True).count() == 10
        assert session.materialize(df, eager=True).count() == 10
    hits = [w for w in caught if "re-wrapping the checkpoint" in str(w.message)]
    assert len(hits) == 1, [str(w.message) for w in caught]
