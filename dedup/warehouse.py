"""Table layer: Iceberg when a catalog is configured, Parquet directory
fallback otherwise (SURVEY §7.0 — no Iceberg runtime jar in the sandbox).

Every write records a manifest entry (stage, config_hash, status, row count,
snapshot id) giving the Parquet fallback the lineage semantics the north rule
wants from Iceberg: stages are keyed by config hash, resume refuses a
mismatched config exactly like the reference's heapify refuses a mismatched
family/ser-ver (FrequentDirections.java:117-126).

Checkpoint rows follow the reference's preamble discipline (SURVEY §2.4):
(magic, ver, stage, config_hash, part_id, rows_used, payload, n, created_at).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dedup.session import local_frame
from dedup.sketches import MAGIC, SER_VER

CHECKPOINT_SCHEMA = StructType(
    [
        StructField("magic", IntegerType(), False),
        StructField("ver", IntegerType(), False),
        StructField("stage", StringType(), False),
        StructField("config_hash", StringType(), False),
        StructField("part_id", IntegerType(), False),
        StructField("rows_used", IntegerType(), False),
        StructField("payload", BinaryType(), False),
        StructField("n", LongType(), False),
        StructField("created_at", LongType(), False),
    ]
)

METRICS_SCHEMA = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("config_hash", StringType(), False),
        StructField("rows_in", LongType(), True),
        StructField("rows_out", LongType(), True),
        StructField("dropped_candidates", LongType(), True),
        StructField("wall_ms", LongType(), False),
        StructField("created_at", LongType(), False),
    ]
)


def metrics_row(stage: str, config_hash: str, wall_ms: int,
                rows_in: int | None = None, rows_out: int | None = None,
                dropped_candidates: int | None = None) -> tuple:
    """One METRICS_SCHEMA row, stamped with the current time."""
    return (stage, config_hash, rows_in, rows_out, dropped_candidates,
            int(wall_ms), int(time.time() * 1000))


class Warehouse:
    """Directory-per-table warehouse with a JSON manifest for lineage."""

    def __init__(self, spark: SparkSession, root: str, use_iceberg: bool | None = None):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        if use_iceberg is None:
            use_iceberg = bool(
                spark.conf.get("spark.sql.catalog.dedup", None)
            )
        self.use_iceberg = use_iceberg

    # -- manifest / lineage ------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"tables": {}, "lineage": []}

    def _save_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)

    def record_lineage(self, stage: str, config_hash: str, status: str,
                       rows: int | None = None, table: str | None = None) -> None:
        m = self._load_manifest()
        m["lineage"].append(
            dict(stage=stage, config_hash=config_hash, status=status,
                 rows=rows, table=table, snapshot=str(uuid.uuid4())[:8],
                 ts=int(time.time() * 1000))
        )
        self._save_manifest(m)

    def lineage(self, stage: str, config_hash: str, status: str) -> list[dict]:
        """Recorded lineage entries of one stage and config with the given
        status, oldest first (a manifest read: no Spark job)."""
        return [e for e in self._load_manifest()["lineage"]
                if (e["stage"], e["config_hash"], e["status"])
                == (stage, config_hash, status)]

    # -- tables --------------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _iceberg_table(self, name: str) -> str:
        return f"dedup.db.{name}"

    def write(self, df: DataFrame, name: str, config_hash: str,
              mode: str = "overwrite") -> int:
        """Write a stage output; returns row count; marks table complete.

        With an Iceberg catalog configured (spark.sql.catalog.dedup), stage
        outputs become Iceberg tables with real snapshot lineage; the Parquet
        directory fallback (sandbox default — no Iceberg runtime jar here,
        SURVEY §7.0) mirrors the semantics via the JSON manifest.
        """
        if self.use_iceberg:
            tbl = self._iceberg_table(name)
            if mode == "overwrite":
                df.writeTo(tbl).createOrReplace()
            else:
                df.writeTo(tbl).append()
            rows = self.spark.table(tbl).count()
            m = self._load_manifest()
            m["tables"][name] = dict(
                config_hash=config_hash, status="complete", rows=rows,
                snapshot="iceberg", ts=int(time.time() * 1000),
            )
            self._save_manifest(m)
            self.record_lineage(name, config_hash, "written", rows, tbl)
            return rows
        # the row count is observed on the write action itself (no re-read
        # of the table); an append adds it to the manifest's prior total
        written = Observation()
        df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
            mode).parquet(self._path(name))
        m = self._load_manifest()
        rows = written.get["rows"]
        if mode == "append":
            rows += m["tables"].get(name, {}).get("rows", 0)
        m["tables"][name] = dict(
            config_hash=config_hash, status="complete", rows=rows,
            snapshot=str(uuid.uuid4())[:8], ts=int(time.time() * 1000),
        )
        self._save_manifest(m)
        self.record_lineage(name, config_hash, "written", rows, name)
        return rows

    def append(self, df: DataFrame, name: str) -> None:
        if self.use_iceberg:
            tbl = self._iceberg_table(name)
            try:
                df.writeTo(tbl).append()
            except Exception:
                df.writeTo(tbl).create()
            return
        df.write.mode("append").parquet(self._path(name))

    def read(self, name: str,
             schema: StructType | str | None = None) -> DataFrame:
        """`schema` (a StructType or DDL string), when known, spares the
        Parquet footer-inference job."""
        if self.use_iceberg:
            return self.spark.table(self._iceberg_table(name))
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._path(name))

    def exists(self, name: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._iceberg_table(name))
        p = self._path(name)
        return os.path.exists(p) and any(
            f.endswith(".parquet") for f in os.listdir(p)
        )

    def is_complete(self, name: str, config_hash: str) -> bool:
        """True iff the table was fully written under THIS config — a
        different config hash is refused, never silently reused."""
        entry = self._load_manifest()["tables"].get(name)
        if entry is None or not self.exists(name):
            return False
        if entry["config_hash"] != config_hash:
            return False
        return entry["status"] == "complete"

    def drop(self, name: str) -> None:
        if self.use_iceberg:
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self._iceberg_table(name)}"
            )
        else:
            p = self._path(name)
            if os.path.exists(p):
                shutil.rmtree(p)
        m = self._load_manifest()
        m["tables"].pop(name, None)
        self._save_manifest(m)

    def ingest_corpus(self, df: DataFrame, name: str = "corpus",
                      content_col: str = "content",
                      config_hash: str = "ingest") -> int:
        """Land a raw corpus with `content_sha` as a STORED column.

        sha2(content) is computed exactly once, here, JVM-side; every
        downstream pass (the exact fold's pruned (content_sha, doc_key)
        projection, audits, the per-row invariant check vs the reference)
        then reads a 64-char column instead of re-hashing content bytes —
        at 10^12-file scale the difference between a metadata-width scan
        and a second full pass over the corpus (VERDICT r4 #1).
        run_dedup detects the stored column and skips the materialize
        fallback in exact_stage."""
        if "content_sha" not in df.columns:
            df = df.withColumn(
                "content_sha",
                F.sha2(F.coalesce(F.col(content_col), F.lit("")), 256),
            )
        return self.write(df, name, config_hash)

    def checkpoint_stats(self, name: str = "checkpoint_signatures") -> DataFrame:
        """Size accounting for checkpoint tables (the reference's
        getSizeBytes/getCompactSizeBytes surface, Matrix.java:164-189, as a
        warehouse view): per (stage, config_hash) block count, row total and
        serialized payload bytes."""
        return (
            self.read(name)
            .groupBy("stage", "config_hash")
            .agg(
                F.count("*").alias("n_blocks"),
                F.sum("n").alias("rows"),
                F.sum(F.octet_length("payload")).alias("payload_bytes"),
                F.max("created_at").alias("last_append_at"),
            )
        )

    # -- metrics ---------------------------------------------------------
    def record_metrics(self, stage: str, config_hash: str, wall_ms: int,
                       rows_in: int | None = None, rows_out: int | None = None,
                       dropped_candidates: int | None = None) -> None:
        self.append_metrics([metrics_row(stage, config_hash, wall_ms, rows_in,
                                         rows_out, dropped_candidates)])

    def append_metrics(self, rows: list[tuple]) -> None:
        """Append buffered `metrics_row` tuples in one write, from an
        Arrow-built frame (`local_frame`): the write job runs no Python
        worker."""
        self.append(local_frame(self.spark, rows, METRICS_SCHEMA), "metrics")

    def metrics(self) -> DataFrame:
        return self.read("metrics")
