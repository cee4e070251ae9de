"""SparkSession builder with the engine's standard configuration."""

from __future__ import annotations

import os
import warnings

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "dedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Arrow-enabled session with AQE (skew-join splitting + partition
    coalescing) on — the free optimizations SURVEY §4 relies on."""
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cores = _parallelism(master)
    # INITIAL shuffle partition count: deliberately an overestimate (8 per
    # core) because AQE coalescing can only MERGE partitions, never split
    # them — with the r7 value of 2/core, a GB-scale shuffle at a low core
    # count produced multi-hundred-MB partitions that blew the block
    # manager's deserialized unroll during checkpoints (measured: 43M band
    # rows over 8 partitions at local[4]/4g → GC collapse). AQE's
    # parallelism-first coalescing still merges small workloads down to
    # ~one partition per core, so tiny-sf walls are unaffected; the same
    # overestimate-then-coalesce recipe is the standard AQE deployment at
    # cluster scale.
    shuffle_partitions = shuffle_partitions or max(8 * cores, 64)
    # in local mode the driver JVM hosts all executor threads — the 1g default
    # heap causes GC collapse at high parallelism, and an over-sized heap with
    # uncapped GC threads is just as bad: measured on this workload, 32g heap
    # + default GC threads ran 3x slower at local[32] than 16g + 8 GC threads
    # (GC burns cores that the Python workers need)
    mem = os.environ.get("SPARK_DRIVER_MEM", f"{min(max(4, cores), 16)}g")
    gc_opts = os.environ.get(
        "SPARK_GC_OPTS", "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2"
    )
    # make the repo importable by the worker daemon so it can preload
    # kernels. The env mutation covers the python-launches-JVM path; the
    # executorEnv conf covers spark-submit (JVM already running, its env
    # frozen) — pyspark folds spark.executorEnv.* into the daemon's
    # environment in every deploy mode, and zipimport resolves the package
    # when `repo` is a --py-files dedup.zip
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = (
        repo + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", gc_opts)
        # preload numpy/pandas/pyarrow + kernels in the daemon: forked workers
        # inherit them copy-on-write instead of importing per worker (~25s of
        # first-stage warm-up at local[32] otherwise)
        .config("spark.python.daemon.module", "dedup.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # dims like (content_sha -> rep_key) are tens of MB at bench scale;
        # broadcasting them avoids shuffling full content through SMJ. AQE
        # still decides per-join at runtime from actual sizes.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # sandbox-scale split/coalesce targets: default 128MB splits leave a
        # GB-scale corpus under-parallel on 32 cores (a real cluster with
        # TB-scale inputs should override via env)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", "32MB"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_ADVISORY_PARTITION_BYTES", "16MB"),
        )
        # AQE's parallelism-first coalescing targets max(total/parallelism,
        # minPartitionSize); the default 1MB floor collapses a small-but-CPU-
        # heavy Python kernel input to a handful of tasks (a sub-MB corpus
        # runs the shingle kernel on 1 core of 32). A 64k floor keeps those
        # stages wide; at cluster scale total/parallelism dominates and the
        # floor is inert. Env-overridable like the other sandbox-scale knobs.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # reliable checkpoints (session.materialize with a checkpoint dir
        # configured) are one-shot lineage cuts; without this a long-running
        # job's checkpoint dir grows without bound, since Spark never
        # removes checkpoint files for out-of-scope RDDs by default
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # a sort or aggregate task claims a whole Tungsten page on its first
        # row, and Spark's default page (heap / cores / 16, 32 MB at
        # local[4] on 4g) is a G1 humongous object spanning 16 contiguous
        # regions. A stream epoch sorts many tasks of a few rows each;
        # measured on a 4-core host over 4 stream runs each, 1 MB pages cut
        # the humongous-allocation GCs from 24-37 to 10-15 a run and the
        # JVM's peak resident memory from 1.5-2.1 GB to 1.0-1.2 GB
        b = b.config("spark.buffer.pageSize", str(page_bytes(mem)))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: StructType | str
                ) -> DataFrame:
    """DataFrame over driver-side `rows` (tuples in `schema`'s column
    order; `schema` a StructType or DDL string), built as a pyarrow Table.

    Spark plans an Arrow table as a JVM LocalTableScan, whatever
    spark.sql.execution.arrow.pyspark.enabled says. A Python list passed to
    createDataFrame instead becomes a PythonRDD, and every query reading it
    runs Python-worker tasks. Measured on a 4-core host (local[4]), a
    one-row metrics append took 670-820 ms from a list and 200-260 ms from
    Arrow, and stream_clusters fell from 19-20 Spark jobs to 15. At the
    driver cutover's upper end the two are about even: for 1M two-string
    rows the list built in 5.2-6.1 s and Arrow in 3.4-3.7 s, but a groupBy
    over it then took 1.4-3.5 s against 4.4-6.0 s, since a LocalTableScan
    ships its rows inside its tasks. A pandas frame is no substitute: with
    Arrow off it rejects a nullable bigint holding None.

    This is the one place in the engine that calls createDataFrame."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


# materialize's private-API fallback warns once per process
_rewrap_warned = False


def materialize(df, eager: bool = False):
    """Cut lineage and compute a multi-consumer intermediate exactly once.

    On a real cluster (a checkpoint dir is configured via
    SparkContext.setCheckpointDir, normally on HDFS/object storage) this
    uses a RELIABLE checkpoint: the materialized blocks survive executor
    loss, which matters when a long stage fans out of the table. Without a
    checkpoint dir (local/dev) it falls back to localCheckpoint —
    executor-local blocks whose loss fails the query (it simply re-runs),
    the right trade when there is no durable store to write to. Both cut
    lineage, so unlike persist() there is no plan-fingerprint cache that a
    later identical plan could silently alias.

    The checkpointed frame is re-wrapped WITHOUT the origin plan's
    propagated size estimate. Spark 4 carries the pre-checkpoint logical
    stats onto the checkpoint's LogicalRDD, and for kernel outputs that
    estimate is garbage — a mapInPandas plan is estimated at its INPUT's
    size, blind to 10-100x row fan-out — so the static planner was
    auto-broadcasting corpus-sized checkpoint tables (measured: the whole
    fingerprint table, 2.3 GiB, collected to the driver; the signature
    table chosen as a 66 MiB build side over the far smaller pairs side).
    With the estimate stripped (defaultSizeInBytes, i.e. "unknown, assume
    huge" — the pre-Spark-3.4 checkpoint behavior), the static planner
    never broadcasts a checkpoint, and AQE picks the build side from TRUE
    runtime sizes of the other side's shuffle stages — correct at every
    scale instead of correct only when the guess happens to be."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        ck = df.checkpoint(eager=eager)
    else:
        ck = df.localCheckpoint(eager=eager)
    try:
        spark = df.sparkSession
        jdf = spark._jsparkSession.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(), ck._jdf.schema(), False
        )
        return DataFrame(jdf, spark)
    except Exception as e:
        # private-API drift in a future Spark: checkpoint semantics are
        # unchanged, only the stats hygiene is lost
        global _rewrap_warned
        if not _rewrap_warned:
            _rewrap_warned = True
            warnings.warn(
                "materialize: re-wrapping the checkpoint without its origin "
                f"size estimate failed ({e!r}); checkpoints keep inherited "
                "stats and may be statically broadcast",
                RuntimeWarning, stacklevel=2,
            )
        return ck


_SIZE_SUFFIXES = {"k": 10, "m": 20, "g": 30, "t": 40}


def _parse_bytes(v: str) -> int:
    """'32MB' / '64k' / '33554432' → bytes (Spark's size-string grammar)."""
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    if s and s[-1] in _SIZE_SUFFIXES:
        return int(float(s[:-1]) * (1 << _SIZE_SUFFIXES[s[-1]]))
    return int(float(s))


def kernel_partitions(df, task_bytes: int = 64 << 10) -> int | None:
    """Partition count for a CPU-bound Python kernel stage over `df`, or
    None when the upstream partitioning should be kept — derived from the
    OPTIMIZER'S size estimate, so deciding costs no job (the previous
    `.rdd.getNumPartitions()` probe materialized every upstream AQE stage
    eagerly: ~0.7s of duplicated shuffle work per query at bench scale).

    Policy (guide §2: scale-adaptive partitioning, derived from input size):

    - est/maxPartitionBytes >= defaultParallelism → None. The scan (or an
      inflated join/checkpoint estimate, which only occurs downstream of a
      shuffle) already yields at least one task per core, so an extra
      repartition would be a second full pass of the payload over the wire
      for no parallelism gain — the §8 rule: move heavy bytes once.
    - otherwise → min(4*parallelism, est/task_bytes) even hash partitions:
      a small input whose scan yields fewer splits than cores would run the
      CPU-bound kernel nearly serially (1-split regime), and AQE's
      byte-based coalescing can't see kernel CPU density. The shuffle moved
      is bounded by parallelism*maxPartitionBytes, i.e. cheap by the same
      arithmetic that made the scan narrow.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes())
        max_pb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        return None
    if est // max_pb + 1 >= par:
        return None
    return max(min(4 * par, est // task_bytes), 1)


def page_bytes(heap: str) -> int:
    """The smallest power-of-two Tungsten page, and at least Spark's 1 MB
    floor, with which one task can still address a whole `heap`-sized JVM
    heap through the 8192-entry page table."""
    return max(1 << 20, 1 << (_parse_bytes(heap) // 8192 - 1).bit_length())


def _parallelism(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 32
