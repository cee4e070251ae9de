"""Standalone-cluster scaling bench: N vs 4N EXECUTORS (not threads).

The north rule's scaling criterion is between cluster sizes; local[N] vs
local[4N] measures thread scaling inside ONE JVM, which conflates the
engine's scalability with single-JVM artifacts (one heap, one GC, one
allocator, one shuffle manager). This harness launches a real Spark
standalone master plus eight 2-core worker daemons on localhost — each
worker taskset-pinned to its own CPU pair, so an executor's compute budget
is physically its own — and runs the same MinHash+LSH job as an application
with spark.cores.max = N and 4N. Executors are separate JVMs with separate
heaps and Python worker pools; shuffle crosses process boundaries through
the standalone shuffle service path, exactly like a multi-node cluster
minus the NIC. This is the closest the sandbox gets to the north rule's
executor axis (driver + master float on the remaining CPUs, as they would
on their own node).

Usage: python bench/standalone_scaling.py [--docs 200000] [--cores-n 4]
           [--out BENCH/STANDALONE.md]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import socket
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark

SPARK_DIR = os.path.dirname(pyspark.__file__)
# a full Spark distribution (RELEASE + jars) is required for the worker's
# executor command builder; prefer /opt/spark when it matches, else pyspark's
_DIST = "/opt/spark" if os.path.exists("/opt/spark/RELEASE") else SPARK_DIR
JARS = os.path.join(_DIST, "jars", "*")
MASTER_URL = "spark://127.0.0.1:7077"
CORPUS_PATH = "/tmp/dedup_bench_corpus"
WORK_ROOT = "/tmp/dedup_standalone"

_DRIVER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

cores_max = int(sys.argv[1])
b = (
    SparkSession.builder.appName(f"standalone-bench-{{cores_max}}")
    .master({master!r})
    .config("spark.cores.max", str(cores_max))
    .config("spark.executor.cores", "2")
    .config("spark.executor.memory", "5g")
    .config("spark.executor.extraJavaOptions",
            "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1")
    .config("spark.driver.memory", "8g")
    .config("spark.executorEnv.PYTHONPATH", {repo!r})
    .config("spark.pyspark.python", sys.executable)
    .config("spark.python.daemon.module", "dedup.worker_daemon")
    .config("spark.sql.shuffle.partitions", str(max(2 * cores_max, 8)))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16MB")
    .config("spark.sql.files.maxPartitionBytes", "32MB")
    .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    .config("spark.ui.enabled", "false")
)
spark = b.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

from dedup.config import DedupConfig
from dedup.lsh import candidate_pairs
from dedup.minhash import compute_bands, compute_signatures
from dedup.pipeline import exact_stage, key_docs
from dedup.session import materialize

df = spark.read.parquet({corpus!r})
n_files = df.count()

def job():
    keyed = key_docs(df)
    rep_docs, _ = exact_stage(keyed, need_pairs=False)
    sigs = compute_signatures(rep_docs, DedupConfig())
    bands = materialize(compute_bands(sigs, DedupConfig()), eager=False)
    pairs, _ = candidate_pairs(bands, DedupConfig())
    return pairs.count()

t0 = time.time(); n_pairs = job(); cold = time.time() - t0
walls = []
for _ in range(4):
    t0 = time.time()
    assert job() == n_pairs
    walls.append(time.time() - t0)
wall = min(walls)
print(json.dumps(dict(cores=cores_max, n_executors=cores_max // 2,
                      n_files=n_files, n_pairs=n_pairs,
                      cold_wall=round(cold, 2),
                      walls=[round(w, 2) for w in walls],
                      wall=round(wall, 2),
                      files_per_sec=round(n_files / wall, 1))))
spark.stop()
"""


def _wait_port(port: int, timeout: float = 30.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        with socket.socket() as s:
            if s.connect_ex(("127.0.0.1", port)) == 0:
                return
        time.sleep(0.3)
    raise RuntimeError(f"port {port} never opened")


def _java(cls: str, *args: str, pin: str | None = None,
          env_extra: dict | None = None) -> subprocess.Popen:
    cmd = ["java", "-cp", JARS, "-Xmx1g", cls, *args]
    if pin and os.path.exists("/usr/bin/taskset"):
        cmd = ["/usr/bin/taskset", "-c", pin] + cmd
    env = dict(os.environ)
    env["SPARK_HOME"] = _DIST
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    env["PYSPARK_PYTHON"] = sys.executable
    # raw-java launch bypasses load-spark-env.sh, which normally sets this;
    # without it the executor command builder hunts for build directories
    env["SPARK_SCALA_VERSION"] = "2.13"
    env.update(env_extra or {})
    log = open(os.path.join(WORK_ROOT, f"{cls.rsplit('.',1)[-1]}-{pin or 'x'}.log"),
               "w")
    return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)


def launch_cluster(n_workers: int = 8) -> list[subprocess.Popen]:
    """Master + n_workers 2-core workers, worker i pinned to CPUs 2i,2i+1."""
    shutil.rmtree(WORK_ROOT, ignore_errors=True)
    os.makedirs(WORK_ROOT, exist_ok=True)
    procs = [
        _java("org.apache.spark.deploy.master.Master",
              "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8090")
    ]
    _wait_port(7077)
    for i in range(n_workers):
        wd = os.path.join(WORK_ROOT, f"worker{i}")
        os.makedirs(wd, exist_ok=True)
        procs.append(
            _java(
                "org.apache.spark.deploy.worker.Worker",
                "--cores", "2", "--memory", "6g",
                "--port", str(40000 + i), "--webui-port", str(8100 + i),
                "--work-dir", wd, MASTER_URL,
                pin=f"{2 * i},{2 * i + 1}",
            )
        )
    time.sleep(5)  # registration
    return procs


def run_level(cores_max: int) -> dict:
    script = _DRIVER.format(repo=REPO, master=MASTER_URL, corpus=CORPUS_PATH)
    out = subprocess.run(
        [sys.executable, "-c", script, str(cores_max)],
        capture_output=True, text=True, timeout=3600,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"driver failed:\n{out.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200000)
    ap.add_argument("--cores-n", type=int, default=4,
                    help="N (cores) for the small level; 4N executors need "
                    "2*N workers' cores available")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "STANDALONE.md"))
    args = ap.parse_args()

    sys.path.insert(0, os.path.join(REPO, "bench"))
    from scaling import ensure_corpus

    ensure_corpus(args.docs)
    procs = launch_cluster(n_workers=args.cores_n * 4 // 2)
    try:
        lo = run_level(args.cores_n)
        hi = run_level(args.cores_n * 4)
    finally:
        for p in procs:
            p.terminate()
        for p in procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
    eff = (hi["files_per_sec"] / lo["files_per_sec"]) / 4
    result = dict(n=lo, n4=hi, scaling_efficiency=round(eff, 3))
    print(json.dumps(result))

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        f.write(
            "# BENCH — standalone-cluster scaling: N vs 4N executors\n\n"
            "Real Spark standalone master + eight 2-core worker daemons on\n"
            "localhost, each worker taskset-pinned to its own CPU pair, so an\n"
            "executor's compute budget is physically its own (separate JVM,\n"
            "heap, GC, Python worker pool; shuffle crosses process\n"
            "boundaries). Same MinHash+LSH job and deterministic corpus as\n"
            "BENCH/BASELINE.md, run as an application with spark.cores.max =\n"
            "N and 4N (executor.cores=2 → N/2 vs 2N executors). Steady state\n"
            "= best of 4 after one warm-up run. This is the sandbox's closest\n"
            "realization of the north rule's executor axis.\n\n"
            "| Run | Executors | Cores | Input rows | Wall (s) | files/sec | Scaling efficiency |\n"
            "|---|---|---|---|---|---|---|\n"
            f"| bench-N | {lo['n_executors']} x 2-core | {lo['cores']} | {lo['n_files']} | {lo['wall']} | {lo['files_per_sec']} | — |\n"
            f"| bench-4N | {hi['n_executors']} x 2-core | {hi['cores']} | {hi['n_files']} | {hi['wall']} | {hi['files_per_sec']} | {result['scaling_efficiency']} (target ≥ 0.8) |\n\n"
            f"candidate pairs found: N={lo['n_pairs']}, 4N={hi['n_pairs']} (must be equal)\n\n"
            f"raw: `{json.dumps(result)}`\n"
        )
    print(f"wrote {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
