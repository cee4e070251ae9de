"""End-to-end and per-layer benchmark of the shipped dedup paths.

    python3 perfbench/run.py --workload batch_fresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py                              # every workload

Run from the repository root. Inputs are staged from --seed, the session
runs at local[<cores>], one untimed warm-up op ends set-up, then ops repeat
until --seconds have passed. With --trace 1 the run instead makes an
untraced, a traced and, time permitting, another untraced op and reports
per-layer metrics from the span recorder and Spark's event log. A
human-readable report precedes the last stdout line, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# the JSON line carries these for every workload; round latencies (stream
# only) and ops_failed_ratio (0 on a healthy tree) are printed in the report
END_TO_END = [
    ("setup_s", "s"), ("run_wall_s", "s"), ("docs_per_s", "docs/s"),
    ("peak_rss_mb", "MB"),
]
DRIVER_WORKLOADS = ["batch_fresh", "stream_rounds"]
# a run must end within 180 s; the traced run's last untraced op is skipped
# when it would end later than this
TRACE_DEADLINE_S = 150
ALL_WORKLOADS = ["batch_mem", "batch_fresh", "batch_resume", "stream_rounds"]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with fewer than eleven samples none has, and the
    maximum (p100) stands in."""
    v = sorted(values)
    n = len(v)
    if n >= 11:
        return v[n - 11], 100.0 * (n - 10) / n
    return v[-1], 100.0


def _isolate_scratch(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout: Python and JVM
    temp files and Spark's block-manager directories. HotSpot writes its
    perf-data file under /tmp whatever java.io.tmpdir says, so it is off."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip())


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _event_log(log_dir: str) -> list[str]:
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log, found {names}")
    with open(os.path.join(log_dir, names[0])) as f:
        return f.readlines()


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate_scratch(run_dir)

    from dedup.session import get_spark
    from perfbench import host
    from perfbench.eventlog import PER_LAYER, layer_report, parse_event_log
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[workload]
    inputs = cls.stage(os.path.join(run_dir, "inputs"), seed)
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    cores = host.nproc()

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = cls(spark, inputs, os.path.join(run_dir, "scratch"))
        wl.warm_up()
        setup_s = time.perf_counter() - t0

        outcomes, peaks = [], []
        window = [time.time() * 1000.0]
        cpu0 = host.cpu_times()
        with host.TreeRss() as rss:
            def one_op():
                rss.reset()
                try:
                    out = wl.op()
                except Exception:
                    traceback.print_exc()
                    out = None
                peaks.append(rss.peak_mb())
                outcomes.append(out)
                return out

            if trace:
                # untraced ops on both sides of the traced one, so the
                # overhead estimate does not absorb warm-up drift: the first
                # op after the warm-up still compiles plans for its sizes
                one_op()
                tracer = Tracer()
                wl.tracer = tracer
                tracer.install()
                t = time.perf_counter()
                try:
                    one_op()
                finally:
                    tracer.uninstall()
                    wl.tracer = None
                now = time.perf_counter()
                if now - STARTED + (now - t) < TRACE_DEADLINE_S:
                    one_op()
            else:
                start = time.perf_counter()
                while True:
                    t = time.perf_counter()
                    one_op()
                    now = time.perf_counter()
                    if now - start + (now - t) > seconds:
                        break
        window.append(time.time() * 1000.0)
        steal = host.steal_pct(cpu0, host.cpu_times())
    finally:
        _stop_spark(spark)

    jobs = parse_event_log(_event_log(log_dir))
    attempted = sum(o.attempted if o else 1 for o in outcomes)
    failed = sum(o.failed if o else 1 for o in outcomes)
    annotation = {
        "nproc": cores,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "steal_pct": round(steal, 3),
        "spark_jobs": sum(window[0] <= j.submit <= window[1] for j in jobs),
        "ops": len(outcomes),
        "docs_per_op": inputs.n_docs,
    }
    extra = [("ops_failed_ratio", failed / attempted, "ratio")]
    if trace:
        if any(o is None or o.failed for o in outcomes):
            raise RuntimeError("every op of the traced run must pass")
        untraced = [sum(o.walls) for k, o in enumerate(outcomes) if k != 1]
        metrics = layer_report(jobs, tracer.spans, tracer.counters, cores,
                               untraced_wall_s=statistics.mean(untraced))
        units = dict(PER_LAYER)
    else:
        op_walls = [sum(o.walls) for o in outcomes if o and not o.failed]
        if not op_walls:
            raise RuntimeError("no op passed its output check")
        run_wall = statistics.median(op_walls)
        metrics = {
            "setup_s": setup_s,
            "run_wall_s": run_wall,
            "docs_per_s": inputs.n_docs / run_wall,
            "peak_rss_mb": statistics.median(peaks),
        }
        units = dict(END_TO_END)
        if workload == "stream_rounds":
            rounds = [w for o in outcomes if o for w in o.walls]
            tail_v, tail_p = tail(rounds)
            extra[:0] = [("round_latency_p50_s", statistics.median(rounds), "s"),
                         ("round_latency_tail_s", tail_v, "s")]
            annotation["round_latency_tail_percentile"] = tail_p
            annotation["round_walls_s"] = [round(w, 3) for w in rounds]
    return {
        "workload": workload,
        "annotation": annotation,
        "extra": extra,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        },
    }


def report(rep: dict) -> None:
    """The JSON's metrics with units, then the report-only ones."""
    print(f"== {rep['workload']}")
    rows = [(name, m["value"], m["unit"])
            for name, m in rep["result"]["metrics"].items()] + rep["extra"]
    for name, v, unit in rows:
        shown = f"{v:.4f}" if isinstance(v, float) and not math.isnan(v) else v
        print(f"  {name:<34} {shown:>14} {unit}")
    print("  host " + json.dumps(rep["annotation"], sort_keys=True))


def run_all(args) -> int:
    """Each workload in its own process, so each pays its own set-up."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in ALL_WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {wl} exited {proc.returncode}",
                  file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update(
            {f"{wl}.{k}": v for k, v in res["metrics"].items()})
    wall = {wl: merged["metrics"][f"{wl}.run_wall_s"]["value"]
            for wl in ALL_WORKLOADS}
    print("== ROADMAP direction 1, run_wall_s ratios")
    for a, b in [("batch_fresh", "batch_mem"), ("batch_resume", "batch_fresh")]:
        print(f"  {a} / {b:<24} {wall[a] / wall[b]:>14.4f}")
    print(json.dumps(merged))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=ALL_WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dedup", "__init__.py")):
        print(f"perfbench: no dedup package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    try:
        rep = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    report(rep)
    print(json.dumps(rep["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
