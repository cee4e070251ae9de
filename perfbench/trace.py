"""Span recorder for the traced run.

Wrappers are installed on the module attributes the entry points call
(`dedup.pipeline`, `dedup.streaming`, `dedup.cluster`) and on the
`Warehouse` instance the benchmark passes in; the engine's source is not
edited. Each wrapper records a span (name, layer, start, end, parent) and
forces every DataFrame the call returns with
`materialize(..., eager=True)`, so the span covers execution rather than
lazy plan building. Row counts are taken by probes that run outside the
layer spans, inside probe spans whose Spark jobs the event-log parser
leaves out of every layer.
"""

from __future__ import annotations

import functools
import inspect
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import dedup.cluster
import dedup.pipeline
import dedup.streaming
from dedup.session import materialize
from dedup.warehouse import Warehouse

PROBE = "probe"
ROOT = "run"

# (module, attribute, layer): every call the shipped paths make into a layer
MODULE_LAYERS = [
    (dedup.pipeline, "exact_stage", "exact"),
    (dedup.pipeline, "signatures_with_resume", "signatures"),
    (dedup.pipeline, "candidate_pairs", "lsh"),
    (dedup.pipeline, "verified_pairs", "verify"),
    (dedup.pipeline, "connected_components", "cluster"),
    (dedup.pipeline, "attach_singletons", "cluster"),
    (dedup.streaming, "exact_stage", "exact"),
    (dedup.streaming, "signatures_with_resume", "signatures"),
    (dedup.streaming, "candidate_pairs", "lsh"),
    (dedup.streaming, "verified_pairs", "verify"),
    (dedup.streaming, "ingest_stream", "stream_ingest"),
    (dedup.streaming, "stream_clusters", "stream_cluster"),
    # stream_clusters imports these from dedup.cluster at call time
    (dedup.cluster, "connected_components", "cluster"),
    (dedup.cluster, "attach_singletons", "cluster"),
]
WAREHOUSE_METHODS = ["write", "append", "read", "record_metrics",
                     "record_lineage"]
LAYERS = ["exact", "signatures", "lsh", "verify", "cluster", "warehouse",
          "stream_ingest", "stream_cluster"]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float          # epoch ms, the clock Spark's event log uses
    end: float = 0.0
    parent: int | None = None
    rows_out: int = 0


@dataclass
class Counters:
    """Counts taken by probes, summed over the traced op."""
    docs_into_exact: int = 0
    docs_signed: int = 0
    dropped_slots: int = 0
    driver_cc_calls: int = 0
    files_written: int = 0
    bytes_written: int = 0


def _now_ms() -> float:
    return time.time() * 1000.0


def _force(out):
    if isinstance(out, DataFrame):
        return materialize(out, eager=True)
    if isinstance(out, tuple):
        return tuple(_force(x) for x in out)
    return out


def _first_frame(out) -> DataFrame | None:
    if isinstance(out, DataFrame):
        return out
    if isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
        return out[0]
    return None


def _parquet_files(path: str) -> dict[str, int]:
    if not os.path.isdir(path):
        return {}
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    }


def _checkpoint_rows(wh: Warehouse, table: str, cfg) -> int:
    if not wh.exists(table):
        return 0
    # the class method, not the instance attribute: probes stay unwrapped
    df = Warehouse.read(wh, table).where(
        (F.col("stage") == dedup.pipeline.SIG_STAGE)
        & (F.col("config_hash") == cfg.config_hash())
    )
    return int(df.agg(F.coalesce(F.sum("n"), F.lit(0))).collect()[0][0])


def _table_rows(wh: Warehouse, table: str) -> int:
    return Warehouse.read(wh, table).count() if wh.exists(table) else 0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counters = Counters()
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        with self._lock:
            sp = Span(len(self.spans), name, layer, _now_ms(),
                      parent=self._stack[-1] if self._stack else None)
            self.spans.append(sp)
            self._stack.append(sp.id)
        try:
            yield sp
        finally:
            with self._lock:
                sp.end = _now_ms()
                self._stack.remove(sp.id)

    def probe(self):
        return self.span(PROBE, PROBE)

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        for mod, attr, layer in MODULE_LAYERS:
            self._patch(mod, attr, self._wrap(getattr(mod, attr), attr, layer))
        self._patch(dedup.cluster, "numpy_connected_components",
                    self._count_driver_cc(dedup.cluster.numpy_connected_components))

    def wrap_warehouse(self, wh: Warehouse) -> None:
        for name in WAREHOUSE_METHODS:
            setattr(wh, name,
                    self._wrap(getattr(wh, name), f"Warehouse.{name}",
                               "warehouse", wh=wh))

    def uninstall(self) -> None:
        for obj, attr, old in reversed(self._undo):
            setattr(obj, attr, old)
        self._undo.clear()

    def _patch(self, obj, attr: str, new) -> None:
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def _count_driver_cc(self, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            self.counters.driver_cc_calls += 1
            return fn(*a, **kw)
        return wrapper

    def _wrap(self, fn, name: str, layer: str, wh: Warehouse | None = None):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            args = sig.bind(*a, **kw)
            args.apply_defaults()
            args = args.arguments
            before = self._before(name, args, wh)
            with self.span(name, layer) as sp:
                out = _force(fn(*a, **kw))
            self._after(sp, name, args, wh, before, out)
            return out

        return wrapper

    # -- probes --------------------------------------------------------------
    def _before(self, name: str, args: dict, wh: Warehouse | None):
        if name == "signatures_with_resume" and args["wh"] is not None:
            with self.probe():
                return _checkpoint_rows(args["wh"], args["table"], args["cfg"])
        if name == "ingest_stream":
            with self.probe():
                return _table_rows(args["wh"], "stream_doc_keys")
        if name in ("Warehouse.write", "Warehouse.append"):
            return _parquet_files(os.path.join(wh.root, args["name"]))
        return None

    def _after(self, sp: Span, name: str, args: dict, wh: Warehouse | None,
               before, out) -> None:
        c = self.counters
        if wh is not None:
            # rows written come from the event log's output metrics
            if name in ("Warehouse.write", "Warehouse.append"):
                after = _parquet_files(os.path.join(wh.root, args["name"]))
                new = [f for f in after if f not in before]
                c.files_written += len(new)
                c.bytes_written += sum(after[f] for f in new)
            return
        if name == "ingest_stream":
            with self.probe():
                sp.rows_out = _table_rows(args["wh"], "stream_doc_keys") - before
            return
        frame = _first_frame(out)
        if frame is None:
            return
        with self.probe():
            sp.rows_out = frame.count()
            if name == "exact_stage":
                c.docs_into_exact += args["keyed"].count()
            elif name == "signatures_with_resume":
                if args["wh"] is None:
                    c.docs_signed += sp.rows_out
                else:
                    c.docs_signed += _checkpoint_rows(
                        args["wh"], args["table"], args["cfg"]) - before
            elif name == "candidate_pairs":
                c.dropped_slots += int(out[1].agg(F.coalesce(
                    F.sum(F.expr("bucket_size * (bucket_size - 1) DIV 2")),
                    F.lit(0))).collect()[0][0])
