"""The workloads. Each drives only the public entry points, called through
their modules so the traced run's wrappers apply:
`dedup.pipeline.run_dedup`, `dedup.streaming.ingest_stream` /
`stream_clusters`, and `dedup.warehouse.Warehouse`."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

import dedup.pipeline
import dedup.streaming
from dedup.warehouse import Warehouse
from perfbench.checks import check_batch, check_stream
from perfbench.stage import CFG, stage_batch, stage_stream
from perfbench.trace import ROOT, Tracer

BATCH_DOCS = 4000
STREAM_BASE = 600     # docs in the template's accumulated state
STREAM_ROUNDS = 2     # 12-18 s each on a 4-core host, whatever the slice size
SLICE_DOCS = 25


@dataclass
class Outcome:
    walls: list[float] = field(default_factory=list)  # per passed round
    attempted: int = 0
    failed: int = 0


def _labels(df) -> dict[str, str]:
    return {r[0]: r[1] for r in df.select("doc_key", "cluster_id").collect()}


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    """One op is one CLI invocation: a batch run, or all stream rounds."""

    def __init__(self, spark: SparkSession, inputs, scratch: str):
        self.spark = spark
        self.inputs = inputs
        self.scratch = scratch
        self.tracer: Tracer | None = None

    @staticmethod
    def stage(out_dir: str, seed: int):
        return stage_batch(out_dir, seed, BATCH_DOCS)

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self) -> Outcome:
        raise NotImplementedError

    def _warehouse(self, root: str) -> Warehouse:
        wh = Warehouse(self.spark, root)
        if self.tracer is not None:
            self.tracer.wrap_warehouse(wh)
        return wh

    @contextmanager
    def _timed(self, walls: list[float]):
        """Appends the block's wall time; opens the root span when traced."""
        t0 = time.perf_counter()
        if self.tracer is None:
            yield
        else:
            with self.tracer.span(ROOT, ROOT):
                yield
        walls.append(time.perf_counter() - t0)

    def _run_dedup(self, corpus: str, wh_root: str | None,
                   walls: list[float]) -> dict[str, str]:
        """The CLI batch path: read the corpus, run_dedup, collect labels."""
        wh = self._warehouse(wh_root) if wh_root else None
        with self._timed(walls):
            df = self.spark.read.parquet(corpus)
            return _labels(dedup.pipeline.run_dedup(self.spark, df, CFG,
                                                    warehouse=wh))

    def _checked_batch(self, wh_root: str | None) -> Outcome:
        walls: list[float] = []
        labels = self._run_dedup(self.inputs.corpus, wh_root, walls)
        problems = check_batch(labels, self.inputs.ref_clusters)
        if problems:
            print(f"perfbench: check failed: {problems}", file=sys.stderr)
            return Outcome(attempted=1, failed=1)
        return Outcome(walls=walls, attempted=1)


class BatchMem(Workload):
    name = "batch_mem"

    def warm_up(self) -> None:
        self._run_dedup(self.inputs.warm, None, [])

    def op(self) -> Outcome:
        return self._checked_batch(None)


class BatchFresh(Workload):
    name = "batch_fresh"

    def warm_up(self) -> None:
        self._run_dedup(self.inputs.warm, _fresh_dir(self._wh), [])

    @property
    def _wh(self) -> str:
        return os.path.join(self.scratch, "wh")

    def op(self) -> Outcome:
        shutil.rmtree(self._wh, ignore_errors=True)
        return self._checked_batch(self._wh)


class BatchResume(Workload):
    name = "batch_resume"

    @property
    def _template(self) -> str:
        return os.path.join(self.scratch, "template")

    def warm_up(self) -> None:
        # the warm-up builds the prior warehouse: a fresh run over the corpus
        # minus the seed-chosen tenth, so its signature checkpoint lacks
        # exactly that tenth
        self._run_dedup(self.inputs.resume_base, _fresh_dir(self._template), [])

    def op(self) -> Outcome:
        wh = os.path.join(self.scratch, "wh")
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(self._template, wh)
        return self._checked_batch(wh)


class StreamRounds(Workload):
    name = "stream_rounds"

    @staticmethod
    def stage(out_dir: str, seed: int):
        return stage_stream(out_dir, seed, STREAM_BASE, STREAM_ROUNDS,
                            SLICE_DOCS)

    @property
    def _template(self) -> str:
        return os.path.join(self.scratch, "template")

    @property
    def _live(self) -> str:
        return os.path.join(self.scratch, "stream")

    def warm_up(self) -> None:
        # the template is the accumulated state: the base landed and
        # ingested as one round, which is also the warm-up run. It is built
        # in place at the live path, because the stream checkpoint records
        # absolute file paths, then copied. As with the CLI, where each
        # round is a new process, the first timed round of an op is the
        # first to run the branches that only fire once state exists.
        shutil.rmtree(self._live, ignore_errors=True)
        os.makedirs(os.path.join(self._live, "in"))
        self._rounds([self.inputs.base], None)
        shutil.rmtree(self._template, ignore_errors=True)
        shutil.copytree(self._live, self._template)

    def _restore(self) -> None:
        shutil.rmtree(self._live, ignore_errors=True)
        shutil.copytree(self._template, self._live)

    def op(self) -> Outcome:
        self._restore()
        return self._rounds(self.inputs.slices, self.inputs.slice_keys)

    def _rounds(self, slices: list[str],
                keys: list[set[str]] | None) -> Outcome:
        """The CLI `--stream` unit, once per slice, on the live directory:
        land the slice as a new parquet file, ingest (AvailableNow), rewrite
        `clusters`, read it back. Without keys nothing is checked and any
        error propagates."""
        in_dir = os.path.join(self._live, "in")
        ckpt = os.path.join(self._live, "stream_ckpt")
        wh = self._warehouse(os.path.join(self._live, "wh"))
        res, ingested = Outcome(attempted=len(slices)), set(self.inputs.base_keys)
        first = len(os.listdir(in_dir))
        for k, src in enumerate(slices):
            shutil.copyfile(src, os.path.join(in_dir,
                                              f"part-{first + k:05d}.parquet"))
            wall: list[float] = []
            try:
                with self._timed(wall):
                    dedup.streaming.ingest_stream(self.spark, in_dir, wh, CFG,
                                                  ckpt)
                    wh.write(dedup.streaming.stream_clusters(self.spark, wh, CFG),
                             "clusters", CFG.config_hash())
                    labels = _labels(wh.read("clusters"))
            except Exception:
                if keys is None:
                    raise
                traceback.print_exc()
                res.failed += len(slices) - k
                break
            if keys is None:
                continue
            ingested |= keys[k]
            problems = check_stream(labels, ingested, self.inputs.ref_pairs)
            if problems:
                print(f"perfbench: round {k} check failed: {problems}",
                      file=sys.stderr)
                res.failed += 1
            else:
                res.walls += wall
        return res


WORKLOADS = {w.name: w for w in (BatchMem, BatchFresh, BatchResume,
                                 StreamRounds)}
