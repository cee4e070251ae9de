"""Seeded benchmark inputs, written as parquet: the program sees only files.

The seed fixes everything: the corpus (`dedup.fixtures.make_corpus_fast`:
~70% unique docs, ~10% exact copies, ~20% near copies, one giant repo with
~30% of rows), the row order the stream slices are cut from, the tenth of
the documents the resume template leaves unsigned, and the reference output
every result is checked against. The reference runs here, outside every
timed region. A small separate corpus feeds the batch warm-up."""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dedup.config import DedupConfig
from dedup.fixtures import make_corpus_fast
from dedup.reference_impl import reference_pipeline

CFG = DedupConfig()  # engine defaults, as the CLI runs them
WARM_DOCS = 120


@dataclass
class BatchInputs:
    n_docs: int
    corpus: str              # one parquet file
    resume_base: str         # the corpus minus the seed-chosen tenth
    warm: str                # small corpus for the warm-up op
    ref_clusters: dict[str, str]   # doc_key -> canonical cluster id


@dataclass
class StreamInputs:
    n_docs: int              # docs the timed rounds land
    base: str                # the state the template ingests before round 1
    base_keys: set[str]
    slices: list[str]        # landed one per round
    slice_keys: list[set[str]]     # doc_keys each slice lands
    ref_pairs: set[tuple[str, str]]  # reference exact + verified pairs


def _write(df: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def _corpus(seed: int, n_docs: int, rng: np.random.Generator) -> pd.DataFrame:
    corpus = make_corpus_fast(n_docs, seed=seed)
    # shuffled, so any contiguous slice mixes originals with their copies
    return corpus.iloc[rng.permutation(len(corpus))].reset_index(drop=True)


def _warm(seed: int) -> pd.DataFrame:
    return make_corpus_fast(WARM_DOCS, seed=seed + 1_000_003)


def stage_batch(out_dir: str, seed: int, n_docs: int) -> BatchInputs:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    corpus = _corpus(seed, n_docs, rng)
    keep = np.ones(len(corpus), dtype=bool)
    keep[rng.choice(len(corpus), size=len(corpus) // 10, replace=False)] = False
    return BatchInputs(
        n_docs=len(corpus),
        corpus=_write(corpus, os.path.join(out_dir, "corpus.parquet")),
        resume_base=_write(corpus[keep],
                           os.path.join(out_dir, "resume_base.parquet")),
        warm=_write(_warm(seed), os.path.join(out_dir, "warm.parquet")),
        ref_clusters=reference_pipeline(corpus, CFG)["clusters"],
    )


def stage_stream(out_dir: str, seed: int, n_base: int, n_rounds: int,
                 slice_docs: int) -> StreamInputs:
    """One shuffled corpus: the first `n_base` rows are the accumulated
    state, then `n_rounds` slices of `slice_docs` rows, one per round. The
    shuffle spreads copies across the base and the slices, so later rounds
    fold into and cluster with docs already ingested."""
    os.makedirs(out_dir, exist_ok=True)
    corpus = _corpus(seed, n_base + n_rounds * slice_docs,
                     np.random.default_rng(seed))
    ref = reference_pipeline(corpus, CFG)
    keys = ref["doc_keys"]
    slices, slice_keys = [], []
    for r in range(n_rounds):
        lo = n_base + r * slice_docs
        hi = lo + slice_docs
        slices.append(_write(corpus.iloc[lo:hi],
                             os.path.join(out_dir, f"slice-{r:03d}.parquet")))
        slice_keys.append(set(keys[lo:hi]))
    return StreamInputs(
        n_docs=n_rounds * slice_docs,
        base=_write(corpus.iloc[:n_base],
                    os.path.join(out_dir, "base.parquet")),
        base_keys=set(keys[:n_base]),
        slices=slices,
        slice_keys=slice_keys,
        ref_pairs=set(ref["exact_pairs"]) | set(ref["verified_pairs"]),
    )
