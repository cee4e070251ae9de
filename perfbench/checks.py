"""Output checks. Each returns a list of problems; an empty list passes."""

from __future__ import annotations

from collections import defaultdict
from typing import Iterable


def check_batch(labels: dict[str, str], ref: dict[str, str]) -> list[str]:
    """Batch labels must equal the reference pipeline's canonical labels."""
    problems = []
    if labels.keys() != ref.keys():
        missing = len(ref.keys() - labels.keys())
        extra = len(labels.keys() - ref.keys())
        problems.append(f"doc set differs: {missing} missing, {extra} extra")
    wrong = sum(1 for k, c in labels.items() if k in ref and ref[k] != c)
    if wrong:
        problems.append(f"{wrong} docs carry a label other than the reference")
    return problems


def check_stream(labels: dict[str, str], ingested: set[str],
                 ref_pairs: Iterable[tuple[str, str]]) -> list[str]:
    """Stream labels after a round: every ingested doc is labelled, every
    reference exact or verified pair whose docs are both ingested shares a
    cluster, and every cluster_id is its cluster's minimum member."""
    problems = []
    if labels.keys() != ingested:
        missing = len(ingested - labels.keys())
        extra = len(labels.keys() - ingested)
        problems.append(f"labelled set differs: {missing} missing, {extra} extra")
    split = sum(
        1 for a, b in ref_pairs
        if a in labels and b in labels and labels[a] != labels[b]
    )
    if split:
        problems.append(f"{split} reference pairs split across clusters")
    members: dict[str, list[str]] = defaultdict(list)
    for k, c in labels.items():
        members[c].append(k)
    not_min = sum(1 for c, ks in members.items() if min(ks) != c)
    if not_min:
        problems.append(f"{not_min} cluster ids are not their minimum member")
    return problems
