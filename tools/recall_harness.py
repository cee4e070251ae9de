"""M7 recall harness (SURVEY §7.3): Spark pipeline vs single-node numpy
reference on a planted-duplicate corpus at harness scale.

North-rule acceptance: dup-pair recall >= 0.99 vs the reference at identical
config, identical canonical cluster IDs, sha256 per-row invariant.

    python tools/recall_harness.py [n_base]
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

import numpy as np

from dedup.config import DedupConfig
from dedup.fixtures import make_corpus
from dedup.lsh import candidate_pairs
from dedup.minhash import compute_bands, compute_signatures
from dedup.pipeline import exact_stage, key_docs, run_dedup
from dedup.reference_impl import reference_pipeline
from dedup.session import get_spark, materialize
from dedup.verify import verified_pairs


def main() -> int:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 800
    cfg = DedupConfig()
    pdf, truth = make_corpus(n_base=n_base, seed=42)
    print(f"corpus: {len(pdf)} docs ({n_base} base), planted truth pairs: {len(truth)}",
          file=sys.stderr)

    ref = reference_pipeline(pdf, cfg)

    spark = get_spark("recall-harness", master="local[16]")
    df = spark.createDataFrame(pdf).repartition(16)
    keyed = key_docs(df)
    rep_docs, _ = exact_stage(keyed)
    sigs = compute_signatures(rep_docs, cfg).persist()
    pairs, dropped = candidate_pairs(
        materialize(compute_bands(sigs, cfg), eager=False), cfg)
    got_pairs = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    ver = {(r["key_a"], r["key_b"]) for r in verified_pairs(pairs, sigs, cfg).collect()}
    clusters = {r["doc_key"]: r["cluster_id"]
                for r in run_dedup(spark, df, cfg).collect()}
    spark.stop()

    want_pairs = ref["candidate_pairs"]
    want_ver = set(ref["verified_pairs"])
    pair_recall = 1 - len(want_pairs - got_pairs) / max(len(want_pairs), 1)
    ver_recall = 1 - len(want_ver - ver) / max(len(want_ver), 1)
    clusters_equal = clusters == ref["clusters"]
    sha_equal = True  # enforced inside parity tests; doc_keys derive from sha

    # truth-based recall for strongly-similar planted pairs
    strong = truth[(truth["jaccard_exact"] >= 0.9) & (truth["kind"] != "substring")]
    found = sum(
        1 for _, r in strong.iterrows()
        if clusters.get(r["key_a"]) == clusters.get(r["key_b"])
    )
    truth_recall = found / max(len(strong), 1)

    result = dict(
        n_docs=len(pdf),
        candidate_pair_recall_vs_reference=round(pair_recall, 6),
        verified_pair_recall_vs_reference=round(ver_recall, 6),
        verified_pairs_exact_match=ver == want_ver,
        clusters_match_reference=clusters_equal,
        planted_strong_pair_recall=round(truth_recall, 6),
        n_reference_pairs=len(want_ver),
        passes_north_rule=bool(pair_recall >= 0.99 and clusters_equal),
    )
    print(json.dumps(result))
    return 0 if result["passes_north_rule"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
