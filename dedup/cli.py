"""spark-submit entrypoint: run the dedup pipeline over a corpus table.

    spark-submit --py-files dedup.zip dedup/cli.py \
        --input /path/to/corpus_parquet --output /path/to/warehouse \
        [--resume] [--shingle-k 5] [--num-perm 128] [--bands 16] [--rows 8]

Reads (repo, path, commit, lang, content) rows, writes `clusters`
(doc_key, cluster_id) plus checkpoint/metrics/lineage tables under --output.
Re-running with --output pointing at a previous (possibly killed) run resumes
from the signature checkpoints automatically.

With --stream, the input directory is consumed through Structured Streaming
(AvailableNow) with INCREMENTAL LSH candidate maintenance: re-invoking after
new corpus files land ingests only the new documents, bands only the new
signatures, and pairs them against the accumulated band state — per-run work
scales with the new data. Each micro-batch commits its state in one write
to the `stream_epochs` table, so a killed run replays its last micro-batch
and overwrites whatever that batch left; clusters are then updated from the
accumulated pairs.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="corpus parquet/iceberg path")
    ap.add_argument("--input-format", choices=["parquet", "iceberg"],
                    default="parquet",
                    help="'iceberg' treats --input as a catalog table name "
                    "(spark.read.table / spark.readStream.table — requires "
                    "the Iceberg runtime jar + catalog conf on spark-submit); "
                    "'parquet' (default) treats it as a directory path")
    ap.add_argument("--output", required=True, help="warehouse directory")
    ap.add_argument("--shingle-k", type=int, default=5)
    ap.add_argument("--num-perm", type=int, default=128)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--rows", type=int, default=8)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--jaccard-threshold", type=float, default=0.7)
    ap.add_argument("--master", default=None)
    ap.add_argument("--stream", action="store_true",
                    help="incremental Structured Streaming ingest (AvailableNow)")
    ap.add_argument("--write-cleaned", action="store_true",
                    help="also write `corpus_cleaned` — one representative "
                    "document per near-dup cluster (the deduplicated corpus "
                    "a downstream trainer consumes)")
    ap.add_argument("--substring", action="store_true",
                    help="also run the exact long-substring pass; in "
                    "--stream mode it is INCREMENTAL (only newly ingested "
                    "docs are fingerprinted and paired against the "
                    "accumulated state; requires --input to retain ingested "
                    "files, like --write-cleaned). Pairs land in the "
                    "`stream_substring_pairs` / `substring_pairs` table")
    ap.add_argument("--repo-similarity", action="store_true",
                    help="also write `repo_similarity` + "
                    "`repo_similarity_audit` — per-repo-pair shared-sha "
                    "containment/Jaccard (fork / vendored-copy detection) "
                    "with the boilerplate-cap conservation audit; reads the "
                    "corpus like --write-cleaned (stream mode requires "
                    "--input to retain ingested files)")
    ap.add_argument("--stream-checkpoint", default=None,
                    help="streaming checkpoint dir (default: <output>/_stream_ckpt)")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="durable dir (HDFS/object store) for RELIABLE "
                    "materialization of multi-consumer intermediates; "
                    "without it they localCheckpoint to executor storage, "
                    "which a lost executor takes down (see "
                    "session.materialize)")
    args = ap.parse_args(argv)

    from dedup.config import DedupConfig
    from dedup.pipeline import run_dedup
    from dedup.session import get_spark
    from dedup.warehouse import Warehouse

    cfg = DedupConfig(
        shingle_k=args.shingle_k,
        num_perm=args.num_perm,
        bands=args.bands,
        rows_per_band=args.rows,
        seed=args.seed,
        jaccard_threshold=args.jaccard_threshold,
    )
    spark = get_spark("dedup-cli", master=args.master)
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
    wh = Warehouse(spark, args.output)

    def read_corpus():
        if args.input_format == "iceberg":
            return spark.read.table(args.input)
        return spark.read.parquet(args.input)

    if args.stream:
        from dedup.streaming import ingest_stream, stream_clusters

        ckpt = args.stream_checkpoint or f"{args.output}/_stream_ckpt"
        ingest_stream(spark, args.input, wh, cfg, ckpt,
                      input_format=args.input_format)
        # same warehouse contract as batch mode: the clusters table is
        # (re)written under --output after every ingest round
        wh.write(stream_clusters(spark, wh, cfg), "clusters", cfg.config_hash())
        clusters = wh.read("clusters")
        if args.substring:
            from dedup.streaming import stream_substring_pairs

            stream_substring_pairs(spark, wh, cfg, read_corpus())
    else:
        df = read_corpus()
        clusters = run_dedup(spark, df, cfg, warehouse=wh)
        if args.substring:
            from dedup.pipeline import exact_stage, key_docs
            from dedup.suffix import substring_pairs

            # need_pairs=False: the exact pairs were already folded and
            # persisted inside run_dedup — this pass only needs the reps
            reps, _ = exact_stage(key_docs(df), need_pairs=False)
            wh.write(substring_pairs(reps, cfg), "substring_pairs",
                     cfg.config_hash())
    if args.write_cleaned:
        from dedup.pipeline import (cleaned_corpus, cleaned_corpus_from_present,
                                    key_docs)

        if args.stream:
            # stream mode does not retain corpus rows in the warehouse; the
            # output pass re-reads the (accumulated) input dir. Labels
            # persist across rounds, so a cluster's canonical rep may have
            # been removed/compacted from --input since it was ingested —
            # re-canonicalize over the members actually present so the
            # cluster keeps its next-present member instead of vanishing
            # (ADVICE r5; ≡ cleaned_corpus when all inputs are retained)
            df = read_corpus()
            kept = cleaned_corpus_from_present(key_docs(df), wh.read("clusters"))
        else:
            kept = cleaned_corpus(key_docs(df), wh.read("clusters"))
        wh.write(kept, "corpus_cleaned", cfg.config_hash())
    if args.repo_similarity:
        from dedup.pipeline import (key_docs, repo_sha_sets,
                                    repo_shared_content,
                                    repo_shared_content_audit)

        keyed = key_docs(read_corpus())
        # one content scan + sha2 for both tables
        ds = repo_sha_sets(keyed)
        wh.write(repo_shared_content(keyed, ds=ds), "repo_similarity",
                 cfg.config_hash())
        wh.write(repo_shared_content_audit(keyed, ds=ds),
                 "repo_similarity_audit", cfg.config_hash())
    n = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    print(f"docs={n} clusters={n_clusters} warehouse={args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
