"""Stage orchestration: corpus → exact dups → signatures → LSH → verify →
union-find clusters, with per-stage checkpointing and mid-stage resume.

Stage graph (M1..M5 of SURVEY §7.3):

    corpus (repo, path, commit, lang, content)
      └─ key_docs: doc_key = sha2(identity), content_sha = sha2(content)   [JVM]
          ├─ exact_dups: groupBy(content_sha) → representatives + exact pairs
          ├─ signatures: mapInPandas kernel pass over REPRESENTATIVES only
          │     └─ kernel runs once into a lineage cut that keeps its bands,
          │        appended as per-partition SignatureBlock sketch rows;
          │        resume anti-joins done keys, signs only the rest, and
          │        decodes prior blocks with their bands recomputed
          ├─ bands → candidate_pairs (capped + salted, buckets.py)
          ├─ verified_pairs (zip_with/aggregate, verify.py)
          └─ connected_components (star contraction, cluster.py) → clusters

Only representatives flow through MinHash: verbatim copies (the 10^12-file
scale's bulk) are folded by the exact stage first — the cheapest skew defense
(SURVEY §7.4-2). Exact-dup members inherit their representative's cluster
through the exact edges.
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dedup.buckets import audit, dropped_slots, self_join
from dedup.cluster import attach_singletons, connected_components
from dedup.config import DedupConfig
from dedup.lsh import candidate_pairs
from dedup.session import materialize
from dedup.minhash import (
    SIGNATURE_BANDS_SCHEMA,
    compute_bands,
    compute_signatures,
    with_doc_key,
)
from dedup.sketches import MAGIC, SER_VER, SignatureBlock, band_hashes
from dedup.verify import verified_pairs
from dedup.warehouse import CHECKPOINT_SCHEMA, Warehouse, metrics_row

SIG_STAGE = "signatures"


def key_docs(df: DataFrame, key_cols: list[str] | None = None,
             content_col: str = "content") -> DataFrame:
    key_cols = key_cols or ["repo", "path", "commit"]
    return with_doc_key(df, key_cols, content_col)


def signature_input(rep_docs: DataFrame, cfg: DedupConfig,
                    content_col: str = "content") -> DataFrame:
    """Representatives that proceed to the signature stages: content shorter
    than cfg.min_content_len is skipped (still exact-deduped upstream; docs
    left without edges become singletons in attach_singletons). Mirrored
    bit-for-bit by reference_impl.reference_pipeline."""
    if cfg.min_content_len <= 0:
        return rep_docs
    return rep_docs.where(
        F.length(F.coalesce(F.col(content_col), F.lit(""))) >= cfg.min_content_len
    )


def exact_stage(keyed: DataFrame, sha_stored: bool = False,
                need_pairs: bool = True) -> tuple[DataFrame, DataFrame]:
    """→ (representatives, exact_pairs). Representative = min doc_key per
    content_sha.

    SKEW-SAFE, SINGLE-HASH FORMULATION (VERDICT r3 #1 + r4 #1). The fold is
    computed entirely on a pruned (content_sha, doc_key) projection:

      keys   = keyed[content_sha, doc_key]            (materialized once if
                                                       content_sha is computed)
      reps   = keys.groupBy(content_sha).min(doc_key) — map-side-combinable:
               partial aggregation absorbs any hot sha (empty files, license
               boilerplate — the dominant mass at verbatim-copy scale)
               BEFORE its rows ever shuffle
      pairs  = keys ⋈ reps on content_sha             — 2-column rows only;
               the one sha-skewed join carries no content, and AQE's
               skew-join splitting can split it freely
      reps'  = reps as (doc_key, content_sha)
      rep_docs = keyed∖{content_sha} ⋈ reps' on doc_key — the ONLY join that
               carries content joins on doc_key, which is UNIQUE per row
               (ingest invariant: one row per (repo, path, commit)): zero
               skew by construction, and content_sha is re-attached from
               the tiny side instead of recomputed.

    sha2(content) cost: when `sha_stored` (content_sha persisted at ingest,
    warehouse.ingest_corpus), ZERO hash passes — the pruned scan reads 64
    chars/row. When content_sha is computed on the fly (driver parquet has
    no stored sha), the keys projection is materialized (localCheckpoint /
    reliable checkpoint, content-free rows) so content is read+hashed
    exactly ONCE — r4's formulation recomputed sha2 over every content byte
    in a second pass (the dominant avoidable cost at 10^12-file scale).

    No Window over a content-carrying child anywhere (plan-tested): the
    previous `Window.partitionBy(content_sha)` fold pinned ALL copies of a
    hot sha (content included) into one unsplittable window partition.

    `need_pairs=False` (callers that consume ONLY rep_docs and discard the
    pairs frame — secondary signature-feeder queries and throughput
    benches) keeps the r4 tagged-join shape instead: reps agg + join back
    on content_sha, no materialization. That costs the second sha2 pass on
    the join side, but A/B-measured at sf0.1 it is the faster single-
    consumer plan (the materialize-once shape pays a lazy-localCheckpoint
    compilation of the joined plan that a downstream `materialize(sigs)`
    then re-pays — ~+1-3s fixed per query), and the skew discipline is
    identical (map-side-combinable agg, AQE-splittable 2-column-key join).
    The flagship need_pairs=True path keeps the single-hash materialized
    shape, which is strictly better when both consumers run (bench:
    near_dup_clusters 10.2s -> 8.5s).
    """
    keys = keyed.select("content_sha", "doc_key")
    if sha_stored or need_pairs:
        if not sha_stored:
            # one content scan + one sha2 pass total; rows are 2 short
            # strings, checkpointed (local or reliable) before fan-out
            keys = materialize(keys, eager=False)
        reps = keys.groupBy("content_sha").agg(
            F.min("doc_key").alias("rep_key")
        )
        tagged = keys.join(reps, "content_sha")
        pairs = (
            tagged.where(F.col("doc_key") != F.col("rep_key"))
            .select(F.col("rep_key").alias("key_a"),
                    F.col("doc_key").alias("key_b"))
        )
        rep_side = reps.select(F.col("rep_key").alias("doc_key"),
                               "content_sha")
        rep_docs = (
            keyed.drop("content_sha").join(rep_side, "doc_key")
            .select(*keyed.columns)
        )
        return rep_docs, pairs
    reps = keys.groupBy("content_sha").agg(F.min("doc_key").alias("rep_key"))
    tagged = keyed.join(reps, "content_sha")
    rep_docs = (
        tagged.where(F.col("doc_key") == F.col("rep_key"))
        .select(*keyed.columns)
    )
    pairs = (
        tagged.where(F.col("doc_key") != F.col("rep_key"))
        .select(F.col("rep_key").alias("key_a"),
                F.col("doc_key").alias("key_b"))
    )
    return rep_docs, pairs


def cleaned_corpus(keyed: DataFrame, clusters: DataFrame) -> DataFrame:
    """One representative document per near-duplicate cluster — the
    training-data pipeline's OUTPUT stage (the deduplicated corpus a
    downstream trainer actually consumes).

    Because the canonical cluster label IS the minimum member doc_key
    (cluster.py, SURVEY §2.3-1), representative selection needs no
    aggregation at all: a row is its cluster's representative iff
    doc_key == cluster_id, so the selection is a FILTER over the narrow
    label table followed by ONE semi-join on doc_key — which is unique per
    row (ingest invariant), so the join is skew-free by construction and
    AQE-splittable, and content crosses the wire exactly once. At
    10^12-file scale this is the cheapest possible shape: no groupBy over
    cluster_id (whose giant boilerplate clusters would be hot keys), no
    window, no second pass over content.
    """
    reps = clusters.where(F.col("doc_key") == F.col("cluster_id")).select(
        "doc_key"
    )
    return keyed.join(reps, "doc_key", "left_semi")


def cleaned_corpus_from_present(keyed: DataFrame, clusters: DataFrame
                                ) -> DataFrame:
    """cleaned_corpus for callers whose corpus rows may be a SUBSET of the
    labeled docs (ADVICE r5: stream-mode --write-cleaned re-reads the input
    dir, but cluster labels persist in the warehouse across rounds — a
    canonical representative whose source file was removed/compacted
    between rounds would silently drop its whole cluster from the output).

    Re-canonicalizes per cluster over the PRESENT members: keep
    min(doc_key) among members that still have a corpus row. When every
    labeled doc is present this returns exactly cleaned_corpus (the
    canonical label IS the member minimum), so stream mode can use it
    unconditionally. The extra cost over cleaned_corpus is one min-agg over
    the narrow (doc_key, cluster_id) label table — map-side-combinable, so
    a giant boilerplate cluster folds to one row per map task before the
    shuffle (the same skew-safe primitive as exact_stage); content still
    crosses the wire exactly once via the final unique-key semi-join."""
    present = clusters.join(keyed.select("doc_key"), "doc_key", "left_semi")
    reps = present.groupBy("cluster_id").agg(F.min("doc_key").alias("doc_key"))
    return keyed.join(reps.select("doc_key"), "doc_key", "left_semi")


# ---------------------------------------------------------------------------
# repo-level rollup: fork / vendored-copy detection via shared content shas
# ---------------------------------------------------------------------------

# a sha present in more repos than this is boilerplate (LICENSE, __init__.py,
# generated lockfiles) — dropped from pair generation and accounted for in
# repo_shared_content_audit: the sha self-join is buckets.self_join, like
# every bucket join in the engine. The cap also bounds the sha self-join
# fan-out: ≤ cap·(cap−1)/2 pair rows per sha, so no join key can
# concentrate a partition regardless of how viral a file is.
REPO_SPREAD_CAP = 256


def repo_sha_sets(keyed: DataFrame) -> DataFrame:
    """The narrow (repo, content_sha) distinct both repo-rollup functions
    consume — materialized once so the content scan + sha2 runs once, not
    per consumer (repo_shared_content alone fans it out to four subtrees;
    the CLI adds the audit as a fifth). Callers running both should compute
    this once and pass it via `ds=`."""
    return materialize(
        keyed.select("repo", "content_sha").dropDuplicates(
            ["repo", "content_sha"]
        )
    )


def _repo_pairs(ds: DataFrame, key: str, cap: int) -> DataFrame:
    """(repo_a, repo_b), repo_a < repo_b, once per shared `key` value
    whose spread is at most `cap` repos."""
    pairs, _ = self_join(ds, [key], "repo", [], cap)
    return pairs.select(F.col("id_a").alias("repo_a"),
                        F.col("id_b").alias("repo_b"))


def _spread_audit(ds: DataFrame, key: str, cap: int, n_multi: str
                  ) -> DataFrame:
    """Conservation identity for a repo-spread cap: every `key` value held
    by ≥ 2 repos (`n_multi` of them) is eligible or dropped, and max_spread
    shows how hot the hottest value was."""
    multi, dropped = F.col("n_multi_buckets"), F.col("n_dropped_buckets")
    return audit(ds, [key], cap).select(
        multi.alias(n_multi),
        (multi - dropped).alias("n_eligible"),
        dropped.alias("n_dropped"),
        F.col("max_multi_size").alias("max_spread"),
    )


def _repo_similarity_plan(ds: DataFrame, cap: int) -> DataFrame:
    """Pure plan construction downstream of the (repo, sha) distinct —
    split out (unmaterialized) so tests can assert the WHOLE physical plan,
    including the content→sha projection a localCheckpoint would hide
    behind a Scan ExistingRDD."""
    shared = _repo_pairs(ds, "content_sha", cap).groupBy("repo_a", "repo_b").agg(
        F.count("*").alias("shared_shas")
    )
    tot = ds.groupBy("repo").agg(F.count("*").alias("n_shas"))
    return (
        shared.join(
            tot.select(F.col("repo").alias("repo_a"),
                       F.col("n_shas").alias("n_a")),
            "repo_a",
        )
        .join(
            tot.select(F.col("repo").alias("repo_b"),
                       F.col("n_shas").alias("n_b")),
            "repo_b",
        )
        .select(
            "repo_a", "repo_b", "shared_shas", "n_a", "n_b",
            F.round(
                F.col("shared_shas") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
            F.round(
                F.col("shared_shas")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_shas")),
                6,
            ).alias("jaccard"),
        )
    )


def repo_shared_content(keyed: DataFrame, cap: int = REPO_SPREAD_CAP,
                        ds: DataFrame | None = None) -> DataFrame:
    """Which repos are forks / copies of each other: per repo pair, the
    number of distinct content shas both contain, with containment
    (shared / smaller repo's distinct-sha count) and Jaccard over sha sets.

    Scale shape (10^12 files, ~10^8 repos): everything downstream of the
    first projection is sha/repo-keyed — content never flows past
    key_docs (and with ingest-stored shas is never read at all).
    (repo, sha) distinct and the per-repo totals are map-side-combinable
    group-bys; the sha self-join is buckets.self_join, whose spread count
    gates it BEFORE any pair buffers exist. The final totals
    joins are repo-keyed equi-joins against one narrow row per repo — AQE
    broadcasts them when small, SMJ otherwise; pair rows carry two repo ids
    and three longs, nothing wider.

    `ds`: pass repo_sha_sets(keyed) when also running the audit, so the
    content scan + sha2 + distinct runs once across both."""
    return _repo_similarity_plan(ds if ds is not None else
                                 repo_sha_sets(keyed), cap)


def repo_shared_content_audit(keyed: DataFrame,
                              cap: int = REPO_SPREAD_CAP,
                              ds: DataFrame | None = None) -> DataFrame:
    """Compensative accounting for repo_shared_content's boilerplate cap:
    every multi-repo sha is either eligible or dropped (n_multi_repo_shas ==
    n_eligible + n_dropped — the conservation identity the oracle pins), and
    max_spread shows how hot the hottest sha actually was. Share `ds` with
    repo_shared_content when running both (see repo_sha_sets)."""
    if ds is None:
        ds = keyed.select("repo", "content_sha").dropDuplicates(
            ["repo", "content_sha"]
        )
    return _spread_audit(ds, "content_sha", cap, "n_multi_repo_shas")


# estimated lane: a repo pair whose ONLY shared shas are boilerplate
# (spread > REPO_SPREAD_CAP) reports no exact-lane pair. The KMV lane
# recovers such pairs compensatively: per-repo k-minimum-values sketch over
# the sha set (the reference's mergeable-sketch contract,
# /root/reference/src/main/java/org/apache/datasketches/vector/package-info.java:23-27,
# applied to sets via kmv.py's fold), candidates from shared sketch hashes
# under a wider cap, Jaccard from the standard KMV union estimator — EXACT
# whenever both repos' sha sets fit in the sketch (the kmv.py degenerate
# regime), error-bounded ~1/sqrt(k) otherwise.
REPO_KMV_K = 4096
REPO_KMV_HASH_CAP = 1024


def repo_kmv_sketches(ds: DataFrame, k: int = REPO_KMV_K) -> DataFrame:
    """(repo, h) KMV sketch rows: the k smallest xxhash64(content_sha) per
    repo, selected by kmv's salted two-level fold (no single-task-per-repo
    sort; a 10^9-file repo costs `salts` bounded tasks). Sketch size is
    bounded at k longs per repo regardless of repo size."""
    from dedup.kmv import _k_smallest

    return _k_smallest(
        ds.select("repo", F.xxhash64("content_sha").alias("h")), ["repo"], k
    )


def repo_similarity_estimated(
    keyed: DataFrame, k: int = REPO_KMV_K, hash_cap: int = REPO_KMV_HASH_CAP,
    ds: DataFrame | None = None, s: DataFrame | None = None,
) -> DataFrame:
    """Estimated repo-pair similarity from per-repo KMV sketches: candidate
    pairs share at least one sketch hash (count-cap gated BEFORE the
    self-join, same two-pass order as repo_shared_content); each pair's
    Jaccard comes from the KMV union estimator — rank the union of the two
    sketches by hash, keep the k smallest (a valid KMV sketch of A∪B),
    estimate J = |both| / |kept|.

    Scale shape: the sketch bounds per-repo state at k longs, the hash_cap
    bounds self-join fan-out at cap·(cap−1)/2 pairs per hash, and the
    estimator's per-pair work at 2k rows (the rank window partitions by
    pair — bounded by construction, never by data). hash_cap defaults 4×
    REPO_SPREAD_CAP: the lane exists to recover pairs the exact lane's
    spread cap dropped, so its own gate must be wider; pairs whose shared
    hashes ALL exceed hash_cap remain dropped — quantify with
    repo_estimated_audit before trusting a capped run.

    Exactness: when the pair's UNION of distinct shas fits the sketch
    (|A∪B| ≤ k — stricter than each repo fitting individually: the union
    rank window truncates to the k smallest hashes of A∪B) the kept set IS
    the full hashed union and est_jaccard equals exact Jaccard
    bit-for-bit (the oracle regime); above k the error is the standard
    KMV bound O(1/sqrt(k)). Returns (repo_a, repo_b, est_jaccard).

    Pass `s=` to share the materialized sketch table with
    repo_estimated_audit (the ds= discipline one level up)."""
    from pyspark.sql import Window

    if s is None:
        if ds is None:
            ds = repo_sha_sets(keyed)
        s = materialize(repo_kmv_sketches(ds, k))
    cand = _repo_pairs(s, "h", hash_cap).distinct()
    a_rows = cand.join(
        s.select(F.col("repo").alias("repo_a"), "h"), "repo_a"
    ).select("repo_a", "repo_b", "h", F.lit(1).alias("in_a"),
             F.lit(0).alias("in_b"))
    b_rows = cand.join(
        s.select(F.col("repo").alias("repo_b"), "h"), "repo_b"
    ).select("repo_a", "repo_b", "h", F.lit(0).alias("in_a"),
             F.lit(1).alias("in_b"))
    union = (
        a_rows.unionByName(b_rows)
        .groupBy("repo_a", "repo_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("repo_a", "repo_b").orderBy("h")
    kept = union.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    return kept.groupBy("repo_a", "repo_b").agg(
        F.round(
            F.sum((F.col("in_a") * F.col("in_b")).cast("long"))
            / F.count("*"),
            6,
        ).alias("est_jaccard")
    )


def repo_estimated_audit(
    keyed: DataFrame, k: int = REPO_KMV_K, hash_cap: int = REPO_KMV_HASH_CAP,
    ds: DataFrame | None = None, s: DataFrame | None = None,
) -> DataFrame:
    """Conservation identity for the estimated lane's hash cap (the
    repo_shared_content_audit analog over sketch hashes): every multi-repo
    sketch hash is eligible or dropped, none vanish silently. Pass `s=`
    (the materialized sketch table) when also running the lane, so the
    two-level k-smallest fold over the full (repo, h) table runs once."""
    if s is None:
        if ds is None:
            ds = repo_sha_sets(keyed)
        s = repo_kmv_sketches(ds, k)
    return _spread_audit(s, "h", hash_cap, "n_multi_repo_hashes")


def repo_similarity_recovered(
    keyed: DataFrame, cap: int = REPO_SPREAD_CAP, k: int = REPO_KMV_K,
    hash_cap: int = REPO_KMV_HASH_CAP,
) -> DataFrame:
    """The estimated lane's compensation, materialized: pairs the KMV lane
    finds that the exact lane's boilerplate cap dropped (repos whose shared
    content is ALL viral — e.g. two boilerplate-only repos sharing just a
    LICENSE). Shares the (repo, sha) distinct across both lanes. Returns
    (repo_a, repo_b, est_jaccard) for recovered pairs only."""
    ds = repo_sha_sets(keyed)
    exact = repo_shared_content(keyed, cap=cap, ds=ds)
    est = repo_similarity_estimated(keyed, k=k, hash_cap=hash_cap, ds=ds)
    return est.join(
        exact.select("repo_a", "repo_b"), ["repo_a", "repo_b"], "left_anti"
    )


# ---------------------------------------------------------------------------
# signature checkpoint: per-partition SignatureBlock sketch rows
# ---------------------------------------------------------------------------

def signature_blocks(sig_df: DataFrame, cfg: DedupConfig,
                     stage: str = SIG_STAGE) -> DataFrame:
    """Signatures → one CHECKPOINT_SCHEMA row per partition, payload =
    compact SignatureBlock image. Empty partitions emit a valid header-only
    row (reference: empty state serializes to header-only,
    FrequentDirections.java:381-383)."""
    num_perm, seed, cfg_hash = cfg.num_perm, cfg.seed, cfg.config_hash()

    def to_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        blk = SignatureBlock(num_perm=num_perm, seed=seed)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            blk.update(
                list(pdf["doc_key"]),
                list(pdf["content_sha"]),
                np.vstack(pdf["minhash"].to_numpy()).astype(np.uint64)
                if len(pdf) else np.empty((0, num_perm), dtype=np.uint64),
                pdf["simhash"].to_numpy().astype(np.int64).view(np.uint64),
                pdf["n_shingles"].to_numpy().astype(np.int32),
            )
        payload = blk.to_bytes()
        yield pd.DataFrame(
            {
                "magic": np.array([MAGIC], dtype=np.int32),
                "ver": np.array([SER_VER], dtype=np.int32),
                "stage": [stage],
                "config_hash": [cfg_hash],
                "part_id": np.array([pid], dtype=np.int32),
                "rows_used": np.array([blk.n], dtype=np.int32),
                "payload": [payload],
                "n": np.array([blk.n], dtype=np.int64),
                "created_at": np.array([int(time.time() * 1000)], dtype=np.int64),
            }
        )

    return sig_df.mapInPandas(to_blocks, CHECKPOINT_SCHEMA)


def decode_signature_blocks(ckpt: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Checkpoint rows → SIGNATURE_BANDS_SCHEMA rows; validates every image
    and the config hash — refuses to resume from a mismatched config, like
    heapify refusing a wrong family id (FrequentDirections.java:122-126).

    The band hashes are recomputed here, in the same pass that heapifies
    the block: they are a pure function of the minhash row and the
    (validated) config, so a decoded checkpoint bands through compute_bands'
    JVM posexplode exactly like fresh kernel output, with no second Python
    crossing and no band matrix stored in the image."""
    num_perm, seed, cfg_hash = cfg.num_perm, cfg.seed, cfg.config_hash()
    n_bands, rows = cfg.bands, cfg.rows_per_band

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for ch, payload in zip(pdf["config_hash"], pdf["payload"]):
                if ch != cfg_hash:
                    raise ValueError(
                        f"checkpoint config hash {ch} != current {cfg_hash}; "
                        "refusing to resume from a mismatched config"
                    )
                blk = SignatureBlock.from_bytes(bytes(payload))
                if (blk.num_perm != num_perm
                        or blk.seed != (seed & 0xFFFFFFFFFFFFFFFF)):
                    raise ValueError("checkpoint sketch params mismatch")
                if blk.is_empty:
                    continue
                bh = band_hashes(blk.sigs, n_bands, rows, seed)
                yield pd.DataFrame(
                    {
                        "doc_key": blk.keys,
                        "content_sha": blk.shas,
                        "minhash": list(blk.sigs.astype(np.int64)),
                        "simhash": blk.sims.view(np.int64),
                        "n_shingles": blk.n_shingles,
                        "bands": list(bh.astype(np.int64)),
                    }
                )

    return ckpt.mapInPandas(decode, SIGNATURE_BANDS_SCHEMA)


def read_signature_checkpoint(wh: Warehouse, cfg: DedupConfig,
                              table: str = "checkpoint_signatures"
                              ) -> DataFrame:
    """This config's checkpointed signatures, decoded lazily with their
    bands (the listing is taken now, the decode runs per action)."""
    return decode_signature_blocks(
        wh.read(table, CHECKPOINT_SCHEMA).where(
            (F.col("stage") == SIG_STAGE)
            & (F.col("config_hash") == cfg.config_hash())
        ),
        cfg,
    )


def signatures_with_resume(
    rep_docs: DataFrame, cfg: DedupConfig, wh: Warehouse | None,
    table: str = "checkpoint_signatures",
    restrict_to_input: bool = True,
    observation: Observation | None = None,
    signed_keys: DataFrame | None = None,
    recover: bool = True,
) -> DataFrame:
    """Compute signatures for rep_docs, resuming from checkpointed
    SignatureBlocks: already-checkpointed doc_keys are anti-joined away and
    only the remainder is computed (mid-stage resume, north rule).

    Scan discipline (VERDICT r1 fix #6), one code path for fresh and
    resumed runs: the kernel runs exactly once, into an eager lineage cut
    (`materialize`) that keeps its fused `bands` column, and the checkpoint
    append encodes blocks from that cut — the corpus is scanned once and
    the kernel never re-runs for the write. Row counts are observed on the
    cut's own action (`observation`, filled by the time this returns when
    `wh` is given: "signed" = rows signed and appended, "rows" = rows in
    the cut), so no count job runs, and an empty remainder skips the
    append. The lineage entry for an append is recorded before the append,
    so the lineage total of signed rows never falls short of what the
    checkpoint holds.

    When a checkpoint exists its blocks are decoded with their bands
    recomputed, so they band through the JVM like fresh rows. Batch runs
    (restrict_to_input) put the prior rows whose doc_key is still in the
    input into the same cut — the anti-join and this semi-join read the
    decoded blocks through one shared exchange — so STALE checkpoint
    signatures (docs renamed/removed since the previous run) never reach
    the result and a phantom doc can never bridge two live docs into one
    cluster (ADVICE r1).

    Streaming epochs pass restrict_to_input=False and get a one-cut epoch:
    the result is the cut alone — this epoch's new signatures plus any
    checkpointed rows whose keys are missing from `signed_keys` (the doc
    keys the caller already accounts for; the stream passes its band
    table's keys). rep_docs are anti-joined against `signed_keys` and those
    leftover rows, so nothing is signed twice. `recover=False` states that
    the checkpoint holds no row outside `signed_keys`: the blocks are then
    not decoded at all, and the epoch costs work in proportion to the
    micro-batch. With recover=True and no `signed_keys`, every checkpointed
    row is a leftover, so the cut carries the whole accumulated state.
    """
    if wh is None:
        return compute_signatures(rep_docs, cfg)
    cfg_hash = cfg.config_hash()
    prior = kept = None
    if wh.exists(table) and (restrict_to_input or recover):
        prior = read_signature_checkpoint(wh, cfg, table)
    todo = rep_docs
    if restrict_to_input:
        if prior is not None:
            # the anti-join is a left join + null filter so that it and the
            # semi-join below read the decoded blocks through one exchange;
            # the semi-join is an inner join so the kept columns stay
            # non-nullable like the kernel's (nullable ones cost the
            # fixture's downstream plan about three more Spark jobs)
            packed = prior.select("doc_key",
                                  F.struct(*prior.columns).alias("_prior"))
            todo = (rep_docs.join(packed, "doc_key", "left")
                    .where(F.col("_prior").isNull()).drop("_prior"))
            kept = (rep_docs.select("doc_key").join(packed, "doc_key")
                    .select("_prior.*"))
    else:
        if signed_keys is not None:
            todo = todo.join(signed_keys, "doc_key", "left_anti")
        if prior is not None:
            kept = prior
            if signed_keys is not None:
                kept = kept.join(signed_keys, "doc_key", "left_anti")
            todo = todo.join(kept.select("doc_key"), "doc_key", "left_anti")
    sigs = compute_signatures(todo, cfg).withColumn("_new", F.lit(True))
    if kept is not None:
        sigs = sigs.unionByName(kept.withColumn("_new", F.lit(False)))
    obs = observation or Observation()
    out = materialize(
        sigs.observe(obs, F.count(F.lit(1)).alias("rows"),
                     F.count_if("_new").alias("signed")),
        eager=True,
    )
    signed = obs.get["signed"]
    if signed > 0:
        wh.record_lineage(SIG_STAGE, cfg_hash, "appended", signed, table)
        # header-only rows from empty partitions are valid but add nothing
        wh.append(
            signature_blocks(out.where("_new").drop("bands", "_new"), cfg)
            .where(F.col("rows_used") > 0),
            table,
        )
    return out.drop("_new")


# ---------------------------------------------------------------------------
# full pipeline
# ---------------------------------------------------------------------------

def run_dedup(
    spark: SparkSession,
    df: DataFrame,
    cfg: DedupConfig | None = None,
    key_cols: list[str] | None = None,
    content_col: str = "content",
    warehouse: Warehouse | None = None,
) -> DataFrame:
    """Corpus → (doc_key, cluster_id) for every input row.

    cluster_id = lexicographic min doc_key of the near-duplicate component
    (canonical, deterministic regardless of execution order — SURVEY §2.3-1).
    """
    cfg = cfg or DedupConfig()
    cfg_hash = cfg.config_hash()
    # stage metrics are buffered and land in ONE metrics-table append
    metrics = {}

    def _metric(stage, t0, **kw):
        metrics[stage] = (int((time.time() - t0) * 1000), kw)

    # a corpus ingested via warehouse.ingest_corpus carries a stored
    # content_sha column: the exact fold then never hashes content at all
    sha_stored = "content_sha" in df.columns
    keyed = key_docs(df, key_cols, content_col)

    t0 = time.time()
    rep_docs, exact_pairs = exact_stage(keyed, sha_stored=sha_stored)
    rep_docs = signature_input(rep_docs, cfg, content_col)
    _metric("exact", t0)

    t0 = time.time()
    observed = Observation() if warehouse is not None else None
    sigs = signatures_with_resume(rep_docs, cfg, warehouse,
                                  observation=observed)
    if warehouse is None:
        # materialize (localCheckpoint), NOT persist(): a cached plan is
        # materialized with AQE partition coalescing DISABLED (Spark keeps
        # cached output partitioning deterministic unless
        # canChangeCachedPlanOutputPartitioning is set), so the Python
        # signature kernel and every consumer wave under a persist() ran at
        # the raw initial shuffle-partition count — 8x cores tasks of ~20
        # docs each at bench scale, ~0.25s Python dispatch overhead apiece
        # (measured: flagship 6.2s -> 2.1s min swapping persist for the
        # checkpoint). localCheckpoint finalizes the adaptive plan, so the
        # kernel and the checkpointed blocks inherit AQE's size-targeted
        # partitioning at any scale.
        sigs = materialize(sigs, eager=False)
    else:
        # the warehouse path cut lineage right after the kernel and counted
        # the rows on that same action
        _metric(SIG_STAGE, t0, rows_out=observed.get["rows"])

    t0 = time.time()
    # sigs is checkpointed above, so the band explode is a cheap projection
    # per consumer — no separate band checkpoint needed (r8 fused bands)
    bands = compute_bands(sigs, cfg)
    # compensative accounting: pairs lost to bucket caps are recorded
    # (SURVEY §2.3-5), observed on the count pass the clustering runs
    dropped = Observation() if warehouse is not None else None
    pairs, capped = candidate_pairs(bands, cfg, observation=dropped)
    _metric("lsh", t0)

    t0 = time.time()
    ver = verified_pairs(pairs, sigs, cfg)
    _metric("verify", t0)

    t0 = time.time()
    # edges is consumed exactly once (eager localCheckpoint inside
    # connected_components), so no persist is needed here
    edges = exact_pairs.unionByName(ver.select("key_a", "key_b"))
    comps = connected_components(edges)
    clusters = attach_singletons(comps, keyed)
    _metric("cluster", t0)

    if warehouse is not None:
        # no signed rows, no buckets: 0 without reading the observation,
        # which AQE leaves unfilled on an empty input
        metrics["lsh"][1]["dropped_candidates"] = (
            dropped_slots(dropped, capped) if observed.get["rows"] else 0)
        warehouse.append_metrics([metrics_row(stage, cfg_hash, ms, **kw)
                                  for stage, (ms, kw) in metrics.items()])
        warehouse.write(clusters, "clusters", cfg_hash)
        clusters = warehouse.read("clusters", clusters.schema)
    return clusters
