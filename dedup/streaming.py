"""Structured Streaming ingest: incremental near-dup state maintenance.

The batch pipeline's sketch state is mergeable (update/merge associative,
SURVEY §2.1 #2-3), so incremental ingest is just: for every micro-batch,
fold exact dups, compute signatures for doc_keys not already signed, and
append the per-partition SignatureBlock rows. A late or replayed file cannot
corrupt state — recomputed signatures are identical (deterministic kernels),
and the resume anti-join against the already-signed keys stops a replayed
doc from being signed twice.

Each epoch makes one pass over its micro-batch: the keyed, exact-folded
batch is cut once (one eager `materialize`, whose observed row count is the
epoch's input count) and every consumer reads that cut — the signature
input and the exact-pair, doc-key and sha-rep appends. Each state table is
read once per epoch with its known schema, so no read runs a Parquet
footer-inference job.

`ingest_stream` uses a file source + foreachBatch + Trigger.AvailableNow, the
recommended incremental-batch pattern. LSH candidate generation is
INCREMENTAL (VERDICT r2 #7): each round bands only its signature-kernel cut
(the fused `bands`, a JVM posexplode), finds its new-vs-new and new-vs-old
pairs through one capped+salted join against new + accumulated bands
(buckets.new_vs_all, which the substring and vector lanes share), then
appends the new bands — per-round pair-generation work scales with the
batch, not the corpus. The combined (old + new) bucket size gates every
pair: a bucket that grows over the cap stops emitting NEW pairs; pairs
emitted while it was under the cap are retained (a batch run over the
final corpus would drop the whole bucket — documented divergence, see
stream_clusters). Clustering folds the accumulated pair tables into the
label table (stream_cluster_labels), which holds one row per doc and is
overwritten once per stream_clusters call: the prior labels contract the
pair graph, so union-find runs over pairs the new batch brought only.
"""

from __future__ import annotations

import time
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from dedup.ann import cosine_verified
from dedup.buckets import new_vs_all
from dedup.config import DedupConfig
# candidate_pairs and exact_stage stay module attributes here although the
# stream no longer calls them: perfbench/trace.py wraps them by name
from dedup.lsh import BAND_COLS, candidate_pairs  # noqa: F401
from dedup.minhash import compute_bands, with_doc_key
from dedup.pipeline import (  # noqa: F401
    SIG_STAGE,
    exact_stage,
    read_signature_checkpoint,
    signature_input,
    signatures_with_resume,
)
from dedup.session import local_frame, materialize
from dedup.verify import verified_pairs
from dedup.warehouse import Warehouse

CORPUS_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)

BAND_TABLE = "checkpoint_bands"
# accumulated (content_sha -> representative doc_key), one append per batch:
# the cross-batch exact fold joins against THIS table, not the signature
# checkpoint, because docs below min_content_len never reach the signature
# stage yet must still fold verbatim copies across batches (an empty file
# arriving in two batches is still one exact-dup pair — batch parity)
SHA_REP_TABLE = "stream_sha_reps"
# incremental substring pass state: accumulated per-doc sampled fingerprints
# (the later-member work-list anchor) and the verified long-substring pairs
FP_TABLE = "stream_fingerprints"
SUBSTR_TABLE = "stream_substring_pairs"

# the columns each state table is read by: a read with its schema runs no
# Parquet footer-inference job
SHA_REP_SCHEMA = "content_sha string, doc_key string, config_hash string"
BAND_SCHEMA = ("doc_key string, band_id int, band_hash bigint, "
               "config_hash string")
PAIR_SCHEMA = "key_a string, key_b string"
VERIFIED_PAIR_SCHEMA = PAIR_SCHEMA + ", config_hash string"
DOC_KEY_SCHEMA = "doc_key string"
LABEL_SCHEMA = "doc_key string, cluster_id string"


def _with_config_hash(schema: StructType) -> StructType:
    """`schema` plus the config_hash column of a state table's rows."""
    return StructType(
        [*schema.fields, StructField("config_hash", StringType())]
    )


def _read_state(wh: Warehouse, name: str, schema: StructType | str,
                cfg_hash: str) -> DataFrame | None:
    """This config's rows of a state table, or None before its first
    append. The file listing is taken here, so rows appended later in the
    epoch never reach the returned frame."""
    if not wh.exists(name):
        return None
    return wh.read(name, schema).where(F.col("config_hash") == cfg_hash)


def _fold_batch(keyed: DataFrame, prior_reps: DataFrame | None) -> DataFrame:
    """One row per micro-batch doc: (doc_key, content_sha, content,
    new_rep, partner).

    The representative of a sha is its minimum doc_key in the batch. Across
    batches (ADVICE r1) a verbatim copy of an EARLIER doc must fold into an
    exact pair against the prior representative instead of being re-signed,
    so the fold joins the accumulated sha-rep table — not the signature
    checkpoint: short/empty docs never sign, but their verbatim copies
    across batches are still exact dups exactly as the batch pipeline sees
    them. `new_rep` marks representatives whose sha no earlier batch holds:
    they are this batch's sha reps and the only rows that may be signed, so
    `content` is kept on those rows only. `partner` is the key a doc forms
    an exact pair with — its batch representative, or for a representative
    the prior one — and null when there is none."""
    reps = keyed.groupBy("content_sha").agg(F.min("doc_key").alias("rep_key"))
    if prior_reps is None:
        reps = reps.withColumn("prior_key", F.lit(None).cast("string"))
    else:
        prior = prior_reps.groupBy("content_sha").agg(
            F.min("doc_key").alias("prior_key")
        )
        reps = reps.join(prior, "content_sha", "left")
    is_rep = F.col("doc_key") == F.col("rep_key")
    new_rep = is_rep & F.col("prior_key").isNull()
    partner = F.when(~is_rep, F.col("rep_key")).when(
        F.col("doc_key") != F.col("prior_key"), F.col("prior_key")
    )
    return keyed.join(reps, "content_sha").select(
        "doc_key",
        "content_sha",
        F.when(new_rep, F.col("content")).alias("content"),
        new_rep.alias("new_rep"),
        partner.alias("partner"),
    )


def _incremental_candidates(
    sigs: DataFrame, old: DataFrame | None, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """Band this epoch's signature cut and return its candidate pairs plus
    the band rows to commit. New-vs-new and new-vs-old pairs come from one
    join of the new bands against new + accumulated bands (`old`, see
    buckets.new_vs_all), so each pair is discovered in the round its LATER
    member is banded. The CALLER appends the returned bands after
    persisting the pairs (crash-ordering). Returns
    ((key_a, key_b, n_bands_hit), band_rows)."""
    # a JVM posexplode of the cut's fused bands: cheap to re-derive per
    # consumer, so no band checkpoint of its own
    new_bands = compute_bands(sigs, cfg)
    if old is not None:
        # at-least-once appends: a foreachBatch retry may have written the
        # same band rows twice — dedupe on read, like stream_exact_pairs
        old = old.select("doc_key", "band_id", "band_hash").dropDuplicates()
    joined, _ = new_vs_all(new_bands, old, BAND_COLS, "doc_key",
                           cfg.band_bucket_cap)
    pairs = (
        joined.select(
            F.least("a.doc_key", "b.doc_key").alias("key_a"),
            F.greatest("a.doc_key", "b.doc_key").alias("key_b"),
        )
        .groupBy("key_a", "key_b")
        .agg(F.count("*").alias("n_bands_hit"))
    )
    return pairs, new_bands


def _corpus_stream(spark: SparkSession, input_dir: str,
                   input_format: str) -> DataFrame:
    """Streaming corpus source: file-source parquet listing, or an Iceberg
    catalog table (readStream.table — incremental snapshot scan; the table
    provides its own schema). Split out so the dispatch is contract-testable
    without the runtime jar (same approach as tests/test_warehouse_iceberg)."""
    if input_format == "iceberg":
        # same per-micro-batch discipline as the parquet branch's
        # maxFilesPerTrigger: without it, the first run over a pre-populated
        # lake table hands AvailableNow the ENTIRE backlog as one giant
        # foreachBatch call (Iceberg read options; ignored by other sources)
        return (
            spark.readStream
            .option("streaming-max-files-per-micro-batch", 64)
            .table(input_dir)
        )
    if input_format != "parquet":
        raise ValueError(f"unknown input_format {input_format!r}")
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )


def ingest_stream(
    spark: SparkSession,
    input_dir: str,
    wh: Warehouse,
    cfg: DedupConfig,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    input_format: str = "parquet",
) -> None:
    """Process all currently-available corpus files into the signature
    checkpoint tables, exactly once per doc_key, then stop (AvailableNow).

    Re-running after new files arrive ingests only the new documents
    (streaming-source offset tracking + the resume anti-join).

    input_format="iceberg" treats input_dir as a catalog table name and
    reads it through readStream.table — Iceberg's incremental snapshot
    scan replaces the file-source listing, offsets are snapshot ids in the
    same checkpoint location, and everything downstream is identical (the
    north rule's deployment: the corpus IS the lake table).

    Crash recovery: an epoch that dies between its signature append and its
    band append leaves docs signed but unbanded, and on replay the
    cross-batch sha fold may hide them from the batch. The band append is
    therefore followed by a lineage watermark — the total of signature rows
    the band table now covers — and an epoch whose signature lineage total
    exceeds the watermark (or finds the band table gone) decodes the
    checkpoint and bands the leftover rows. The totals come from the
    manifest, so the check itself runs no Spark job; the signature lineage
    entry is recorded before its append, so a crash can only make the check
    recover needlessly, never miss a leftover."""
    key_cols = key_cols or ["repo", "path", "commit"]
    cfg_hash = cfg.config_hash()
    stream = _corpus_stream(spark, input_dir, input_format)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        epoch = F.lit(int(epoch_id))
        # each state table is read once, before any of this epoch's appends
        prior_reps = _read_state(wh, SHA_REP_TABLE, SHA_REP_SCHEMA, cfg_hash)
        old_bands = _read_state(wh, BAND_TABLE, BAND_SCHEMA, cfg_hash)

        # the one cut of the micro-batch; its observed row count replaces
        # an emptiness probe and a count job
        seen = Observation()
        batch = materialize(
            _fold_batch(with_doc_key(batch_df, key_cols), prior_reps)
            .observe(seen, F.count(F.lit(1)).alias("rows")),
            eager=True,
        )
        n_in = seen.get["rows"]
        if n_in == 0:
            return

        signed_before = sum(
            e["rows"] for e in wh.lineage(SIG_STAGE, cfg_hash, "appended")
        )
        marks = (wh.lineage(BAND_TABLE, cfg_hash, "banded")
                 if old_bands is not None else [])
        covered = marks[-1]["rows"] if marks else 0
        signed = Observation()
        # the band table's keys are the already-signed docs; when the
        # lineage says the checkpoint holds more, its leftover rows (signed
        # but unbanded by a crashed epoch) join this epoch's cut
        sigs = signatures_with_resume(
            signature_input(batch.where("new_rep"), cfg), cfg, wh,
            restrict_to_input=False, observation=signed,
            signed_keys=(None if old_bands is None
                         else old_bands.select("doc_key").distinct()),
            recover=signed_before > covered,
        )
        signed_total = signed_before + signed.get["signed"]
        to_band = signed.get["rows"] > 0
        if to_band:
            pairs, new_bands = _incremental_candidates(sigs, old_bands, cfg)
            # cut once: the pairs feed both the key list and the verify
            # join, and an epoch without pairs skips the decode
            n_pairs = Observation()
            pairs = materialize(
                pairs.observe(n_pairs, F.count(F.lit(1)).alias("rows")),
                eager=True,
            )
            if n_pairs.get["rows"] > 0:
                # the one decode of the epoch: the checkpoint (this
                # epoch's rows included) restricted to the pairs' keys
                keys = pairs.select(F.col("key_a").alias("doc_key")).union(
                    pairs.select(F.col("key_b").alias("doc_key"))
                )
                pair_sigs = read_signature_checkpoint(wh, cfg).join(
                    keys, "doc_key", "left_semi"
                )
                # crash-ordering: pairs FIRST, bands LAST. The band append
                # is the commit point — a crash in between leaves the docs
                # unbanded, so the next epoch recomputes their pairs
                # (duplicates are deduped on read, the same at-least-once
                # discipline as stream_exact_pairs).
                wh.append(
                    verified_pairs(pairs, pair_sigs, cfg)
                    .withColumn("config_hash", F.lit(cfg_hash))
                    .withColumn("epoch", epoch),
                    "stream_verified_pairs",
                )
        wh.append(
            batch.where(F.col("partner").isNotNull())
            .select(
                F.least("partner", "doc_key").alias("key_a"),
                F.greatest("partner", "doc_key").alias("key_b"),
            )
            .withColumn("epoch", epoch),
            "stream_exact_pairs",
        )
        # every ingested doc_key (pre exact-fold, pre length filter) so
        # cluster readers can attach singletons exactly like the batch path
        wh.append(batch.select("doc_key"), "stream_doc_keys")
        if to_band:
            wh.append(
                new_bands.withColumn("config_hash", F.lit(cfg_hash))
                .withColumn("epoch", epoch),
                BAND_TABLE,
            )
        if signed_total > covered:
            wh.record_lineage(BAND_TABLE, cfg_hash, "banded", signed_total,
                              BAND_TABLE)
        # sha-rep append LAST: a crash anywhere above leaves this batch's
        # shas out of the fold table, so the replay re-runs the full fold
        # (re-emitted pairs dedupe on read; re-signing is stopped by the
        # signature resume anti-join). Appending earlier could let a replay
        # see its own shas as "prior" and skip a cross-batch pair.
        wh.append(
            batch.where("new_rep")
            .select("content_sha", "doc_key",
                    F.lit(cfg_hash).alias("config_hash"))
            .withColumn("epoch", epoch),
            SHA_REP_TABLE,
        )
        wh.record_lineage(
            "stream_ingest", cfg_hash, f"epoch-{epoch_id}",
            rows=n_in, table="checkpoint_signatures",
        )
        # same observability as the batch pipeline's per-stage metrics: one
        # row per epoch with the ingest wall and row count, so a stalled or
        # regressing stream is visible from the warehouse alone
        wh.record_metrics(
            "stream_ingest", cfg_hash,
            int((time.time() - t0) * 1000), rows_in=n_in,
        )

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_stream_verified_pairs(wh: Warehouse, cfg: DedupConfig) -> DataFrame:
    """Verified near-dup pairs the incremental LSH rounds accumulated under
    `cfg`, deduped on read (at-least-once appends, same discipline as
    read_stream_exact_pairs). Another config's pairs (a lower threshold,
    other bands) never reach this config's labels."""
    return (
        wh.read("stream_verified_pairs", VERIFIED_PAIR_SCHEMA)
        .where(F.col("config_hash") == cfg.config_hash())
        .select("key_a", "key_b").distinct()
    )


LABEL_TABLE = "stream_cluster_labels"


def _effective_edges(edges: DataFrame, prior: DataFrame) -> DataFrame:
    """Accumulated pair rows CONTRACTED against the prior label table: an
    edge whose endpoints already share a cluster label is a no-op and is
    dropped; the rest map each endpoint to its prior label (supernode) or
    itself when unlabeled. Union-find then runs over this quotient graph —
    its size is proportional to the NEW work (new edges + the labels they
    touch), not the accumulated pair history (VERDICT r3 #4)."""
    lab_u = prior.select(F.col("doc_key").alias("u"), F.col("cluster_id").alias("lu"))
    lab_v = prior.select(F.col("doc_key").alias("v"), F.col("cluster_id").alias("lv"))
    e = (
        edges.select(F.col("key_a").alias("u"), F.col("key_b").alias("v"))
        .join(lab_u, "u", "left")
        .join(lab_v, "v", "left")
    )
    return (
        e.where(
            F.col("lu").isNull() | F.col("lv").isNull()
            | (F.col("lu") != F.col("lv"))
        )
        .select(
            F.coalesce("lu", "u").alias("key_a"),
            F.coalesce("lv", "v").alias("key_b"),
        )
        .where(F.col("key_a") != F.col("key_b"))
        .distinct()
    )


def stream_clusters(spark: SparkSession, wh: Warehouse, cfg: DedupConfig
                    ) -> DataFrame:
    """(doc_key, cluster_id) over everything ingested so far — labels are
    maintained INCREMENTALLY (VERDICT r3 #4): the previous call's labels
    persist in stream_cluster_labels, one row per doc, and each call
    union-finds only the QUOTIENT graph — edges not already folded into one
    cluster, contracted to their prior labels — so per-call clustering work
    is proportional to the new batch, not the accumulated pair history. The
    contraction pass itself is one join of the pair tables against the
    label table (no fixpoint iterations over history). Labels equal a
    from-scratch union-find because prior labels are component minima:
    merging supernodes by min label yields the global component minimum.
    Each call ends with one overwrite of the label table from the call's
    eager label cut.

    The prior labels are the table only when it is complete under THIS
    config hash (ADVICE r4); otherwise — the first call, a table written
    under another config, or one a crashed overwrite left without files —
    the prior is empty and every label rebuilds from the pair tables, so a
    stale table never seeds the quotient graph with merges this config
    would not make. The verified pairs are read under this config hash
    (read_stream_verified_pairs); the exact pairs need no gate, since sha
    equality depends on no config field.

    Crash-safe without epoch bookkeeping (at-least-once appends make epoch
    watermarks unsound): already-folded edges contract to self-loops and
    vanish, replayed rows are deduped on read, and a label row missing
    from a partly written table simply re-enters the quotient graph
    through its surviving edges, so the maintenance is idempotent given
    the pair tables.

    Singletons are attached from the full ingested doc_key log
    (stream_doc_keys), so every ingested doc is labeled exactly like
    run_dedup's attach_singletons — including docs below min_content_len
    that never reach the signature stage.

    Label parity with the batch pipeline holds when no band bucket crosses
    band_bucket_cap BETWEEN rounds: a bucket that grows over the cap stops
    emitting NEW pairs (combined-size gate), but pairs it emitted while
    under the cap are retained, whereas a batch run over the final corpus
    drops that bucket entirely. This is the documented at-least-once
    divergence of incremental maintenance; the retained pairs are real
    verified near-dups, so recall never regresses — only the cap's
    pair-suppression is weaker than batch."""
    from dedup.cluster import attach_singletons, connected_components

    if not wh.exists("stream_doc_keys"):
        # No non-empty batch was ever ingested (fresh/empty input dir):
        # return the same empty (doc_key, cluster_id) frame the batch path
        # yields on an empty corpus instead of raising on a missing table.
        return local_frame(wh.spark, [], LABEL_SCHEMA)
    # the pair tables that exist, or an empty seed when neither does
    edges = reduce(DataFrame.unionByName, [
        read() for name, read in (
            ("stream_exact_pairs", lambda: read_stream_exact_pairs(wh)),
            ("stream_verified_pairs",
             lambda: read_stream_verified_pairs(wh, cfg)),
        ) if wh.exists(name)
    ] or [local_frame(wh.spark, [], PAIR_SCHEMA)])
    members = wh.read("stream_doc_keys", DOC_KEY_SCHEMA).select(
        "doc_key").distinct()
    cfg_hash = cfg.config_hash()
    prior = (wh.read(LABEL_TABLE, LABEL_SCHEMA)
             if wh.is_complete(LABEL_TABLE, cfg_hash)
             else local_frame(wh.spark, [], LABEL_SCHEMA))
    comp = connected_components(_effective_edges(edges, prior))
    # relabel prior members whose (super)label merged; keep the rest
    remap = comp.select(
        F.col("doc_key").alias("cluster_id"),
        F.col("cluster_id").alias("new_label"),
    )
    relabeled = prior.join(remap, "cluster_id", "left").select(
        "doc_key", F.coalesce("new_label", "cluster_id").alias("cluster_id")
    )
    # nodes first seen in this quotient graph (new docs with edges)
    fresh = comp.join(prior.select("doc_key"), "doc_key", "left_anti")
    # docs in no component and without a prior label are new singletons;
    # the cut comes before the overwrite of the table the plan reads
    labels = materialize(
        attach_singletons(relabeled.unionByName(fresh), members)
        .select("doc_key", "cluster_id"),
        eager=True,
    )
    wh.write(labels, LABEL_TABLE, cfg_hash)
    return labels


def read_stream_exact_pairs(wh: Warehouse) -> DataFrame:
    """Exact-duplicate pairs accumulated by ingest_stream, deduped on read.

    The underlying table is AT-LEAST-ONCE: foreachBatch retries may append
    the same pair rows again (only the signature path is idempotent by
    anti-join), so consumers must read through this distinct() — the same
    dedupe-on-read discipline as every accumulated pair table here.
    """
    return (
        wh.read("stream_exact_pairs", PAIR_SCHEMA)
        .select("key_a", "key_b").distinct()
    )


def stream_substring_pairs(
    spark: SparkSession,
    wh: Warehouse,
    cfg: DedupConfig,
    corpus: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental exact long-substring pass — the suffix-array stage joins
    the streaming story (the north rule's third dedup mode, previously
    batch-only): fingerprint ONLY the sha-representative docs not yet in the
    accumulated fingerprint table, generate candidates whose later member is
    new (buckets.new_vs_all against the accumulated table, combined bucket
    cap — suffix.incremental_anchored_candidates), verify with the
    SAME offset-anchored exact kernel as the batch pass, and append. Per-call
    work is proportional to the new docs, not the corpus.

    `corpus` must cover every doc in the sha-rep table — the same
    input-retention contract as stream-mode --write-cleaned (content is NOT
    persisted in the warehouse; at 10^12-file scale the corpus is the lake
    table itself and this parameter is one `spark.read.table(...)`).

    Crash-ordering: pairs append FIRST, fingerprints LAST (the commit
    point) — a crash in between leaves this round's docs unfingerprinted,
    so the next call regenerates and re-verifies their pairs; the re-appends
    dedupe on read (read_stream_substring_pairs), the same at-least-once
    discipline as every pair table here.

    Returns the ACCUMULATED deduped pair set (key_a, key_b, lcs_len)."""
    from dedup.suffix import (
        FP_SCHEMA,
        VERIFIED_SCHEMA,
        fingerprints,
        incremental_anchored_candidates,
        verified_substring_pairs,
    )

    key_cols = key_cols or ["repo", "path", "commit"]
    cfg_hash = cfg.config_hash()
    t0 = time.time()
    reps = _read_state(wh, SHA_REP_TABLE, SHA_REP_SCHEMA, cfg_hash)
    if reps is None:
        return local_frame(spark, [], VERIFIED_SCHEMA)
    keyed = with_doc_key(corpus, key_cols)
    work = keyed.join(reps.select("doc_key").distinct(), "doc_key",
                      "left_semi")
    old_fps = None
    stored = _read_state(wh, FP_TABLE, _with_config_hash(FP_SCHEMA),
                         cfg_hash)
    if stored is not None:
        # at-least-once appends dedupe on read, like the band table
        stored = stored.select("doc_key", "fp_hash", "fp_off").dropDuplicates()
        work = work.join(
            stored.select("doc_key").distinct(), "doc_key", "left_anti"
        )
        # marker rows (fp_off = -1, below) gate the work-list above but
        # must never enter candidate generation
        old_fps = stored.where(F.col("fp_off") >= 0)
    # every new doc gets one marker row besides its fingerprints: a doc the
    # kernel samples NO fingerprint from (shorter than the gram, or every
    # window unsampled) still needs a row, or every later call re-reads and
    # re-hashes its content forever — per-call work would silently become
    # O(corpus), not O(new docs). The markers' observed count is the
    # call's input count.
    markers = work.select("doc_key").distinct().select(
        "doc_key",
        F.lit(0).cast("long").alias("fp_hash"),
        F.lit(-1).cast("long").alias("fp_off"),
    )
    # eager: the cut feeds the size pass, the join and the final append —
    # localCheckpoint runs the fingerprint kernel exactly once
    seen = Observation()
    cut = materialize(
        fingerprints(work, cfg).unionByName(markers)
        .observe(seen, F.count(F.when(F.col("fp_off") < 0, 1)).alias("docs")),
        eager=True,
    )
    new_fps = cut.where(F.col("fp_off") >= 0)
    cand = incremental_anchored_candidates(new_fps, old_fps, cfg)
    pairs = verified_substring_pairs(
        cand, keyed.select("doc_key", "content"), cfg
    )
    wh.append(
        pairs.withColumn("config_hash", F.lit(cfg_hash)), SUBSTR_TABLE
    )
    wh.append(cut.withColumn("config_hash", F.lit(cfg_hash)), FP_TABLE)
    wh.record_metrics(
        "stream_substring", cfg_hash,
        int((time.time() - t0) * 1000), rows_in=seen.get["docs"],
    )
    return read_stream_substring_pairs(wh, cfg)


def read_stream_substring_pairs(wh: Warehouse, cfg: DedupConfig) -> DataFrame:
    """Accumulated verified long-substring pairs, deduped on read (a replayed
    round re-verifies the same pair with the same deterministic kernel, so
    max == the unique value; max also upgrades a pair first seen through a
    saturated window if a later replay measured deeper)."""
    from dedup.suffix import VERIFIED_SCHEMA

    stored = _read_state(wh, SUBSTR_TABLE, _with_config_hash(VERIFIED_SCHEMA),
                         cfg.config_hash())
    if stored is None:
        return local_frame(wh.spark, [], VERIFIED_SCHEMA)
    return stored.groupBy("key_a", "key_b").agg(
        F.max("lcs_len").alias("lcs_len")
    )


ASSET_FEAT_TABLE = "stream_asset_features"
ASSET_PAIR_TABLE = "stream_asset_pairs"
VEC_STATE_TABLE = "stream_vector_state"
VEC_PAIR_TABLE = "stream_vector_pairs"
# (state table, pair table, pair columns, metrics stage) of each vector lane
ASSET_LANE = (ASSET_FEAT_TABLE, ASSET_PAIR_TABLE, ("asset_a", "asset_b"),
              "stream_assets")
VEC_LANE = (VEC_STATE_TABLE, VEC_PAIR_TABLE, ("vec_a", "vec_b"),
            "stream_vectors")


def salted_new_vs_all_pairs(
    new_f: DataFrame,
    old_f: DataFrame | None,
    bucket_cap: int,
    threshold: float,
    id_col: str = "asset_id",
) -> DataFrame:
    """Incremental vector pairs through buckets.new_vs_all over one
    `bucket` column: `new_f` and the stored `old_f` (or None) are
    (id_col, bucket, v). Returns (id_a, id_b, cosine) with cosine ≥
    threshold, deduped; ids keep the caller's type (string asset ids,
    numeric vec ids)."""
    joined, _ = new_vs_all(new_f, old_f, ["bucket"], id_col, bucket_cap)
    a, b = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return cosine_verified(
        joined.select(
            F.least(a, b).alias("id_a"), F.greatest(a, b).alias("id_b"),
            F.col("a.v").alias("v_a"), F.col("b.v").alias("v_b"),
        ),
        threshold,
    )


def _stream_vector_lane(wh: Warehouse, lane: tuple, params: str,
                        items: DataFrame, prepare, id_col: str, vec_col: str,
                        dim: int, n_bits: int, seed: int, threshold: float,
                        bucket_cap: int) -> None:
    """One incremental vector-LSH round: take the items not yet in the
    (id, bucket, vector) state under `params`, `prepare` them into
    (id_col, vec_col) rows (the asset lane decodes here), bucket them with
    the same seeded hyperplanes as the batch path, pair new-vs-new plus
    new-vs-stored under the combined bucket cap, cosine-verify, append.
    `lane` is (state table, pair table, pair columns, metrics stage).

    Crash ordering: pairs append FIRST, state LAST (the commit point); a
    replay re-pairs the round's items and dedupes on read. `params` gates
    state reuse like config_hash on the document tables — changing the
    hyperplanes, threshold or cap starts a fresh state lineage instead of
    mixing geometries. A bucket is gated on its old+new population when
    its later member arrives, so incremental recall under caps is a
    superset of batch, never a subset."""
    from dedup.ann import as_double, hyperplane_buckets

    state_table, pair_table, pair_cols, stage = lane
    t0 = time.time()

    def join_side(state: DataFrame) -> DataFrame:
        return state.select(id_col, "bucket",
                            as_double(F.col(vec_col)).alias("v"))

    old_f = None
    if wh.exists(state_table):
        stored = (
            wh.read(state_table)
            .where(F.col("param_hash") == params)
            .select(id_col, "bucket", vec_col)
            .dropDuplicates([id_col])
        )
        items = items.join(stored.select(id_col), id_col, "left_anti")
        old_f = join_side(stored)
    new_vecs = materialize(prepare(items), eager=True)
    new_state = new_vecs.join(
        hyperplane_buckets(new_vecs, n_bits=n_bits, dim=dim, seed=seed,
                           id_col=id_col, vec_col=vec_col),
        id_col,
    )
    raw = salted_new_vs_all_pairs(
        join_side(new_state), old_f, bucket_cap, threshold, id_col
    ).select(
        F.col("id_a").alias(pair_cols[0]),
        F.col("id_b").alias(pair_cols[1]),
        "cosine",
    )
    n_new = new_vecs.select(id_col).distinct().count()
    wh.append(raw.withColumn("param_hash", F.lit(params)), pair_table)
    wh.append(new_state.withColumn("param_hash", F.lit(params)), state_table)
    wh.record_metrics(stage, params, int((time.time() - t0) * 1000),
                      rows_in=n_new)


def stream_asset_pairs(
    spark: SparkSession,
    wh: Warehouse,
    assets: DataFrame,
    n_bits: int = 12,
    seed: int = 42,
    threshold: float = 0.92,
    bucket_cap: int = 2000,
) -> DataFrame:
    """Incremental perceptual asset dedup — the multimodal surface joins the
    streaming story (_stream_vector_lane): decode features ONLY for assets
    not yet in the accumulated state (the decode kernel is the expensive
    part — payload bytes never re-cross the Arrow boundary for known
    assets), and pair them against the stored (asset_id, bucket, embedding)
    state at the batch path's rounded threshold.

    The state rows are compact (FEATURE_DIM floats + a bucket int per
    asset) — unlike the substring pass there is NO input-retention contract:
    old payloads are never re-read, the stored embedding is the verify-side
    operand. Cap semantics are buckets.new_vs_all's, as for the stream's
    bands and fingerprints.

    Returns the ACCUMULATED deduped pair set (asset_a, asset_b, cosine)."""
    from dedup.multimodal import FEATURE_DIM, extract_features

    _stream_vector_lane(
        wh, ASSET_LANE, f"hp{n_bits}:s{seed}:t{threshold}:c{bucket_cap}",
        assets,
        lambda work: extract_features(work).select("asset_id", "embedding"),
        "asset_id", "embedding", FEATURE_DIM, n_bits, seed, threshold,
        bucket_cap,
    )
    return read_stream_asset_pairs(wh, n_bits=n_bits, seed=seed,
                                   threshold=threshold, bucket_cap=bucket_cap)


def _read_lane_pairs(wh: Warehouse, lane: tuple, params: str,
                     id_type: str) -> DataFrame:
    """A vector lane's accumulated pairs, deduped on read (replays re-emit
    identical rows — the cosine is deterministic); an empty frame with
    `id_type` ids before the lane's first append."""
    _, table, (a, b), _ = lane
    if not wh.exists(table):
        return local_frame(
            wh.spark, [], f"{a} {id_type}, {b} {id_type}, cosine double"
        )
    return (
        wh.read(table)
        .where(F.col("param_hash") == params)
        .select(a, b, "cosine")
        .dropDuplicates([a, b])
    )


def read_stream_asset_pairs(
    wh: Warehouse, n_bits: int = 12, seed: int = 42, threshold: float = 0.92,
    bucket_cap: int = 2000,
) -> DataFrame:
    """Accumulated perceptual pairs (asset_a, asset_b, cosine)."""
    return _read_lane_pairs(
        wh, ASSET_LANE, f"hp{n_bits}:s{seed}:t{threshold}:c{bucket_cap}",
        "string")


def stream_vector_pairs(
    spark: SparkSession,
    wh: Warehouse,
    vectors: DataFrame,
    dim: int = 64,
    n_bits: int = 12,
    seed: int = 42,
    threshold: float = 0.9,
    bucket_cap: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental ANN over streaming embeddings (VERDICT r6 #6) — the
    stream_asset_pairs lane minus the decode kernel; the batch ground truth
    is ann.vector_near_dup_pairs. State rows are (id, bucket, vector),
    bounded per vector.

    Returns the ACCUMULATED deduped pair set (vec_a, vec_b, cosine)."""
    _stream_vector_lane(
        wh, VEC_LANE, f"vhp{n_bits}:d{dim}:s{seed}:t{threshold}:c{bucket_cap}",
        vectors, lambda work: work.select(id_col, vec_col),
        id_col, vec_col, dim, n_bits, seed, threshold, bucket_cap,
    )
    return read_stream_vector_pairs(
        wh, dim=dim, n_bits=n_bits, seed=seed, threshold=threshold,
        bucket_cap=bucket_cap,
        id_type=vectors.schema[id_col].dataType.simpleString(),
    )


def read_stream_vector_pairs(
    wh: Warehouse, dim: int = 64, n_bits: int = 12, seed: int = 42,
    threshold: float = 0.9, bucket_cap: int = 2000, id_type: str = "bigint",
) -> DataFrame:
    """Accumulated vector pairs, deduped on read (replays re-emit identical
    rows — the cosine is deterministic). `id_type` types the ids of the
    empty frame a warehouse without the table yields: pass the type of the
    ids given to stream_vector_pairs."""
    return _read_lane_pairs(
        wh, VEC_LANE, f"vhp{n_bits}:d{dim}:s{seed}:t{threshold}:c{bucket_cap}",
        id_type)


def streaming_lang_counts(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, out_dir: str
) -> None:
    """Watermarked event-time windowed counts per language — the streaming
    aggregation surface (ingest-time event clock; corpus rows carry no
    event time of their own)."""
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .parquet(input_dir)
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", "10 seconds")
    )
    agg = stream.groupBy(
        F.window("ingest_ts", "10 seconds"), F.col("lang")
    ).agg(F.count("*").alias("n_docs"))
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
