"""PySpark-native near-duplicate detection + clustering engine.

Built from scratch (not a port) with the mergeable-sketch semantics of
apache/datasketches-vector (see /root/repo/SURVEY.md):

- update / merge / serialize / heapify lifecycle of compact sketch state
  (reference: decomposition/FrequentDirections.java:83-412)
- strict fail-fast schema/config validation (FrequentDirections.java:156-181)
- compact self-describing binary images with corruption detection
  (decomposition/PreambleUtil.java:38-52, matrix/MatrixPreambleUtil.java:39-50)

Modules:
    config     — validated pipeline configuration (shingle_k, num_perm, bands, rows)
    sketches   — numpy MinHash/SimHash/band kernels + mergeable sketch structures
    shingle    — normalization + token 5-gram shingling (batch/vectorized)
    minhash    — Spark-facing MinHash signature stage (pandas UDFs)
    simhash    — Spark-facing SimHash fingerprint stage
    buckets    — the one bucket-join operator: count → cap → salt
    lsh        — band-bucket candidate pair generation + recall audit
    verify     — candidate pair verification (signature similarity)
    cluster    — union-find connected components (large-star/small-star joins)
    suffix     — partitioned suffix-array exact long-substring pass
    warehouse  — Iceberg-or-Parquet table IO + checkpoint/lineage/metrics
    pipeline   — stage orchestration with resume-from-checkpoint
    fixtures   — deterministic synthetic corpus with planted duplicates
    fd         — FrequentDirections matrix sketch (numpy kernel + distributed
                 partial/merge aggregation; the reference's flagship query
                 surface: singular values, projection matrix, compensative
                 results)
    ann        — embedding similarity search (brute-force / IVF / LSH)
    textops    — language ID, quality scoring, token stats, fingerprints
    multimodal — binary asset columns, decoder ladder, perceptual near-dups
    streaming  — incremental ingest (foreachBatch + cross-batch exact fold
                 + incremental LSH candidate maintenance)
    kmv        — KMV distinct-count sketch: JVM-only batch dup-rate audit
                 (exact below k) + applyInPandasWithState streaming
                 per-key dedup-rate monitor with bounded mergeable state
"""

from dedup.config import DedupConfig

__all__ = ["DedupConfig"]
__version__ = "0.3.0"
