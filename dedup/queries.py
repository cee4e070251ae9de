"""Driver-contract query registry: every implemented operator as a
(spark, sf_dir) -> DataFrame callable, with an ANSI-SQL DuckDB oracle where
the semantics are SQL-expressible (driver correctness gate — see
/root/repo/__spark_entry__.py docstring).

Column names are aliased IDENTICALLY in the Spark plan and the oracle SQL;
float results are rounded in both engines; money sums go through exact
DECIMAL(18,2) accumulation in both engines and only then to double, so the
value hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dedup.ann import brute_force_topk, ivf_cell_audit, ivf_topk, lsh_topk
from dedup.buckets import bucket_sizes
from dedup.config import DedupConfig
from dedup.lsh import BAND_COLS, candidate_pairs
from dedup.minhash import compute_bands, compute_signatures, with_doc_key
from dedup.pipeline import exact_stage, key_docs, run_dedup, signature_input
from dedup.session import local_frame, materialize
from dedup.simhash import simhash_candidate_pairs
from dedup.sketches import MinHashSketch
from dedup.textops import (
    EN_MARKERS,
    ES_MARKERS,
    fingerprint_docs,
    language_guess,
    punct_count,
    token_count,
)
from dedup.verify import verified_pairs

CFG = DedupConfig()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def documents_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's documents table onto the north-rule corpus shape."""
    return _docs(spark, sf_dir).select(
        F.lit("src").alias("repo"),
        F.format_string("doc/%012d", "doc_id").alias("path"),
        F.lit("head").alias("commit"),
        "lang",
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )


def _txt():
    # lazy: building a Column requires an active SparkContext, which must
    # not be a precondition for importing this module
    return F.coalesce(F.col("text"), F.lit(""))

# ---------------------------------------------------------------------------
# Oracle-checked queries (DuckDB-parity SQL exists)
# ---------------------------------------------------------------------------

def q_exact_dup_groups(spark, sf_dir):
    """Exact dedup: sha256 content grouping (dedup stage 1)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.sha2(_txt(), 256).alias("content_sha"))
        .agg(F.count("*").alias("dup_count"))
    )


SQL_EXACT_DUP_GROUPS = """
SELECT sha256(coalesce(text, '')) AS content_sha,
       CAST(count(*) AS BIGINT)   AS dup_count
FROM documents GROUP BY 1
"""


def q_token_stats(spark, sf_dir):
    """Per-language token statistics (text analysis / quality)."""
    d = _docs(spark, sf_dir).withColumn("n_tokens", token_count(F.col("text")))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_tokens").cast("double")), 6).alias("avg_tokens"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_TOKEN_STATS = r"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(CAST(len(regexp_split_to_array(trim(coalesce(text,'')), '\s+')) AS DOUBLE)), 6) AS avg_tokens,
       max(n_chars) AS max_chars
FROM documents GROUP BY lang
"""


def q_doc_quality(spark, sf_dir):
    """Per-document quality scores: token count, punctuation ratio."""
    d = _docs(spark, sf_dir)
    n_chars = F.length(_txt())
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        punct_count(F.col("text")).cast("bigint").alias("punct_cnt"),
        F.round(
            punct_count(F.col("text")).cast("double")
            / F.greatest(n_chars, F.lit(1)).cast("double"),
            6,
        ).alias("punct_ratio"),
    )


SQL_DOC_QUALITY = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(coalesce(text,'')), '\s+')) AS BIGINT) AS n_tokens,
       CAST(length(regexp_replace(coalesce(text,''), '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct_cnt,
       round(CAST(length(regexp_replace(coalesce(text,''), '[^.,;:!?]', '', 'g')) AS DOUBLE)
             / CAST(greatest(length(coalesce(text,'')), 1) AS DOUBLE), 6) AS punct_ratio
FROM documents
"""


def q_subword_stats(spark, sf_dir):
    """Per-document BPE-ish subword counts (task brief: token counting =
    whitespace + a BPE-ish regex) plus the subword/whitespace-token ratio —
    the standard token-budget estimator for training-data pipelines."""
    from dedup.textops import subword_count

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        subword_count(F.col("text")).cast("bigint").alias("n_subwords"),
        F.round(
            subword_count(F.col("text")).cast("double")
            / F.greatest(token_count(F.col("text")), F.lit(1)).cast("double"),
            6,
        ).alias("subwords_per_token"),
    )


SQL_SUBWORD_STATS = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(coalesce(text,''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\t\n\x0B\f\r ]')) AS BIGINT) AS n_subwords,
       round(CAST(len(regexp_extract_all(coalesce(text,''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\t\n\x0B\f\r ]')) AS DOUBLE)
             / CAST(greatest(len(regexp_split_to_array(trim(coalesce(text,'')), '\s+')), 1) AS DOUBLE), 6)
       AS subwords_per_token
FROM documents
"""


def q_language_guess(spark, sf_dir):
    """Marker-stopword language ID heuristic, aggregated."""
    d = _docs(spark, sf_dir).withColumn("guess", language_guess(_txt()))
    return d.groupBy("guess").agg(F.count("*").alias("n_docs"))


SQL_LANGUAGE_GUESS = rf"""
SELECT CASE WHEN len(regexp_extract_all(coalesce(text,''), '{EN_MARKERS}'))
         >= len(regexp_extract_all(coalesce(text,''), '{ES_MARKERS}'))
       THEN 'en' ELSE 'es' END AS guess,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1
"""


_SPARK_SHINGLE_EXPR = r"""
CASE WHEN size(split(trim(lower(coalesce(text,''))), '\\s+')) >= 5
     THEN size(array_distinct(transform(
            sequence(1, size(split(trim(lower(coalesce(text,''))), '\\s+')) - 4),
            i -> concat_ws(' ', slice(split(trim(lower(coalesce(text,''))), '\\s+'), i, 5)))))
     ELSE 1 END
"""

_DUCK_SHINGLE_EXPR = r"""
CASE WHEN len(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+')) >= 5
     THEN len(list_distinct([
            array_to_string(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+')[i:i+4], ' ')
            for i in range(1, len(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+')) - 3)]))
     ELSE 1 END
"""


def q_token_shingles(spark, sf_dir):
    """Distinct 5-token shingle count per doc — pure SQL on both sides."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_SPARK_SHINGLE_EXPR).cast("bigint").alias("n_shingles"),
    )


SQL_TOKEN_SHINGLES = f"""
SELECT doc_id, CAST({_DUCK_SHINGLE_EXPR} AS BIGINT) AS n_shingles
FROM documents
"""


def q_kernel_shingle_parity(spark, sf_dir):
    """CROSS-CHECK: the numpy kernel's distinct-shingle count vs the SQL
    oracle's definition — ties the vectorized kernel to a SQL-auditable
    contract (hash collisions aside, which are ~1e-13 at this scale)."""
    corpus = documents_as_corpus(spark, sf_dir)
    keyed = key_docs(corpus)
    sigs = compute_signatures(keyed, CFG)
    # doc_key -> doc_id is recoverable from the path we synthesized
    ids = keyed.select(
        "doc_key", F.regexp_extract("path", r"doc/(\d+)", 1).cast("bigint").alias("doc_id")
    )
    return sigs.join(ids, "doc_key").select(
        "doc_id", F.col("n_shingles").cast("bigint").alias("n_shingles")
    )


SQL_KERNEL_SHINGLE_PARITY = SQL_TOKEN_SHINGLES


_SPARK_CHARGRAM = (
    "array_distinct(transform(sequence(1, greatest(length({c}) - 4, 1)),"
    " i -> substring({c}, i, 5)))"
)
_DUCK_CHARGRAM = (
    "list_distinct([substring({c}, i, 5)"
    " for i in range(1, greatest(length({c}) - 4, 1) + 1)])"
)


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact character-5-gram Jaccard for consecutive doc pairs (even ids
    < 200) — the exact-similarity verifier the near-dup estimate is audited
    against."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_SPARK_CHARGRAM.format(c="coalesce(text, '')")).alias("sh")
    )
    a = d.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 200)).alias("a")
    b = d.alias("b")
    # |A∪B| = |A|+|B|-|A∩B| (exact: chargram arrays are array_distinct'd) —
    # one array traversal per pair instead of two; values bit-identical
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("key_a"),
            F.col("b.doc_id").alias("key_b"),
            F.round(
                inter.cast("double")
                / (F.size("a.sh") + F.size("b.sh") - inter).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH sh AS (
  SELECT doc_id, {_DUCK_CHARGRAM.format(c="coalesce(text, '')")} AS s FROM documents
)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 2 = 0 AND a.doc_id < 200
"""


# all-pairs Jaccard threshold for q_jaccard_clusters: at 0.25 the driver
# corpus yields one ~200-doc chain-connected template component plus
# several small ones (measured at sf0.01), so the oracle genuinely pins
# multi-hop transitivity, not just pair mirroring
_JACCARD_CLUSTER_THRESHOLD = 0.25


def q_jaccard_clusters(spark, sf_dir):
    """END-TO-END ORACLE for the distributed union-find
    (dedup/cluster.connected_components — star contraction with the
    byte-budgeted driver cutover): cluster docs whose exact character-5-gram
    Jaccard >= 0.25 (all pairs among doc_id < 300) and label every member
    with the component-minimum doc_id. The pair set is SQL-expressible (same
    machinery as the hash-green ngram_jaccard_pairs) and DuckDB recomputes
    the components independently via a recursive reachability CTE — so the
    clustering operator itself, previously pinned only by the numpy oracle
    in pytest, gets a driver-gate value-hash check including multi-hop
    chains (a ~200-doc path-connected component at sf0.01) and singleton
    attachment. The threshold compares the ROUNDED value in both engines so
    the predicate is bit-identical."""
    from dedup.cluster import attach_singletons, connected_components

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 300).select(
        "doc_id",
        F.expr(_SPARK_CHARGRAM.format(c="coalesce(text, '')")).alias("sh"),
    ).withColumn("n", F.size("sh"))
    a, b = d.alias("a"), d.alias("b")
    # r8: the threshold filter used to push below the projection and
    # evaluate the array jaccard TWICE per pair (the §4.4 duplicated-
    # expression pathology, JVM flavor — measured 2x the stage). The
    # intersection is now computed ONCE behind a lineage cut (the pair
    # count is bounded at C(300,2) by the doc_id<300 gate, so the
    # checkpoint is constant-size at any sf), the union size is derived
    # arithmetically (|A∪B| = |A|+|B|-|A∩B|, exact: chargram arrays are
    # array_distinct'd), and the cheap integer-arithmetic jaccard filters
    # above it. Values are bit-identical: same integer sizes, same double
    # division, same round.
    inter = materialize(
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("key_a"),
            F.col("b.doc_id").alias("key_b"),
            F.size(F.array_intersect("a.sh", "b.sh")).alias("inter"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        ),
        eager=False,
    )
    pairs = (
        inter.select(
            "key_a",
            "key_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= _JACCARD_CLUSTER_THRESHOLD)
    )
    comps = connected_components(pairs)
    labeled = attach_singletons(
        comps, d.select(F.col("doc_id").alias("doc_key"))
    )
    return labeled.select(
        F.col("doc_key").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


SQL_JACCARD_CLUSTERS = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {_DUCK_CHARGRAM.format(c="coalesce(text, '')")} AS s
  FROM documents WHERE doc_id < 300
),
pairs AS (
  SELECT a.doc_id AS ka, b.doc_id AS kb
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6)
        >= {_JACCARD_CLUSTER_THRESHOLD}
),
edges AS (
  SELECT ka AS src, kb AS dst FROM pairs
  UNION
  SELECT kb AS src, ka AS dst FROM pairs
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM sh
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)
SELECT CAST(a AS BIGINT) AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
FROM reach GROUP BY a
"""


def q_jaccard_cleaned_docs(spark, sf_dir):
    """ORACLE for the pipeline OUTPUT stage (pipeline.cleaned_corpus): the
    deduplicated corpus keeps exactly the component-minimum representative
    of every Jaccard cluster (same pair set as jaccard_clusters). Exercises
    the filter-on-canonical-label + unique-key semi-join shape end-to-end:
    the returned rows are real corpus rows re-attached through
    cleaned_corpus, not just label-table ids."""
    from dedup.pipeline import cleaned_corpus

    labeled = q_jaccard_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 300).select(
        F.col("doc_id").alias("doc_key"), "lang"
    )
    kept = cleaned_corpus(
        docs,
        labeled.select(
            F.col("doc_id").alias("doc_key"), "cluster_id"
        ),
    )
    return kept.select(
        F.col("doc_key").cast("bigint").alias("doc_id"), "lang"
    )


SQL_JACCARD_CLEANED_DOCS = (
    SQL_JACCARD_CLUSTERS.rstrip()
    .replace(
        "SELECT CAST(a AS BIGINT) AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id\n"
        "FROM reach GROUP BY a",
        "SELECT CAST(r.a AS BIGINT) AS doc_id, any_value(d.lang) AS lang\n"
        "FROM reach r JOIN documents d ON d.doc_id = r.a\n"
        "GROUP BY r.a HAVING r.a = min(r.b)",
    )
)
# the replace() above must actually rewrite the clusters SQL's final SELECT;
# if that tail is ever reformatted, fail here at import time instead of as a
# confusing schema/value oracle mismatch later (ADVICE r5)
assert SQL_JACCARD_CLEANED_DOCS != SQL_JACCARD_CLUSTERS.rstrip(), (
    "SQL_JACCARD_CLEANED_DOCS replace() no-opped — final SELECT of "
    "SQL_JACCARD_CLUSTERS changed without updating the template"
)


def q_embedding_knn(spark, sf_dir):
    """Exact cosine top-5 neighbors for query vectors (vec_id < 10) among
    the rest — brute-force similarity-search baseline."""
    e = _emb(spark, sf_dir)
    return brute_force_topk(
        e.where(F.col("vec_id") < 10), e.where(F.col("vec_id") >= 10), k=5
    )


SQL_EMBEDDING_KNN = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos_raw,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 10 AND c.vec_id >= 10
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, CAST(rank AS INT) AS rank
FROM scored WHERE rank <= 5
"""


def q_embedding_cosine_pairs(spark, sf_dir):
    """Exact embedding-cosine near-duplicate pairs (task brief: embedding-
    cosine near-dup as a dedup mode) on a bounded id range: all pairs with
    rounded cosine >= 0.28 among vec_id < 200 — the exact-similarity
    verifier the ANN paths are audited against, JVM zip_with/aggregate
    expressions only. The threshold predicate applies to the ROUNDED value
    in both engines so the comparison is bit-identical."""
    from dedup.ann import _cosine, as_double

    e = _emb(spark, sf_dir).where(F.col("vec_id") < 200).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    a, b = e.alias("a"), e.alias("b")

    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(_cosine(F.col("a.v"), F.col("b.v")), 4).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.28)
    )


SQL_EMBEDDING_COSINE_PAIRS = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 200 AND b.vec_id < 200
  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.28
"""


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-style pricing summary — relational agg layer. DECIMAL-exact
    sums in both engines, surfaced as double."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc).cast("double").alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir):
    """Revenue top-10: broadcast dim join + agg + deterministic top-k."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5-style local-supplier revenue: six-table join (region →
    nation → supplier/customer → orders → lineitem) with broadcast dims,
    filter pushdown on region name and order date, DECIMAL-exact agg —
    the multi-way join-reordering surface."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
    region = rd("region").where(F.col("r_name") == "ASIA")
    nation, supplier = rd("nation"), rd("supplier")
    customer, orders, lineitem = rd("customer"), rd("orders"), rd("lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    j = (
        lineitem.join(o, lineitem.l_orderkey == o.o_orderkey)
        .join(customer, o.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.groupBy("n_name").agg(
        F.sum(price * disc).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_TPCH_Q5 = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q_part_brand_revenue(spark, sf_dir):
    """Per-brand shipped revenue: fact-to-dim broadcast join over the part
    table + DECIMAL-exact aggregation."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(price * disc).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
            F.round(F.avg(F.col("p_retailprice").cast("double")), 4)
            .alias("avg_retail"),
        )
    )


SQL_PART_BRAND_REVENUE = """
SELECT p_brand,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items,
       round(avg(CAST(p_retailprice AS DOUBLE)), 4) AS avg_retail
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_events_window(spark, sf_dir):
    """First 3 events per user by time — window-function layer."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "event_type", F.col("rn").cast("int").alias("rn"))
    )


SQL_EVENTS_WINDOW = """
SELECT user_id, event_id, event_type, CAST(rn AS INT) AS rn FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
"""


def q_user_event_stats(spark, sf_dir):
    """Per-user event aggregates incl. distinct count."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


SQL_USER_EVENT_STATS = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


def q_lang_distinct_kmv(spark, sf_dir):
    """Per-language duplication audit via the KMV distinct-count sketch
    (dedup/kmv.py), built entirely JVM-side. EXACT-REGIME ORACLE: with
    k=kmv.DEFAULT_K=4096 above every per-language distinct count at sf<=0.01 the sketch
    holds the full distinct hash set, so est_distinct equals
    COUNT(DISTINCT content) — the same degenerate-regime strategy as the
    fd_frobenius oracle (exact while the summary hasn't compacted)."""
    from dedup.kmv import lang_distinct_kmv

    return lang_distinct_kmv(documents_as_corpus(spark, sf_dir))


# coalesce(lang, '(null)') mirrors the engine's sentinel for NULL group
# values (dedup/kmv.py lang_distinct_kmv) — vacuous on the driver testdata
# (no NULL langs) but keeps the oracle contract aligned with the operator
SQL_LANG_DISTINCT_KMV = """
SELECT coalesce(lang, '(null)') AS lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT coalesce(text, '')) AS BIGINT) AS est_distinct,
       ROUND(1.0 - CAST(count(DISTINCT coalesce(text, '')) AS DOUBLE)
                   / count(*), 6) AS dup_rate
FROM documents GROUP BY coalesce(lang, '(null)')
"""


def q_dedup_rate_rollup(spark, sf_dir):
    """Dedup-rate over EVERY grouping set of (lang, source) from merged KMV
    sketches (dedup/kmv.kmv_rollup): leaf sketches built once, coarser
    grouping sets estimated from sketch UNIONS instead of re-scanning the
    corpus — the sketch-mergeability + grouping-sets surface in one
    oracle-checked query (VERDICT r4 #7). EXACT-REGIME ORACLE: k=8192
    exceeds the GLOBAL distinct count through sf0.1 (4992), so every
    grouping set's estimate equals COUNT(DISTINCT content) and the DuckDB
    CUBE is an exact oracle; beyond that regime the merged estimate stays a
    clamped KMV approximation."""
    from dedup.kmv import kmv_rollup

    d = _docs(spark, sf_dir).select(
        "lang", "source", F.coalesce("text", F.lit("")).alias("content")
    )
    return kmv_rollup(d, dims=("lang", "source"), k=8192)


# raw NULL dims are sentineled to '(null)' BEFORE the cube (inner query),
# matching the engine (dedup/kmv.py kmv_rollup): every NULL the CUBE emits
# is then a rollup marker and the outer '(all)' coalesce is unambiguous.
# Vacuous on the driver testdata (no NULL dims) but keeps the oracle
# contract aligned with the operator's null semantics.
SQL_DEDUP_RATE_ROLLUP = """
SELECT coalesce(l, '(all)') AS lang,
       coalesce(s, '(all)') AS source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT c) AS BIGINT) AS est_distinct,
       ROUND(1.0 - CAST(count(DISTINCT c) AS DOUBLE) / count(*), 6)
           AS dup_rate
FROM (SELECT coalesce(lang, '(null)') AS l,
             coalesce(source, '(null)') AS s,
             coalesce(text, '') AS c
      FROM documents)
GROUP BY CUBE(l, s)
"""


def q_cluster_sha_containment(spark, sf_dir):
    """INVARIANT ORACLE for the flagship pipeline: verbatim copies are
    planted (docs with id < 50 duplicated under a different path, so a
    different doc_key but the same content sha) and every exact-duplicate
    group must land in exactly one cluster — SQL states the expected answer
    without knowing any kernel."""
    corpus = documents_as_corpus(spark, sf_dir)
    copies = _docs(spark, sf_dir).where(F.col("doc_id") < 50).select(
        F.lit("src").alias("repo"),
        F.format_string("copy/%012d", "doc_id").alias("path"),
        F.lit("head").alias("commit"),
        "lang",
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )
    planted = corpus.unionByName(copies)
    keyed = key_docs(planted)
    clusters = run_dedup(spark, planted, CFG)
    joined = keyed.select("doc_key", "content_sha").join(clusters, "doc_key")
    return (
        joined.groupBy("content_sha")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .where(F.col("n_docs") > 1)
    )


SQL_CLUSTER_SHA_CONTAINMENT = """
WITH planted AS (
  SELECT sha256(coalesce(text, '')) AS content_sha FROM documents
  UNION ALL
  SELECT sha256(coalesce(text, '')) FROM documents WHERE doc_id < 50
)
SELECT content_sha,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(1 AS BIGINT)        AS n_clusters
FROM planted GROUP BY 1 HAVING count(*) > 1
"""


def q_cluster_canonical_labels(spark, sf_dir):
    """INVARIANT ORACLE: cluster_id = min member doc_key (canonical labels,
    SURVEY §2.3-1) and every doc is labeled — zero violations, all docs."""
    clusters = run_dedup(spark, documents_as_corpus(spark, sf_dir), CFG)
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.min("doc_key").alias("min_key"), F.count("*").alias("sz")
    )
    return per_cluster.agg(
        F.sum("sz").alias("n_docs"),
        F.sum((F.col("cluster_id") != F.col("min_key")).cast("long")).alias(
            "n_violations"
        ),
    )


SQL_CLUSTER_CANONICAL_LABELS = """
SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_violations
FROM documents
"""


def q_substring_share64(spark, sf_dir):
    """ORACLE for the suffix pass: at substring_min_len = GRAM = 64 the
    fingerprint sample rate is p = 1, so candidates are exhaustive and the
    verified pair set must EXACTLY equal 'docs sharing any 64-char window' —
    which SQL can enumerate directly."""
    from dedup.suffix import substring_pairs

    keyed = key_docs(documents_as_corpus(spark, sf_dir))
    cfg = DedupConfig(substring_min_len=64)
    pairs = substring_pairs(keyed, cfg)
    ids = keyed.select(
        "doc_key",
        F.regexp_extract("path", r"doc/(\d+)", 1).cast("bigint").alias("doc_id"),
    )
    p = (
        pairs.join(
            ids.withColumnRenamed("doc_key", "key_a")
            .withColumnRenamed("doc_id", "ida"),
            "key_a",
        )
        .join(
            ids.withColumnRenamed("doc_key", "key_b")
            .withColumnRenamed("doc_id", "idb"),
            "key_b",
        )
    )
    return p.select(
        F.least("ida", "idb").alias("id_a"), F.greatest("ida", "idb").alias("id_b")
    ).distinct()


SQL_SUBSTRING_SHARE64 = """
WITH dw AS (
  SELECT DISTINCT doc_id,
         unnest([substring(coalesce(text,''), i, 64)
                 for i in range(1, greatest(length(coalesce(text,'')) - 63, 0) + 1)]) AS win
  FROM documents
)
SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                greatest(a.doc_id, b.doc_id) AS id_b
FROM dw a JOIN dw b ON a.win = b.win AND a.doc_id < b.doc_id
"""


def q_doc_containment(spark, sf_dir):
    """Full-document containment — sub-document dedup via
    suffix.containment_pairs: direct detection (lcs_len covers the contained
    side — sound at any length, complete for sides <= substring_chunk bytes
    with >= 1 surviving sampled gram) plus the whole-content contains()
    escalation for over-window sides (ADVICE r5 — the claim is now bounded
    and the over-window gap closed by escalation). Runs at
    substring_min_len = GRAM = 64 (p = 1: exhaustive fingerprints, the
    substring_share64 oracle regime) so every >= 64-byte containment whose
    grams survive the bucket cap is a candidate. ORACLE: DuckDB recomputes
    containment directly with contains() over all doc pairs — a completely
    independent primitive from the SA/LCP kernels."""
    from dedup.suffix import containment_pairs

    keyed = key_docs(documents_as_corpus(spark, sf_dir))
    cfg = DedupConfig(substring_min_len=64)
    pairs = containment_pairs(keyed, cfg)
    ids = keyed.select(
        "doc_key",
        F.regexp_extract("path", r"doc/(\d+)", 1).cast("bigint")
        .alias("doc_id"),
    )
    return (
        pairs.join(
            ids.select(F.col("doc_key").alias("key_contained"),
                       F.col("doc_id").alias("id_contained")),
            "key_contained",
        )
        .join(
            ids.select(F.col("doc_key").alias("key_container"),
                       F.col("doc_id").alias("id_container")),
            "key_container",
        )
        .select("id_contained", "id_container")
        .distinct()
    )


SQL_DOC_CONTAINMENT = """
SELECT DISTINCT a.doc_id AS id_contained, b.doc_id AS id_container
FROM documents a JOIN documents b ON a.doc_id <> b.doc_id
WHERE strlen(coalesce(a.text, '')) >= 64
  AND contains(coalesce(b.text, ''), coalesce(a.text, ''))
"""


def q_embedding_ann_ivf_exhaustive(spark, sf_dir):
    """ORACLE for the IVF machinery: probing every cell (nprobe =
    n_centroids) degenerates to exact search, so the full IVF path —
    quantizer training, cell assignment, cell join, ranking — must
    reproduce the brute-force answer bit-for-bit. cell_cap is lifted
    explicitly: the exhaustive claim requires NO compensative drops (the
    default cap is the scale path's discipline, not this oracle's)."""
    e = _emb(spark, sf_dir)
    return ivf_topk(
        e.where(F.col("vec_id") < 10), e.where(F.col("vec_id") >= 10),
        k=5, n_centroids=16, nprobe=16, cell_cap=1 << 62,
    )


SQL_EMBEDDING_ANN_IVF_EXHAUSTIVE = SQL_EMBEDDING_KNN


def q_corpus_cube(spark, sf_dir):
    """Multi-dimensional rollup of the corpus: CUBE(lang, source) doc counts
    and char totals — the grouping-sets aggregation surface (SURVEY §2.2).
    Aggregated-out dimensions surface as '(all)' in both engines so the
    value hash is null-free."""
    d = _docs(spark, sf_dir)
    return (
        d.cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            F.coalesce("source", F.lit("(all)")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


SQL_CORPUS_CUBE = """
SELECT coalesce(lang, '(all)')   AS lang,
       coalesce(source, '(all)') AS source,
       CAST(count(*) AS BIGINT)  AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM documents GROUP BY CUBE(lang, source)
"""


def q_fd_frobenius(spark, sf_dir):
    """ANALYTIC ORACLE for the FrequentDirections surface (VERDICT r2 #2):
    on a no-compaction subset (per-group n <= k-1 rows, here vec_id < 24
    with k=32, d=64) the buffer never shrinks, sv_adjustment stays 0 and the
    k-th singular value is 0, so the compensative singular values equal the
    EXACT singular values and their squared sum equals the Frobenius mass
    sum(x^2) — which DuckDB computes as a plain SUM over unnested
    embeddings. Exercises the full update -> serialize -> tree-merge ->
    getSingularValues lifecycle (the same analytic-identity strategy as the
    reference's own tests, FrequentDirectionsTest.java:181-244)."""
    from dedup.fd import fd_singular_values

    # weight each vector by (vec_id + 1): the driver embeddings are
    # unit-norm, so the unweighted identity would degenerate to sum(sv^2)=n;
    # the weighting makes the Frobenius mass a non-trivial data-dependent
    # value the SVD must actually reproduce
    e = _emb(spark, sf_dir).where(F.col("vec_id") < 24).select(
        "label",
        F.transform(
            "embedding",
            lambda x: x.cast("double") * (F.col("vec_id") + 1).cast("double"),
        ).alias("wemb"),
    )
    svs = fd_singular_values(e, "label", "wemb", k=32)
    return svs.groupBy("group_key", "n").agg(
        F.round(F.sum(F.col("sv_compensative") * F.col("sv_compensative")), 4)
        .alias("frob")
    )


SQL_FD_FROBENIUS = """
SELECT CAST(label AS VARCHAR) AS group_key,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n,
       round(sum(x * x * (vec_id + 1) * (vec_id + 1)), 4) AS frob
FROM (
  SELECT label, vec_id, unnest(embedding::DOUBLE[]) AS x
  FROM embeddings WHERE vec_id < 24
) GROUP BY 1
"""


def _planted_near_corpus(spark, sf_dir, n_plant: int = 25):
    """Corpus with near-verbatim copies planted: for each distinct-content
    doc with doc_id < n_plant, a copy under path near/... with a leading
    space prepended. The shingle tokenizer normalizes whitespace, so the
    copy has a DIFFERENT content sha (it survives the exact-dedup fold) but
    an IDENTICAL token stream — MinHash Jaccard exactly 1 and SimHash
    Hamming exactly 0 — so candidate generation, verification and the
    SimHash radius join must each recover every planted pair
    deterministically, and SQL enumerates the planted ids exactly."""
    d = _docs(spark, sf_dir)
    base = d.where(F.col("doc_id") < n_plant)
    reps = base.groupBy(F.sha2(_txt(), 256).alias("sha")).agg(
        F.min("doc_id").alias("doc_id")
    )
    copies = base.join(reps.select("doc_id"), "doc_id").select(
        F.lit("src").alias("repo"),
        F.format_string("near/%012d", "doc_id").alias("path"),
        F.lit("head").alias("commit"),
        "lang",
        F.concat(F.lit(" "), _txt()).alias("content"),
    )
    return documents_as_corpus(spark, sf_dir).unionByName(copies)


def _planted_pair_ids(pairs: DataFrame, keyed: DataFrame) -> DataFrame:
    """doc_ids whose (doc/..., near/...) planted pair appears in `pairs`."""
    ids = keyed.select(
        "doc_key",
        F.regexp_extract("path", r"^(doc|near)/(\d+)$", 1).alias("kind"),
        F.regexp_extract("path", r"^(doc|near)/(\d+)$", 2)
        .cast("bigint")
        .alias("doc_id"),
    )
    p = (
        pairs.join(
            ids.select(
                F.col("doc_key").alias("key_a"),
                F.col("kind").alias("kind_a"),
                F.col("doc_id").alias("id_a"),
            ),
            "key_a",
        )
        .join(
            ids.select(
                F.col("doc_key").alias("key_b"),
                F.col("kind").alias("kind_b"),
                F.col("doc_id").alias("id_b"),
            ),
            "key_b",
        )
    )
    return (
        p.where((F.col("id_a") == F.col("id_b")) & (F.col("kind_a") != F.col("kind_b")))
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )


_SQL_PLANTED_IDS = """
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
FROM documents
WHERE doc_id < 25
GROUP BY sha256(coalesce(text, ''))
"""


def _rep_signatures(keyed: DataFrame) -> DataFrame:
    """Signatures of the exact-fold representatives long enough to sign."""
    rep_docs, _ = exact_stage(keyed, need_pairs=False)
    return compute_signatures(signature_input(rep_docs, CFG), CFG)


def _lsh_candidates(keyed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sigs, LSH candidate pairs). The signatures are cut once: the band
    count pass, both join branches and verify each read them, and the cut
    keeps the shingle/MinHash kernel to one execution (dedup/buckets.py)."""
    sigs = materialize(_rep_signatures(keyed), eager=False)
    pairs, _ = candidate_pairs(compute_bands(sigs, CFG), CFG)
    return sigs, pairs


def q_candidate_planted_recall(spark, sf_dir):
    """RECALL ORACLE for LSH candidate generation (VERDICT r2 #4): every
    planted whitespace-mutated copy (identical token stream, different sha)
    must surface as a candidate pair with its original — all 16 bands
    collide by construction. SQL enumerates the planted ids."""
    keyed = key_docs(_planted_near_corpus(spark, sf_dir))
    _, pairs = _lsh_candidates(keyed)
    return _planted_pair_ids(pairs, keyed)


def q_verified_planted_recall(spark, sf_dir):
    """RECALL ORACLE for the verify stage: the planted whitespace-mutated
    pairs carry estimated Jaccard exactly 1, so every one must survive
    signature verification at any threshold."""
    keyed = key_docs(_planted_near_corpus(spark, sf_dir))
    sigs, pairs = _lsh_candidates(keyed)
    return _planted_pair_ids(verified_pairs(pairs, sigs, CFG), keyed)


def q_simhash_planted_recall(spark, sf_dir):
    """RECALL ORACLE for the SimHash path: the planted whitespace-mutated
    copies have identical shingle streams, so fingerprints match at Hamming
    0 — every planted pair must fall within the radius join."""
    keyed = key_docs(_planted_near_corpus(spark, sf_dir))
    return _planted_pair_ids(
        simhash_candidate_pairs(_rep_signatures(keyed), CFG), keyed)


SQL_CANDIDATE_PLANTED_RECALL = _SQL_PLANTED_IDS
SQL_VERIFIED_PLANTED_RECALL = _SQL_PLANTED_IDS
SQL_SIMHASH_PLANTED_RECALL = _SQL_PLANTED_IDS


def q_minhash_band_parity(spark, sf_dir):
    """ROW-PARITY ORACLE for the band table (VERDICT r2 #4): exactly
    cfg.bands rows per signature-eligible representative — pure SQL over
    documents given min_content_len."""
    return q_minhash_bands(spark, sf_dir).agg(F.count("*").alias("n_bands"))


SQL_MINHASH_BAND_PARITY = f"""
SELECT CAST({CFG.bands} * count(DISTINCT sha256(coalesce(text, ''))) AS BIGINT)
       AS n_bands
FROM documents
WHERE length(coalesce(text, '')) >= {CFG.min_content_len}
"""


def q_corpus_sketch_counts(spark, sf_dir):
    """COUNT-PARITY ORACLE for the mergeable corpus sketch: the per-language
    merged MinHash sketch's n equals the number of signature-eligible
    representatives whose OWN doc carries that language. The SQL replicates
    representative selection exactly (min doc_key per content sha, doc_key =
    sha256 of the NUL-joined identity) instead of assuming lang is
    content-determined — at sf0.1 the synthetic corpus contains contents
    shared across languages, where the pipeline keeps ONE representative
    but a per-lang distinct-sha count would tally it once per language."""
    from dedup.minhash import minhash_sketch_by_group

    keyed = key_docs(documents_as_corpus(spark, sf_dir))
    sigs = _rep_signatures(keyed)
    langs = keyed.select("doc_key", "lang")
    return minhash_sketch_by_group(sigs.join(langs, "doc_key"), "lang", CFG).select(
        "group_key", "n_docs"
    )


SQL_CORPUS_SKETCH_COUNTS = f"""
WITH keyed AS (
    SELECT lang,
           sha256(coalesce(text, '')) AS content_sha,
           sha256(concat('src', chr(0),
                         'doc/', lpad(CAST(doc_id AS VARCHAR), 12, '0'),
                         chr(0), 'head')) AS doc_key,
           length(coalesce(text, '')) AS clen
    FROM documents
), reps AS (
    SELECT content_sha, min(doc_key) AS rep_key
    FROM keyed GROUP BY content_sha
)
SELECT k.lang AS group_key, CAST(count(*) AS BIGINT) AS n_docs
FROM keyed k JOIN reps r ON k.doc_key = r.rep_key
WHERE k.clen >= {CFG.min_content_len}
GROUP BY k.lang
"""


def q_asset_planted_recall(spark, sf_dir):
    """RECALL ORACLE for the perceptual near-dup path: byte-identical copies
    of the first 50 assets decode to identical feature vectors (every
    decoder, including the stub, is content-keyed), land in the same
    hyperplane bucket and score cosine 1.0 — each must pair with its
    original through the capped/salted bucket join."""
    from dedup.multimodal import asset_near_dups, assets_from_documents

    docs = _docs(spark, sf_dir)
    assets = assets_from_documents(docs)
    copies = assets_from_documents(docs.where(F.col("doc_id") < 50)).withColumn(
        "asset_id", F.concat(F.lit("copy-"), F.col("asset_id"))
    )
    dups = asset_near_dups(assets.unionByName(copies))
    return (
        dups.where(
            F.col("asset_b") == F.concat(F.lit("copy-"), F.col("asset_a"))
        )
        .select(
            F.regexp_extract("asset_a", r"(\d+)", 1).cast("bigint").alias("doc_id")
        )
        .distinct()
    )


SQL_ASSET_PLANTED_RECALL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents WHERE doc_id < 50
"""


def q_ann_lsh_planted_recall(spark, sf_dir):
    """RECALL ORACLE for hyperplane-LSH top-k: an exact duplicate of each
    query vector is planted among the candidates (identical vector ==
    identical bucket, cosine exactly 1.0), so it must come back as the
    rank-1 neighbor for every query."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    q = e.where(F.col("vec_id") < 10)
    planted = q.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    c = e.where(F.col("vec_id") >= 10).unionByName(planted)
    res = lsh_topk(q, c, k=1)
    return res.where(F.col("rank") == 1).select(
        "query_id", "neighbor_id", "cosine"
    )


SQL_ANN_LSH_PLANTED_RECALL = """
SELECT vec_id AS query_id,
       vec_id + 100000 AS neighbor_id,
       round(1.0, 4) AS cosine
FROM embeddings WHERE vec_id < 10
"""


def q_fd_projection_norms(spark, sf_dir):
    """ANALYTIC ORACLE for the FD projection path: on the no-compaction
    subset (24 weighted rows, k=32, FULL SVD) every input row lies in the
    sketch buffer's row space and Vt is orthonormal with completions
    orthogonal to it, so projecting x onto Vt[:k-1] preserves its squared
    norm exactly: ||Vt[:31] x||^2 = ||x||^2 = (vec_id+1)^2 * ||e||^2 —
    which DuckDB computes directly. Pins sketch-by-group, serialization,
    get_projection_matrix and the broadcast matmul end to end."""
    from dedup.fd import SVD_FULL, FrequentDirections, fd_project, fd_sketch_by_group

    e = _emb(spark, sf_dir).where(F.col("vec_id") < 24).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: x.cast("double") * (F.col("vec_id") + 1).cast("double"),
        ).alias("wemb"),
    )
    img = fd_sketch_by_group(
        e, F.lit("all"), "wemb", k=32, algo=SVD_FULL
    ).collect()[0]
    fd = FrequentDirections.from_bytes(bytes(img["payload"]), algo=SVD_FULL)
    proj = fd.get_projection_matrix()[:31]
    norm_sq = F.aggregate(
        F.transform("proj", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return fd_project(e, "vec_id", "wemb", proj).select(
        "vec_id", F.round(norm_sq, 4).alias("norm_sq")
    )


SQL_FD_PROJECTION_NORMS = """
SELECT vec_id,
       round(sum(x * x * (vec_id + 1) * (vec_id + 1)), 4) AS norm_sq
FROM (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x
  FROM embeddings WHERE vec_id < 24
) GROUP BY vec_id
"""


def q_lsh_bucket_size_sum(spark, sf_dir):
    """MASS-CONSERVATION ORACLE for the bucket-size histogram (VERDICT r3
    #3): every band row lands in exactly one (band_id, band_hash) bucket,
    so Σ bucket_size over ALL buckets equals cfg.bands × the number of
    signature-eligible representatives — which SQL states without knowing
    any hash (same representative discipline as minhash_band_parity)."""
    bands = q_minhash_bands(spark, sf_dir)
    return bucket_sizes(bands, BAND_COLS).agg(
        F.sum("bucket_size").cast("long").alias("total_band_rows")
    )


SQL_LSH_BUCKET_SIZE_SUM = f"""
SELECT CAST({CFG.bands} * count(DISTINCT sha256(coalesce(text, ''))) AS BIGINT)
       AS total_band_rows
FROM documents
WHERE length(coalesce(text, '')) >= {CFG.min_content_len}
"""


def q_fingerprint_planted_parity(spark, sf_dir):
    """INVARIANT ORACLE for winnowing fingerprints (VERDICT r3 #3): the
    fingerprint is a pure function of content, so a verbatim copy planted
    under a different identity (copy/... path → different doc_key) must
    fingerprint identically to its original. Returns the planted ids whose
    (doc, copy) fingerprints agree; SQL enumerates the planted ids, so any
    identity leak into the kernel or nondeterminism across batches fails
    the hash compare."""
    d = _docs(spark, sf_dir)
    base = d.where(F.col("doc_id") < 25)
    reps = base.groupBy(F.sha2(_txt(), 256).alias("sha")).agg(
        F.min("doc_id").alias("doc_id")
    )
    copies = base.join(reps.select("doc_id"), "doc_id").select(
        F.lit("src").alias("repo"),
        F.format_string("copy/%012d", "doc_id").alias("path"),
        F.lit("head").alias("commit"),
        "lang",
        _txt().alias("content"),
    )
    keyed = key_docs(documents_as_corpus(spark, sf_dir).unionByName(copies))
    ids = keyed.select(
        "doc_key",
        F.regexp_extract("path", r"^(doc|copy)/(\d+)$", 1).alias("kind"),
        F.regexp_extract("path", r"^(doc|copy)/(\d+)$", 2)
        .cast("bigint")
        .alias("doc_id"),
    )
    per_id = (
        fingerprint_docs(keyed)
        .join(ids, "doc_key")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("fingerprint").alias("nfp"),
            F.count_distinct("kind").alias("nk"),
        )
    )
    return per_id.where((F.col("nk") == 2) & (F.col("nfp") == 1)).select("doc_id")


SQL_FINGERPRINT_PLANTED_PARITY = _SQL_PLANTED_IDS


def q_multimodal_meta(spark, sf_dir):
    """PROJECTION ORACLE for multimodal feature extraction (VERDICT r3 #3):
    the (asset_id, kind, n_bytes) projection of the decode output is fully
    SQL-expressible — asset ids and kinds are derived from doc_id, and
    n_bytes is the utf-8 octet length of the payload. Pins the adapter, the
    Arrow round-trip and the byte accounting; the feature vectors stay
    covered by multimodal_features (rows) + tests/test_multimodal.py."""
    from dedup.multimodal import assets_from_documents, extract_features

    feats = extract_features(assets_from_documents(_docs(spark, sf_dir)))
    return feats.select("asset_id", "kind", F.col("n_bytes").cast("long"))


SQL_MULTIMODAL_META = """
SELECT printf('asset%06d', doc_id) AS asset_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes
FROM documents
"""


def q_dedup_audit_identities(spark, sf_dir):
    """ALGEBRAIC ORACLE companion for dedup_audit (VERDICT r3 #3): the
    audit's slot accounting is recomputed independently from the raw band
    table (per-bucket counts → C(sz,2) split by the cap, distinct-bucket
    counts) and compared field by field; the histogram's total mass is the
    SQL-stated cfg.bands × eligible reps. A drift in lsh_audit's
    aggregation or a bucket lost between the two passes flips
    identities_ok and fails the hash compare."""
    from dedup.lsh import lsh_audit

    bands = materialize(q_minhash_bands(spark, sf_dir), eager=False)
    audit = lsh_audit(bands, CFG).collect()[0]
    cap = CFG.band_bucket_cap
    # independent recompute from a (bucket_size -> frequency) histogram:
    # distinct sizes stay small at ANY corpus scale, so the driver pull is
    # bounded; the arithmetic runs driver-side in Python ints, a different
    # execution path than lsh_audit's JVM aggregate
    hist = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("freq"))
        .collect()
    )
    # Python-int arithmetic (exact at any magnitude, unlike int64/double —
    # ADVICE r4); audit fields read through `or 0` so an EMPTY band table
    # compares as zeros instead of None == 0 → False with no diagnostic
    sz = [int(r["n"]) for r in hist]
    freq = [int(r["freq"]) for r in hist]
    slots = [s * (s - 1) // 2 for s in sz]
    multi = [s >= 2 for s in sz]
    over = [s > cap for s in sz]
    ok = (
        int(audit["n_buckets"] or 0) == sum(freq)
        and int(audit["n_multi_buckets"] or 0)
        == sum(f for f, m in zip(freq, multi) if m)
        and int(audit["n_dropped_buckets"] or 0)
        == sum(f for f, o in zip(freq, over) if o)
        and int(audit["eligible_pair_slots"] or 0)
        == sum(s * f for s, f, m, o in zip(slots, freq, multi, over)
               if m and not o)
        and int(audit["dropped_pair_slots"] or 0)
        == sum(s * f for s, f, o in zip(slots, freq, over) if o)
        and 0.0 <= float(audit["candidate_recall_floor"] or 0.0) <= 1.0
    )
    return local_frame(
        spark, [(sum(s * f for s, f in zip(sz, freq)), bool(ok))],
        "total_band_rows bigint, identities_ok boolean",
    )


SQL_DEDUP_AUDIT_IDENTITIES = f"""
SELECT CAST({CFG.bands} * count(DISTINCT sha256(coalesce(text, ''))) AS BIGINT)
       AS total_band_rows,
       TRUE AS identities_ok
FROM documents
WHERE length(coalesce(text, '')) >= {CFG.min_content_len}
"""


# ---------------------------------------------------------------------------
# Rows-only queries (kernel semantics not expressible in ANSI SQL)
# ---------------------------------------------------------------------------

def q_fd_singular_values(spark, sf_dir):
    """FrequentDirections sketch of the embedding matrix per label group:
    the reference's flagship query (getSingularValues, raw + compensative)
    as a distributed partial+final aggregation (dedup/fd.py)."""
    from dedup.fd import fd_singular_values

    e = _emb(spark, sf_dir)
    return fd_singular_values(e, "label", "embedding", k=8).select(
        "group_key", "n", "rank",
        F.round("sv", 4).alias("sv"),
        F.round("sv_compensative", 4).alias("sv_comp"),
    )


def q_fd_projection(spark, sf_dir):
    """Project every embedding into the FD-sketched k-space
    (getProjectionMatrix downstream use): global sketch, broadcast k x d
    Vt, Arrow-batch matmul."""
    from dedup.fd import FrequentDirections, fd_project, fd_sketch_by_group

    e = _emb(spark, sf_dir)
    img = fd_sketch_by_group(e, F.lit("all"), "embedding", k=8).collect()[0]
    fd = FrequentDirections.from_bytes(bytes(img["payload"]))
    proj = fd.get_projection_matrix()[:8]
    return fd_project(e, "vec_id", "embedding", proj).select(
        "vec_id", F.round(F.element_at("proj", 1), 4).alias("proj_0")
    )


def q_dedup_audit(spark, sf_dir):
    """Compensative accounting query: eligible vs cap-dropped candidate
    pair slots and the implied recall floor (the svAdjustment_ duality,
    SURVEY §2.3-5)."""
    from dedup.lsh import lsh_audit

    keyed = key_docs(documents_as_corpus(spark, sf_dir))
    return lsh_audit(compute_bands(_rep_signatures(keyed), CFG), CFG)


def q_minhash_bands(spark, sf_dir):
    """LSH band table over the documents corpus (dedup stage 3)."""
    keyed = key_docs(documents_as_corpus(spark, sf_dir))
    return compute_bands(_rep_signatures(keyed), CFG)


def q_lsh_bucket_sizes(spark, sf_dir):
    """Band-bucket size histogram (skew observability)."""
    bands = q_minhash_bands(spark, sf_dir)
    return bucket_sizes(bands, BAND_COLS).where(F.col("bucket_size") > 1)


def q_candidate_pairs(spark, sf_dir):
    """LSH candidate pairs (dedup stage 3 output)."""
    return _lsh_candidates(key_docs(documents_as_corpus(spark, sf_dir)))[1]


def q_verified_pairs(spark, sf_dir):
    """Signature-verified near-dup pairs (dedup stage 4 output)."""
    sigs, pairs = _lsh_candidates(key_docs(documents_as_corpus(spark, sf_dir)))
    return verified_pairs(pairs, sigs, CFG)


def q_near_dup_clusters(spark, sf_dir):
    """FLAGSHIP: full near-duplicate clustering of the corpus."""
    return run_dedup(spark, documents_as_corpus(spark, sf_dir), CFG)


def q_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-radius near-dup pairs (pigeonhole block join)."""
    keyed = key_docs(documents_as_corpus(spark, sf_dir))
    return simhash_candidate_pairs(_rep_signatures(keyed), CFG)


def q_asset_exact_dups(spark, sf_dir):
    """Exact binary-payload dedup over the multimodal asset table (payloads
    are genuinely BinaryType; sha2 runs JVM-side over the bytes)."""
    from dedup.multimodal import assets_from_documents, exact_asset_dups

    return exact_asset_dups(assets_from_documents(_docs(spark, sf_dir)))


SQL_ASSET_EXACT_DUPS = """
SELECT sha256(coalesce(text, '')) AS payload_sha,
       CAST(count(*) AS BIGINT) AS dup_count,
       min(printf('asset%06d', doc_id)) AS rep_asset
FROM documents GROUP BY 1
"""


def q_multimodal_features(spark, sf_dir):
    """Binary payload → decoded feature vectors (stubbed decoder, real
    Arrow/mapInPandas plumbing); returns per-asset byte counts, crc and the
    unit-norm embedding."""
    from dedup.multimodal import assets_from_documents, extract_features

    feats = extract_features(assets_from_documents(_docs(spark, sf_dir)))
    return feats.select(
        "asset_id", "kind", "n_bytes", "payload_crc", "decoder",
        F.round(F.element_at("embedding", 1), 4).alias("feat_0"),
    )


def q_asset_near_dups(spark, sf_dir):
    """Perceptual near-dup pairs over decoded asset features: hyperplane-LSH
    bucket join + cosine verify (dedup/multimodal.py asset_near_dups). On
    the driver's text-payload assets the decoders fall back to the stub, so
    exact-content copies pair (planted: docs with id < 50 re-keyed) — the
    plan shape is the production one; the real-decoder recall path is pinned
    by tests/test_multimodal.py on synthesized PPM/WAV payloads."""
    from dedup.multimodal import asset_near_dups, assets_from_documents

    docs = _docs(spark, sf_dir)
    assets = assets_from_documents(docs)
    copies = assets_from_documents(docs.where(F.col("doc_id") < 50)).withColumn(
        "asset_id", F.concat(F.lit("copy-"), F.col("asset_id"))
    )
    return asset_near_dups(assets.unionByName(copies))


def q_asset_cleaned(spark, sf_dir):
    """ORACLE for the asset-side OUTPUT stage (VERDICT r5 #7,
    multimodal.cleaned_assets): plant byte-identical copies of the first 50
    assets, cluster the perceptual near-dup graph (connected components,
    canonical label = min asset_id), keep one representative per cluster.

    DuckDB recomputes the expected survivors independently: on the driver's
    text-payload assets every decoder falls back to the deterministic
    content-hash-seeded stub, so two assets pair iff their payload BYTES are
    equal (distinct payloads give crc-seeded pseudo-random unit vectors whose
    cosine never crosses the 0.92 verify threshold at sf<=0.01 — verified
    empirically, same regime the asset_planted_recall oracle relies on).
    Clusters are therefore exact payload-equality groups with the planted
    copies attached, and the kept set is the per-text-group minimum asset id
    ('asset…' < 'copy-…' lexicographically, so a copy never wins). A missed
    planted pair keeps its copy (extra row → fail); a spurious merge drops a
    real original (missing row → fail)."""
    from dedup.multimodal import (
        asset_clusters, assets_from_documents, cleaned_assets,
    )

    docs = _docs(spark, sf_dir)
    assets = assets_from_documents(docs)
    copies = assets_from_documents(docs.where(F.col("doc_id") < 50)).withColumn(
        "asset_id", F.concat(F.lit("copy-"), F.col("asset_id"))
    )
    combined = assets.unionByName(copies)
    labels = asset_clusters(combined)
    return cleaned_assets(combined, labels).select("asset_id", "kind")


SQL_ASSET_CLEANED = """
WITH ids AS (
  SELECT printf('asset%06d', doc_id) AS asset_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         coalesce(text, '') AS t
  FROM documents
)
SELECT i.asset_id, i.kind
FROM ids i
JOIN (SELECT t, min(asset_id) AS rep FROM ids GROUP BY t) g
  ON g.t = i.t AND i.asset_id = g.rep
"""


def q_corpus_minhash_by_lang(spark, sf_dir):
    """Mergeable corpus-level MinHash sketch per language: partial sketches
    per partition, associative merge per group — the reference's
    update/merge/serialize lifecycle as a Spark aggregation."""
    from dedup.minhash import minhash_sketch_by_group

    corpus = documents_as_corpus(spark, sf_dir)
    keyed = key_docs(corpus)
    sigs = compute_signatures(keyed, CFG)
    langs = keyed.select("doc_key", "lang")
    return minhash_sketch_by_group(sigs.join(langs, "doc_key"), "lang", CFG)


def q_doc_fingerprints(spark, sf_dir):
    """Winnowing-style rolling-hash fingerprints."""
    keyed = key_docs(documents_as_corpus(spark, sf_dir))
    return fingerprint_docs(keyed)


def q_embedding_ann_lsh(spark, sf_dir):
    """Approximate top-5 via random-hyperplane LSH (recall-limited on the
    near-random driver embeddings; structural scale path)."""
    e = _emb(spark, sf_dir)
    return lsh_topk(
        e.where(F.col("vec_id") < 10), e.where(F.col("vec_id") >= 10), k=5
    )


def q_embedding_ann_ivf(spark, sf_dir):
    """Approximate top-5 via IVF (k-means cells, nprobe=16) — the primary
    100-TB similarity-search path: one shuffle on cell id replaces the
    cross join."""
    e = _emb(spark, sf_dir)
    return ivf_topk(
        e.where(F.col("vec_id") < 10), e.where(F.col("vec_id") >= 10),
        k=5, n_centroids=32, nprobe=16,
    )


def q_ann_ivf_cell_audit(spark, sf_dir):
    """Compensative audit of the IVF cell join (VERDICT r5 #1): per-cell
    candidate counts vs the cap, BEFORE any member row is buffered. With the
    default cap nothing is dropped at this scale, so the SQL oracle pins the
    identity eligible_rows == |candidates| and dropped == 0 — validating the
    count-pass plumbing end-to-end. (The cell assignment itself is k-means,
    not SQL-expressible; its correctness is pinned separately by
    embedding_ann_ivf_exhaustive ≡ brute force. n_buckets is quantizer-
    dependent and therefore not SQL-predictable — it stays in the pytest
    audit, tests/test_ann.py.)"""
    e = _emb(spark, sf_dir)
    return ivf_cell_audit(e.where(F.col("vec_id") >= 10), n_centroids=16).select(
        "n_dropped_buckets", "eligible_rows", "dropped_rows", "row_recall_floor"
    )


SQL_ANN_IVF_CELL_AUDIT = """
SELECT CAST(0 AS BIGINT) AS n_dropped_buckets,
       CAST(count(*) AS BIGINT) AS eligible_rows,
       CAST(0 AS BIGINT) AS dropped_rows,
       CAST(1.0 AS DOUBLE) AS row_recall_floor
FROM embeddings WHERE vec_id >= 10
"""


def q_substring_pairs(spark, sf_dir):
    """Exact long-substring duplicates (suffix-array pass) over documents."""
    from dedup.suffix import substring_pairs

    keyed = key_docs(documents_as_corpus(spark, sf_dir))
    # driver docs are short (~300 chars); lower the block threshold so the
    # operator is exercised at this scale
    cfg = DedupConfig(substring_min_len=64)
    return substring_pairs(keyed, cfg)


def _repo_corpus(spark, sf_dir):
    """documents spread deterministically across 20 synthetic repos, with
    docs id < 50 re-emitted into a DIFFERENT repo under a copy/ path —
    guaranteed cross-repo verbatim shares for the repo rollup to find (the
    planted-copy pattern of q_cluster_sha_containment, shifted by repo) —
    plus one BOILERPLATE file planted in every repo (docs id < 20 each
    contribute one constant-content vendor/LICENSE row; ids 0..19 hit all
    20 repos exactly once), so with the query cap of 16 the boilerplate
    gate actually drops something and the oracle observes it."""
    base = _docs(spark, sf_dir).select(
        F.format_string("repo_%02d", F.col("doc_id") % 20).alias("repo"),
        F.format_string("doc/%012d", "doc_id").alias("path"),
        F.lit("head").alias("commit"),
        "lang",
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )
    copies = _docs(spark, sf_dir).where(F.col("doc_id") < 50).select(
        F.format_string(
            "repo_%02d", (F.col("doc_id") + 7) % 20
        ).alias("repo"),
        F.format_string("copy/%012d", "doc_id").alias("path"),
        F.lit("head").alias("commit"),
        "lang",
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )
    boiler = _docs(spark, sf_dir).where(F.col("doc_id") < 20).select(
        F.format_string("repo_%02d", F.col("doc_id") % 20).alias("repo"),
        F.lit("vendor/LICENSE").alias("path"),
        F.lit("head").alias("commit"),
        "lang",
        F.lit("LICENSE: boilerplate planted in every repo").alias("content"),
    )
    return base.unionByName(copies).unionByName(boiler)


_SQL_REPO_CORPUS_CTE = """
corpus AS (
  SELECT printf('repo_%02d', doc_id % 20) AS repo,
         sha256(coalesce(text, '')) AS sha
  FROM documents
  UNION ALL
  SELECT printf('repo_%02d', (doc_id + 7) % 20),
         sha256(coalesce(text, ''))
  FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT printf('repo_%02d', doc_id % 20),
         sha256('LICENSE: boilerplate planted in every repo')
  FROM documents WHERE doc_id < 20
),
ds AS (SELECT DISTINCT repo, sha FROM corpus)
"""


def q_repo_similarity(spark, sf_dir):
    """Repo-level fork/copy detection (pipeline.repo_shared_content): per
    repo pair, distinct shared content shas + containment/Jaccard over sha
    sets. Deterministic (sha equality, no sketch seeds), so DuckDB
    recomputes the full result including the boilerplate cap's BETWEEN
    gate — cap=16 < the planted LICENSE sha's 20-repo spread, so the gate
    OBSERVABLY drops it here (the production default REPO_SPREAD_CAP would
    be indistinguishable from no cap on a 20-repo corpus)."""
    from dedup.pipeline import repo_shared_content

    keyed = key_docs(_repo_corpus(spark, sf_dir))
    return repo_shared_content(keyed, cap=16)


SQL_REPO_SIMILARITY = f"""
WITH {_SQL_REPO_CORPUS_CTE},
spread AS (SELECT sha, count(*) AS n_repos FROM ds GROUP BY 1),
eligible AS (SELECT sha FROM spread WHERE n_repos BETWEEN 2 AND 16),
pr AS (
  SELECT a.repo AS repo_a, b.repo AS repo_b
  FROM ds a
  JOIN ds b ON a.sha = b.sha AND a.repo < b.repo
  JOIN eligible e ON a.sha = e.sha
),
shared AS (
  SELECT repo_a, repo_b, CAST(count(*) AS BIGINT) AS shared_shas
  FROM pr GROUP BY 1, 2
),
tot AS (SELECT repo, CAST(count(*) AS BIGINT) AS n_shas FROM ds GROUP BY 1)
SELECT s.repo_a, s.repo_b, s.shared_shas, ta.n_shas AS n_a, tb.n_shas AS n_b,
       round(s.shared_shas / least(ta.n_shas, tb.n_shas), 6) AS containment,
       round(s.shared_shas / (ta.n_shas + tb.n_shas - s.shared_shas), 6)
         AS jaccard
FROM shared s
JOIN tot ta ON s.repo_a = ta.repo
JOIN tot tb ON s.repo_b = tb.repo
"""


def q_repo_similarity_audit(spark, sf_dir):
    """Conservation identity for the repo rollup's boilerplate cap: every
    multi-repo sha is eligible or dropped, none vanish silently. cap=16 as
    in q_repo_similarity, so the planted 20-repo LICENSE sha lands in
    n_dropped (≥1) and max_spread (=20) — the gate's effect is pinned, not
    just its no-op identity."""
    from dedup.pipeline import repo_shared_content_audit

    keyed = key_docs(_repo_corpus(spark, sf_dir))
    return repo_shared_content_audit(keyed, cap=16)


SQL_REPO_SIMILARITY_AUDIT = f"""
WITH {_SQL_REPO_CORPUS_CTE},
spread AS (SELECT sha, count(*) AS n_repos FROM ds GROUP BY 1),
multi AS (SELECT n_repos FROM spread WHERE n_repos >= 2)
SELECT CAST(count(*) AS BIGINT) AS n_multi_repo_shas,
       CAST(coalesce(sum(CASE WHEN n_repos <= 16 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_eligible,
       CAST(coalesce(sum(CASE WHEN n_repos > 16 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_dropped,
       CAST(coalesce(max(n_repos), 0) AS BIGINT) AS max_spread
FROM multi
"""


# exact-regime k for the two estimated-lane oracles: exactness needs the
# PAIR UNION under k (|A∪B| ≤ k, stricter than each repo fitting — the
# union rank window truncates to k). _repo_corpus splits documents over 20
# repos, so at sf=1 (~60k docs) pairwise unions reach ~6k distinct shas;
# 16384 keeps the oracle in the exact regime through sf=1 while the engine
# default stays REPO_KMV_K.
_ORACLE_KMV_K = 16384


def q_repo_similarity_estimated(spark, sf_dir):
    """EXACT-REGIME ORACLE for the KMV estimated-similarity lane (VERDICT
    r6 #4): with every PAIR's sha-set union under k the kept k-smallest of
    the two sketches' union IS the full hashed union, and no sketch hash
    exceeds hash_cap (max spread here is the 20-repo LICENSE), so
    candidates are exactly the pairs sharing ≥1 sha and est_jaccard equals
    exact set Jaccard bit-for-bit — which DuckDB recomputes directly from
    the sha sets."""
    from dedup.pipeline import repo_similarity_estimated

    keyed = key_docs(_repo_corpus(spark, sf_dir))
    return repo_similarity_estimated(keyed, k=_ORACLE_KMV_K)


SQL_REPO_SIMILARITY_ESTIMATED = f"""
WITH {_SQL_REPO_CORPUS_CTE},
pr AS (
  SELECT a.repo AS repo_a, b.repo AS repo_b
  FROM ds a JOIN ds b ON a.sha = b.sha AND a.repo < b.repo
),
shared AS (
  SELECT repo_a, repo_b, CAST(count(*) AS BIGINT) AS shared_shas
  FROM pr GROUP BY 1, 2
),
tot AS (SELECT repo, CAST(count(*) AS BIGINT) AS n_shas FROM ds GROUP BY 1)
SELECT s.repo_a, s.repo_b,
       round(s.shared_shas / (ta.n_shas + tb.n_shas - s.shared_shas), 6)
         AS est_jaccard
FROM shared s
JOIN tot ta ON s.repo_a = ta.repo
JOIN tot tb ON s.repo_b = tb.repo
"""


def q_repo_similarity_recovered(spark, sf_dir):
    """COMPENSATION ORACLE for the boilerplate cap: pairs the estimated
    lane recovers that the exact lane (cap=16 < the LICENSE's 20-repo
    spread) dropped — repos whose shared content is ALL viral. In the
    exact regime DuckDB recomputes the recovered pair set (pairs sharing
    ≥1 sha minus pairs with ≥1 under-cap shared sha) and their exact
    Jaccard, which the KMV estimator reproduces bit-for-bit (pair unions
    under _ORACLE_KMV_K through sf=1 — see q_repo_similarity_estimated)."""
    from dedup.pipeline import repo_similarity_recovered

    keyed = key_docs(_repo_corpus(spark, sf_dir))
    return repo_similarity_recovered(keyed, cap=16, k=_ORACLE_KMV_K)


SQL_REPO_SIMILARITY_RECOVERED = f"""
WITH {_SQL_REPO_CORPUS_CTE},
spread AS (SELECT sha, count(*) AS n_repos FROM ds GROUP BY 1),
pairs_all AS (
  SELECT DISTINCT a.repo AS repo_a, b.repo AS repo_b
  FROM ds a JOIN ds b ON a.sha = b.sha AND a.repo < b.repo
),
pairs_exact AS (
  SELECT DISTINCT a.repo AS repo_a, b.repo AS repo_b
  FROM ds a
  JOIN ds b ON a.sha = b.sha AND a.repo < b.repo
  JOIN spread sp ON a.sha = sp.sha
  WHERE sp.n_repos BETWEEN 2 AND 16
),
recovered AS (
  SELECT repo_a, repo_b FROM pairs_all
  EXCEPT
  SELECT repo_a, repo_b FROM pairs_exact
),
shared AS (
  SELECT r.repo_a, r.repo_b, CAST(count(*) AS BIGINT) AS shared_shas
  FROM recovered r
  JOIN ds a ON a.repo = r.repo_a
  JOIN ds b ON b.repo = r.repo_b AND b.sha = a.sha
  GROUP BY 1, 2
),
tot AS (SELECT repo, CAST(count(*) AS BIGINT) AS n_shas FROM ds GROUP BY 1)
SELECT s.repo_a, s.repo_b,
       round(s.shared_shas / (ta.n_shas + tb.n_shas - s.shared_shas), 6)
         AS est_jaccard
FROM shared s
JOIN tot ta ON s.repo_a = ta.repo
JOIN tot tb ON s.repo_b = tb.repo
"""


def q_stream_embedding_pairs(spark, sf_dir):
    """Incremental ANN over a two-round embedding arrival (VERDICT r6 #6,
    streaming.stream_vector_pairs): round 1 ingests the original vectors,
    round 2 adds planted identical copies of vec_id < 20 (id + 10^9); only
    new vectors are bucketed, new-vs-old pairs go through the capped+salted
    incremental join. Returns the accumulated (vec_a, vec_b, cosine) set —
    rows-only; q_stream_vector_planted_recall is the oracle companion."""
    import shutil
    import tempfile

    from dedup.session import materialize
    from dedup.streaming import stream_vector_pairs
    from dedup.warehouse import Warehouse

    emb = _emb(spark, sf_dir)
    copies = emb.where(F.col("vec_id") < 20).withColumn(
        "vec_id", (F.col("vec_id") + F.lit(1_000_000_000)).cast("long")
    )
    scratch = tempfile.mkdtemp(prefix="q_stream_vec_")
    try:
        wh = Warehouse(spark, scratch)
        stream_vector_pairs(spark, wh, emb)
        # materialize (lineage cut) so the scratch warehouse can be removed
        # before the caller consumes the result — queries must not leak a
        # parquet directory per invocation
        return materialize(
            stream_vector_pairs(spark, wh, emb.unionByName(copies)),
            eager=True,
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def q_stream_vector_planted_recall(spark, sf_dir):
    """RECALL ORACLE for incremental vector ANN: every planted identical
    copy (cosine exactly 1, same hyperplane bucket by determinism) must
    pair with its original through the new-vs-old incremental join — SQL
    enumerates the planted ids."""
    pairs = q_stream_embedding_pairs(spark, sf_dir)
    return (
        pairs.where(F.col("vec_b") - F.col("vec_a") == 1_000_000_000)
        .where(F.col("vec_a") < 20)
        .select(F.col("vec_a").alias("vec_id"))
        .distinct()
    )


SQL_STREAM_VECTOR_PLANTED_RECALL = """
SELECT DISTINCT CAST(vec_id AS BIGINT) AS vec_id
FROM embeddings
WHERE vec_id < 20
"""


def q_asset_containment_parity(spark, sf_dir):
    """PLANTED-PARITY ORACLE for the tile-containment lane (VERDICT r6 #8,
    multimodal.asset_containment): doc_id < 30 each get a deterministic
    128×128 P5 scene; doc_id < 15 additionally a grid-aligned 64×64 crop
    at offset (32, 32). Each crop's 4 tiles are pixel-identical to the
    original's interior tiles, so the (asset, crop-asset) pair must
    surface with containment exactly 1.0 — SQL enumerates the planted
    ids."""
    pairs = q_asset_containment(spark, sf_dir)
    return (
        pairs.where(
            (F.col("asset_b") == F.concat(F.lit("crop-"), F.col("asset_a")))
            & (F.col("containment") == 1.0)
        )
        .select(
            F.regexp_extract("asset_a", r"(\d+)", 1)
            .cast("bigint")
            .alias("doc_id")
        )
        .distinct()
    )


SQL_ASSET_CONTAINMENT_PARITY = """
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents WHERE doc_id < 15
"""


def q_asset_containment(spark, sf_dir):
    """Tile-containment pairs over the synthetic planted scene set — the
    rows-only companion surfacing the full lane output (shared_tiles,
    containment, jaccard per pair)."""
    from dedup.multimodal import asset_containment, synthetic_pgm

    rows = [
        (f"asset{i:06d}", "image", synthetic_pgm(i)) for i in range(30)
    ] + [
        (f"crop-asset{i:06d}", "image",
         synthetic_pgm(i, w=64, h=64, x0=32, y0=32))
        for i in range(15)
    ]
    assets = local_frame(
        spark, rows, "asset_id string, kind string, payload binary"
    )
    return asset_containment(assets)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "exact_dup_groups": q_exact_dup_groups,
    "token_stats": q_token_stats,
    "doc_quality": q_doc_quality,
    "subword_stats": q_subword_stats,
    "language_guess": q_language_guess,
    "token_shingles": q_token_shingles,
    "kernel_shingle_parity": q_kernel_shingle_parity,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "jaccard_clusters": q_jaccard_clusters,
    "jaccard_cleaned_docs": q_jaccard_cleaned_docs,
    "embedding_knn": q_embedding_knn,
    "embedding_cosine_pairs": q_embedding_cosine_pairs,
    "tpch_q1": q_tpch_q1,
    "tpch_q5": q_tpch_q5,
    "part_brand_revenue": q_part_brand_revenue,
    "top_customers": q_top_customers,
    "events_window": q_events_window,
    "user_event_stats": q_user_event_stats,
    # rows-only
    "minhash_bands": q_minhash_bands,
    "lsh_bucket_sizes": q_lsh_bucket_sizes,
    "candidate_pairs": q_candidate_pairs,
    "verified_pairs": q_verified_pairs,
    "near_dup_clusters": q_near_dup_clusters,
    "simhash_pairs": q_simhash_pairs,
    "doc_fingerprints": q_doc_fingerprints,
    "embedding_ann_lsh": q_embedding_ann_lsh,
    "embedding_ann_ivf": q_embedding_ann_ivf,
    "substring_pairs": q_substring_pairs,
    "corpus_minhash_by_lang": q_corpus_minhash_by_lang,
    "asset_exact_dups": q_asset_exact_dups,
    "multimodal_features": q_multimodal_features,
    "asset_near_dups": q_asset_near_dups,
    # invariant-oracle queries (kernel pipelines pinned from the SQL side)
    "lang_distinct_kmv": q_lang_distinct_kmv,
    "dedup_rate_rollup": q_dedup_rate_rollup,
    "cluster_sha_containment": q_cluster_sha_containment,
    "cluster_canonical_labels": q_cluster_canonical_labels,
    "substring_share64": q_substring_share64,
    "doc_containment": q_doc_containment,
    "embedding_ann_ivf_exhaustive": q_embedding_ann_ivf_exhaustive,
    "corpus_cube": q_corpus_cube,
    # FrequentDirections surface
    "fd_singular_values": q_fd_singular_values,
    "fd_projection": q_fd_projection,
    "fd_frobenius": q_fd_frobenius,
    "dedup_audit": q_dedup_audit,
    # planted-recall + parity oracles (VERDICT r2 #4)
    "candidate_planted_recall": q_candidate_planted_recall,
    "verified_planted_recall": q_verified_planted_recall,
    "simhash_planted_recall": q_simhash_planted_recall,
    "minhash_band_parity": q_minhash_band_parity,
    "corpus_sketch_counts": q_corpus_sketch_counts,
    "asset_planted_recall": q_asset_planted_recall,
    "ann_lsh_planted_recall": q_ann_lsh_planted_recall,
    "fd_projection_norms": q_fd_projection_norms,
    # VERDICT r3 #3: companions for the last uncompanioned rows-only queries
    "lsh_bucket_size_sum": q_lsh_bucket_size_sum,
    "fingerprint_planted_parity": q_fingerprint_planted_parity,
    "multimodal_meta": q_multimodal_meta,
    "dedup_audit_identities": q_dedup_audit_identities,
    "ann_ivf_cell_audit": q_ann_ivf_cell_audit,
    # VERDICT r5 #7: asset-side cleaned output
    "asset_cleaned": q_asset_cleaned,
    # round 6: repo-level fork/copy rollup over shared content shas
    "repo_similarity": q_repo_similarity,
    "repo_similarity_audit": q_repo_similarity_audit,
    # round 7: KMV estimated-similarity lane for cap-dropped repo pairs
    "repo_similarity_estimated": q_repo_similarity_estimated,
    "repo_similarity_recovered": q_repo_similarity_recovered,
    # round 7: incremental ANN over streaming embeddings
    "stream_vector_planted_recall": q_stream_vector_planted_recall,
    # round 7: sub-image tile containment
    "asset_containment_parity": q_asset_containment_parity,
    "stream_embedding_pairs": q_stream_embedding_pairs,
    "asset_containment": q_asset_containment,
}

ORACLES = {
    "exact_dup_groups": SQL_EXACT_DUP_GROUPS,
    "token_stats": SQL_TOKEN_STATS,
    "doc_quality": SQL_DOC_QUALITY,
    "subword_stats": SQL_SUBWORD_STATS,
    "language_guess": SQL_LANGUAGE_GUESS,
    "token_shingles": SQL_TOKEN_SHINGLES,
    "kernel_shingle_parity": SQL_KERNEL_SHINGLE_PARITY,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "jaccard_clusters": SQL_JACCARD_CLUSTERS,
    "jaccard_cleaned_docs": SQL_JACCARD_CLEANED_DOCS,
    "embedding_knn": SQL_EMBEDDING_KNN,
    "embedding_cosine_pairs": SQL_EMBEDDING_COSINE_PAIRS,
    "tpch_q1": SQL_TPCH_Q1,
    "tpch_q5": SQL_TPCH_Q5,
    "part_brand_revenue": SQL_PART_BRAND_REVENUE,
    "top_customers": SQL_TOP_CUSTOMERS,
    "events_window": SQL_EVENTS_WINDOW,
    "user_event_stats": SQL_USER_EVENT_STATS,
    "asset_exact_dups": SQL_ASSET_EXACT_DUPS,
    "lang_distinct_kmv": SQL_LANG_DISTINCT_KMV,
    "dedup_rate_rollup": SQL_DEDUP_RATE_ROLLUP,
    "cluster_sha_containment": SQL_CLUSTER_SHA_CONTAINMENT,
    "cluster_canonical_labels": SQL_CLUSTER_CANONICAL_LABELS,
    "substring_share64": SQL_SUBSTRING_SHARE64,
    "doc_containment": SQL_DOC_CONTAINMENT,
    "embedding_ann_ivf_exhaustive": SQL_EMBEDDING_ANN_IVF_EXHAUSTIVE,
    "corpus_cube": SQL_CORPUS_CUBE,
    "fd_frobenius": SQL_FD_FROBENIUS,
    "candidate_planted_recall": SQL_CANDIDATE_PLANTED_RECALL,
    "verified_planted_recall": SQL_VERIFIED_PLANTED_RECALL,
    "simhash_planted_recall": SQL_SIMHASH_PLANTED_RECALL,
    "minhash_band_parity": SQL_MINHASH_BAND_PARITY,
    "corpus_sketch_counts": SQL_CORPUS_SKETCH_COUNTS,
    "asset_planted_recall": SQL_ASSET_PLANTED_RECALL,
    "ann_lsh_planted_recall": SQL_ANN_LSH_PLANTED_RECALL,
    "fd_projection_norms": SQL_FD_PROJECTION_NORMS,
    "lsh_bucket_size_sum": SQL_LSH_BUCKET_SIZE_SUM,
    "fingerprint_planted_parity": SQL_FINGERPRINT_PLANTED_PARITY,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "dedup_audit_identities": SQL_DEDUP_AUDIT_IDENTITIES,
    "ann_ivf_cell_audit": SQL_ANN_IVF_CELL_AUDIT,
    "asset_cleaned": SQL_ASSET_CLEANED,
    "repo_similarity": SQL_REPO_SIMILARITY,
    "repo_similarity_audit": SQL_REPO_SIMILARITY_AUDIT,
    "repo_similarity_estimated": SQL_REPO_SIMILARITY_ESTIMATED,
    "repo_similarity_recovered": SQL_REPO_SIMILARITY_RECOVERED,
    "stream_vector_planted_recall": SQL_STREAM_VECTOR_PLANTED_RECALL,
    "asset_containment_parity": SQL_ASSET_CONTAINMENT_PARITY,
}

# The driver snapshots only the FIRST 50 entries of ``queries()`` when it
# records CORRECTNESS_r{N}. Order the registry so every oracle-backed query
# (a key present in ORACLES) precedes every rows-only query; within each
# group the original insertion order is preserved.
QUERIES = {
    **{k: v for k, v in QUERIES.items() if k in ORACLES},
    **{k: v for k, v in QUERIES.items() if k not in ORACLES},
}


def _require(ok: bool, msg: str) -> None:
    """An assert that still runs under `python -O`."""
    if not ok:
        raise RuntimeError(msg)


# Fail LOUDLY the moment oracle-backed queries outgrow the driver's window —
# the 51st would silently fall out of the recorded correctness results, the
# exact truncation the reorder above exists to prevent. When this trips,
# either the window grew (relax the bound) or the registry needs curating.
_DRIVER_SNAPSHOT_WINDOW = 50
_require(len(ORACLES) <= _DRIVER_SNAPSHOT_WINDOW, (
    f"{len(ORACLES)} oracle-backed queries exceed the driver's "
    f"first-{_DRIVER_SNAPSHOT_WINDOW} correctness snapshot window; the "
    "overflow would be silently unrecorded"
))
_require(set(ORACLES) <= set(QUERIES), (
    f"oracle entries without a queries() entry: {set(ORACLES) - set(QUERIES)}"
))
