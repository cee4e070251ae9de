"""Physical-plan invariants: the optimizations SURVEY §4 relies on must stay
in the plan (column pruning to the scan, filter pushdown, no accidental
shuffles, no row-at-a-time Python anywhere)."""

import pytest
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.minhash import compute_bands, compute_signatures
from dedup.pipeline import key_docs
from dedup.session import materialize

SF = "/root/testdata/sf0.001"
CFG = DedupConfig()


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs.select(
        F.lit("src").alias("repo"),
        F.format_string("doc/%012d", "doc_id").alias("path"),
        F.lit("head").alias("commit"),
        "lang",
        F.coalesce("text", F.lit("")).alias("content"),
    )


class TestPlanInvariants:
    def test_signature_scan_prunes_columns(self, spark, corpus):
        """Only the columns the signature stage needs reach the parquet scan
        (SURVEY §4: only content reaches the shingler)."""
        plan = physical_plan(compute_signatures(key_docs(corpus), CFG))
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan

    def test_signature_stage_single_exchange(self, spark, corpus):
        """Exactly one shuffle (the parallelism repartition) feeds the
        kernel; no hidden exchanges."""
        plan = physical_plan(compute_signatures(key_docs(corpus), CFG))
        assert plan.count("Exchange") == 1, plan

    def test_bands_chain_without_extra_shuffle(self, spark, corpus):
        """signatures → bands are chained Python stages: no exchange between
        them."""
        sigs = compute_signatures(key_docs(corpus), CFG)
        plan = physical_plan(compute_bands(sigs, CFG))
        assert plan.count("Exchange") == 1, plan

    def test_no_row_at_a_time_python(self, spark, corpus):
        """BatchEvalPython = row-at-a-time Python UDF — banned everywhere
        (BASELINE.json input_hint). Arrow stages show up as MapInPandas /
        ArrowEvalPython instead."""
        from dedup.lsh import candidate_pairs
        from dedup.verify import verified_pairs

        sigs = compute_signatures(key_docs(corpus), CFG)
        pairs, _ = candidate_pairs(
            materialize(compute_bands(sigs, CFG), eager=False), CFG)
        plan = physical_plan(verified_pairs(pairs, sigs, CFG))
        assert "BatchEvalPython" not in plan

    def test_no_iterrows_in_engine(self):
        """pdf.iterrows() is row-at-a-time pandas inside an Arrow batch —
        the same hazard BatchEvalPython is banned for (VERDICT r2 #5).
        Kernel loops must be per-group / per-image, never per-row."""
        import pathlib

        pkg = pathlib.Path(__file__).resolve().parent.parent / "dedup"
        banned = (".iterrows()", "bin(int(")  # per-row pandas / per-row popcount
        offenders = [
            (p.name, pat) for p in sorted(pkg.glob("*.py"))
            for line in p.read_text().splitlines()
            for pat in banned
            if pat in line and not line.lstrip().startswith("#")
        ]
        assert offenders == [], f"banned per-row patterns found in {offenders}"

    def test_bucket_salting_only_in_buckets_module(self):
        """One count→cap→salt operator (dedup/buckets.py): no other engine
        module defines the hot-bucket threshold, replicates a side across
        salts, pins a bucket join's strategy with a shuffle_hash hint or
        builds the new/stored `is_new` union of an incremental join.
        kmv.py's salted top-k never replicates a side, so it matches none
        of these shapes."""
        import pathlib

        pkg = pathlib.Path(__file__).resolve().parent.parent / "dedup"
        banned = ("HOT_BUCKET_MIN", "SALTS", "range(salts)",
                  "sequence(F.lit(0)", "shuffle_hash", "is_new")
        offenders = [
            (p.name, pat) for p in sorted(pkg.glob("*.py"))
            if p.name != "buckets.py"
            for line in p.read_text().splitlines()
            for pat in banned
            if pat in line and not line.lstrip().startswith("#")
        ]
        assert offenders == [], f"bucket salting outside buckets.py: {offenders}"

    def test_create_dataframe_only_in_local_frame(self):
        """Driver-side rows become a frame through one helper,
        session.local_frame, which builds an Arrow table (a JVM
        LocalTableScan). createDataFrame over a Python list plans a
        PythonRDD, whose every reader starts Python-worker tasks."""
        import inspect
        import pathlib

        from dedup.session import local_frame

        pkg = pathlib.Path(__file__).resolve().parent.parent / "dedup"
        calls = [
            (p.name, line.strip()) for p in sorted(pkg.glob("*.py"))
            for line in p.read_text().splitlines()
            if "createDataFrame(" in line and not line.lstrip().startswith("#")
        ]
        helper = [("session.py", line.strip())
                  for line in inspect.getsource(local_frame).splitlines()
                  if "createDataFrame(" in line]
        assert len(helper) == 1 and calls == helper, (
            f"createDataFrame outside session.local_frame: {calls}"
        )

    def test_exact_stage_no_window_over_content(self, spark, corpus):
        """VERDICT r3 #1 regression guard: the exact-dup fold must never run
        a Window over a content-carrying child — one hot sha (empty files,
        license boilerplate) would pin ALL its full-content copies into a
        single unsplittable window partition. The skew-safe shape is a
        map-side-combinable partial_min on a pruned (content_sha, doc_key)
        projection joined back to the corpus (AQE skew-split eligible)."""
        from dedup.pipeline import exact_stage

        rep_docs, pairs = exact_stage(key_docs(corpus))
        for df in (rep_docs, pairs):
            plan = physical_plan(df)
            assert "Window" not in plan, plan
            assert "partial_min" in plan, plan

    def test_no_window_over_content_pipeline_wide(self, spark, corpus):
        """VERDICT r4 #5: turn the exact-stage invariant into an engine-wide
        regression fence — in the FULL run_dedup and substring_pairs plans,
        any Window operator's child schema must be content-free. A Window
        whose child carries content pins every copy of a hot partition key
        (with its content) into one unsplittable in-memory sort."""
        from dedup.config import DedupConfig
        from dedup.pipeline import run_dedup
        from dedup.suffix import substring_pairs

        def windows_with_content(df):
            """Walk the optimized logical plan; return the child output
            schemas of Window nodes that carry a content/text column."""
            bad = []
            stack = [df._jdf.queryExecution().optimizedPlan()]
            while stack:
                node = stack.pop()
                kids = node.children()
                for i in range(kids.length()):
                    stack.append(kids.apply(i))
                if "Window" not in node.nodeName():
                    continue
                for i in range(kids.length()):
                    out = kids.apply(i).output()
                    names = {out.apply(j).name() for j in range(out.length())}
                    if names & {"content", "text"}:
                        bad.append(sorted(names))
            return bad

        small = corpus.limit(60)
        clusters = run_dedup(spark, small, DedupConfig())
        assert windows_with_content(clusters) == []
        pairs = substring_pairs(key_docs(small), DedupConfig())
        assert windows_with_content(pairs) == []

    def test_tpch_q5_broadcast_dims_and_pushdown(self, spark):
        """Six-table join: dims broadcast, region/date filters reach the
        scans (no filter evaluated post-join that a scan could absorb)."""
        from dedup.queries import q_tpch_q5

        plan = physical_plan(q_tpch_q5(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "EqualTo(r_name,ASIA)" in plan, "region filter not pushed"
        assert "GreaterThanOrEqual(o_orderdate" in plan, "date filter not pushed"
        assert "CartesianProduct" not in plan

    def test_vector_lsh_join_never_cartesian(self, spark):
        """The capped/salted bucket join must stay an equi-join: no
        cartesian/broadcast-nested-loop anywhere in lsh_topk's plan."""
        from dedup.ann import lsh_topk

        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = physical_plan(
            lsh_topk(e.where(F.col("vec_id") < 5), e.where(F.col("vec_id") >= 5))
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_repo_shared_content_plan_discipline(self, spark):
        """The repo rollup stays JVM-side end-to-end (sha equality, no
        kernels), its sha self-join is an equi-join (never cartesian), and
        content is projected away before the first exchange — only
        repo/content_sha/count columns may cross a shuffle. Built on the
        UNMATERIALIZED plan (_repo_similarity_plan over the raw distinct):
        repo_shared_content's localCheckpoint would truncate the executed
        plan at a Scan ExistingRDD, hiding exactly the content-carrying
        segment these assertions guard."""
        from dedup.pipeline import _repo_similarity_plan, REPO_SPREAD_CAP
        from dedup.queries import _repo_corpus, key_docs

        ds = key_docs(_repo_corpus(spark, SF)).select(
            "repo", "content_sha"
        ).dropDuplicates(["repo", "content_sha"])
        df = _repo_similarity_plan(ds, REPO_SPREAD_CAP)
        plan = physical_plan(df)
        assert "Scan ExistingRDD" not in plan, "plan truncated by checkpoint"
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "content#" not in line, f"content shuffled: {line}"

    def test_ivf_quantizer_sample_no_global_sort(self, spark):
        """VERDICT r5 #5: the quantizer sample is a scan-side hash filter —
        no range partitioner, no exchange, no sort anywhere in its plan
        (the old orderBy().limit() draw shuffled the whole vector table)."""
        from dedup.ann import quantizer_sample_plan

        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = physical_plan(quantizer_sample_plan(e, 2**62, "vec_id", "embedding"))
        assert "Exchange" not in plan, plan
        assert "Sort" not in plan, plan

    def test_ivf_cell_join_never_cartesian(self, spark):
        """The capped/salted IVF cell join must stay an equi-join on
        (bucket, salt): no cartesian/broadcast-nested-loop in the plan."""
        from dedup.ann import ivf_topk

        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = physical_plan(
            ivf_topk(e.where(F.col("vec_id") < 5), e.where(F.col("vec_id") >= 5),
                     k=3, n_centroids=8, nprobe=4)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_tpch_q1_filter_pushdown(self, spark):
        from dedup.queries import q_tpch_q1

        plan = physical_plan(q_tpch_q1(spark, SF))
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan
        # unused wide columns (comments etc.) must not be read
        assert "l_partkey" not in plan.split("ReadSchema:")[1].split("\n")[0]

    def test_verify_stage_is_jvm_expressions(self, spark, corpus):
        """The signature comparison is built-in zip_with/aggregate expressions
        in a JVM Project (codegen once AQE finalizes), never Python."""
        from dedup.lsh import candidate_pairs
        from dedup.verify import verified_pairs

        sigs = compute_signatures(key_docs(corpus), CFG)
        pairs, _ = candidate_pairs(
            materialize(compute_bands(sigs, CFG), eager=False), CFG)
        plan = physical_plan(verified_pairs(pairs, sigs, CFG))
        assert "aggregate(zip_with(" in plan
        assert "BatchEvalPython" not in plan

    def test_fd_partial_final_no_row_python(self, spark):
        """FD distribution: partials chain into the group merge with exactly
        one exchange (the groupBy on group_key) and no row-at-a-time
        Python anywhere."""
        import pandas as pd

        from dedup.fd import fd_sketch_by_group

        pdf = pd.DataFrame(
            {
                "vec_id": range(64),
                "embedding": [[float(i % 7)] * 16 for i in range(64)],
                "label": [i % 2 for i in range(64)],
            }
        )
        df = spark.createDataFrame(pdf).repartition(4)
        plan = physical_plan(fd_sketch_by_group(df, "label", "embedding", k=4))
        assert "BatchEvalPython" not in plan
        # the tree merge is exactly two exchanges above the partial stage:
        # (group_key, bucket) for the combine level, group_key for the final
        # (treeAggregate shape); anything below MapInPandas is input prep
        assert plan.split("MapInPandas")[0].count("Exchange") == 2, plan
        flat = physical_plan(
            fd_sketch_by_group(df, "label", "embedding", k=4, merge_fanin=0)
        )
        assert flat.split("MapInPandas")[0].count("Exchange") == 1, flat

    def test_substring_verify_no_row_python(self, spark, corpus):
        from dedup.config import DedupConfig
        from dedup.suffix import substring_pairs

        plan = physical_plan(
            substring_pairs(key_docs(corpus), DedupConfig(substring_min_len=64))
        )
        assert "BatchEvalPython" not in plan

    def test_substring_pair_shuffles_never_carry_content(self, spark, corpus):
        """Per-pair content shipping is the substring pass's 100TB hazard:
        content may shuffle once per DOC (the doc-side join exchanges) but
        never on a per-PAIR row, and only bounded JVM-cut windows may cross
        the Arrow boundary. Broadcast is disabled so the sort-merge shape —
        the one a real corpus takes — is what's inspected."""
        import re

        from dedup.suffix import substring_pairs

        conf = spark.conf
        old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = conf.get("spark.sql.adaptive.enabled")
        try:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            conf.set("spark.sql.adaptive.enabled", "false")
            df = substring_pairs(key_docs(corpus), DedupConfig(substring_min_len=64))
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
            conf.set("spark.sql.adaptive.enabled", old_aqe)
        exchanges = re.findall(
            r"\(\d+\) Exchange[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan
        )
        assert exchanges, plan
        for cols in exchanges:
            is_pair_row = "key_a" in cols and "key_b" in cols
            assert not (is_pair_row and "content" in cols), cols
        # two kernels: fingerprints (reads content per DOC — fine) and the
        # pair-row verify, which must see only the JVM-cut windows
        mps = re.findall(r"\(\d+\) MapInPandas[^\n]*\nInput \[\d+\]: \[([^\]]*)\]",
                         plan)
        pair_mps = [cols for cols in mps if "key_b" in cols]
        assert pair_mps, plan
        for cols in pair_mps:
            assert "content" not in cols and "wins_a" in cols, cols

    def test_multimodal_metadata_pruned(self, spark):
        """Only (asset_id, kind, payload) reach the decode UDF — the media
        metadata struct stays JVM-side (binary column pruning). Split back
        out of the substring plan test it was merged into (VERDICT r3 #3)."""
        from dedup.multimodal import assets_from_documents, extract_features

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = physical_plan(extract_features(assets_from_documents(docs)))
        assert "BatchEvalPython" not in plan
        assert "media_meta" not in plan.split("MapInPandas")[0], (
            "metadata struct must not cross the Arrow boundary"
        )


class TestIncrementalSubstringPlans:
    def test_incremental_substring_pair_rows_content_free(self, spark):
        """The incremental candidate generator + shared verifier keep the
        batch pass's 100TB invariants: no pair-row exchange carries content,
        the pair-side kernel sees only JVM-cut windows, and no row-Python
        appears anywhere."""
        import re

        from dedup.config import DedupConfig
        from dedup.suffix import (
            fingerprints,
            incremental_anchored_candidates,
            verified_substring_pairs,
        )

        cfg = DedupConfig(substring_min_len=64)
        corpus = spark.read.parquet(f"{SF}/documents.parquet").select(
            F.format_string("d%06d", "doc_id").alias("doc_key"),
            F.coalesce("text", F.lit("")).alias("content"),
        )
        old = corpus.where("doc_key < 'd000300'")
        new = corpus.where("doc_key >= 'd000300'")
        old_fps = fingerprints(old, cfg)
        new_fps = fingerprints(new, cfg)
        cand = incremental_anchored_candidates(new_fps, old_fps, cfg)
        conf = spark.conf
        old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = conf.get("spark.sql.adaptive.enabled")
        try:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            conf.set("spark.sql.adaptive.enabled", "false")
            df = verified_substring_pairs(cand, corpus, cfg)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
            conf.set("spark.sql.adaptive.enabled", old_aqe)
        assert "BatchEvalPython" not in plan
        exchanges = re.findall(
            r"\(\d+\) Exchange[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan
        )
        assert exchanges, plan
        for cols in exchanges:
            is_pair_row = "key_a" in cols and "key_b" in cols
            assert not (is_pair_row and "content" in cols), cols
        mps = re.findall(
            r"\(\d+\) MapInPandas[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan
        )
        pair_mps = [cols for cols in mps if "key_b" in cols]
        assert pair_mps, plan
        for cols in pair_mps:
            assert "content" not in cols and "wins_a" in cols, cols


# (Exchange, Generate) counts of the two bucket joins on the fixture corpus
CANDIDATE_PAIRS_NODES = (7, 1)
STREAM_PAIRS_NODES = (7, 5)


def _node_counts(df) -> tuple[int, int]:
    """(Exchange, Generate) operators in df's executed plan."""
    plan = physical_plan(df)
    return plan.count("Exchange"), plan.count("Generate ")


class TestBucketJoinPlans:
    """The two benchmarked bucket joins, pinned by operator count: the
    batch LSH self join and the stream epoch's new-vs-all probe join, both
    the one salted probe_join shape of dedup/buckets.py. A pin may be
    tightened when a change removes operators, never loosened."""

    def test_candidate_pairs_plan_pinned(self, spark, corpus):
        from dedup.lsh import candidate_pairs

        sigs = compute_signatures(key_docs(corpus), CFG)
        pairs, dropped = candidate_pairs(
            materialize(compute_bands(sigs, CFG), eager=False), CFG)
        assert _node_counts(pairs) == CANDIDATE_PAIRS_NODES
        assert _node_counts(dropped) == (1, 0)

    def test_stream_epoch_pairs_plan_pinned(self, spark, corpus):
        from dedup.streaming import _incremental_candidates

        keyed = key_docs(corpus)
        new = materialize(compute_signatures(
            keyed.where(F.col("path") >= "doc/000000000400"), CFG), eager=True)
        old = materialize(compute_bands(compute_signatures(
            keyed.where(F.col("path") < "doc/000000000400"), CFG), CFG),
            eager=True)
        pairs, _ = _incremental_candidates(new, old, CFG)
        assert _node_counts(pairs) == STREAM_PAIRS_NODES
