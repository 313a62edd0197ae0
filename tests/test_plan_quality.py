"""Physical-plan quality gates (SURVEY §4, BASELINE scale posture).

These tests pin the plan SHAPES that make the engine scale, so a future
refactor that silently regresses one (a lost filter pushdown, a broadcast
that becomes a shuffle join, a top-k that sorts globally) fails CI — the
100 TB concerns checked at sf0.001 cost.

Each assertion reads the *executed* plan string (AQE final plan where
relevant); they check structural markers, not exact operator trees, so
Spark-version formatting changes don't break them.
"""
from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sciencebeam_parser_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF_DIR)
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestPushdownAndPruning:
    def test_filter_pushdown_reaches_scan(self, spark):
        # q10 filters on o_orderdate/l_shipdate/c_mktsegment — all three
        # must reach the parquet scans as PushedFilters
        plan = plan_of(spark, "q10_shipping_priority")
        assert "PushedFilters: [" in plan
        assert plan.count("PushedFilters: [IsNotNull") >= 2

    def test_column_pruning(self, spark):
        # q68 projects 4 derived columns from one text column — the scan
        # must not read other document columns (ReadSchema minimal)
        plan = plan_of(spark, "q68_token_count")
        scan_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
        assert "text" in scan_schema
        assert "source" not in scan_schema and "lang" not in scan_schema


class TestJoinStrategies:
    def test_dimension_join_broadcasts(self, spark):
        plan = plan_of(spark, "q11_broadcast_dim_join")
        assert "BroadcastHashJoin" in plan

    def test_gazetteer_lookups_broadcast(self, spark):
        # q105's two name-gazetteer joins must be broadcast — the token
        # fact table must NOT shuffle for a lookup
        plan = plan_of(spark, "q105_citation_token_features")
        assert plan.count("BroadcastHashJoin") >= 2

    def test_lsh_pairs_join_on_bucket(self, spark):
        # the near-dup candidate join keys on (band, chunk)/bucket — the
        # plan must contain an equi hash/merge join, never a cartesian
        for name in ("q100_dedup_simhash_pairs", "q62_dedup_minhash_lsh_pairs"):
            plan = plan_of(spark, name)
            assert "CartesianProduct" not in plan, name
            assert "NestedLoop" not in plan, name


class TestTopKAndAggs:
    def test_global_topk_take_ordered(self, spark):
        # a global ORDER BY + LIMIT must compile to TakeOrderedAndProject,
        # not a full sort
        plan = plan_of(spark, "q30_global_topk")
        assert "TakeOrderedAndProject" in plan

    def test_simhash_single_aggregate(self, spark):
        # the 32-vote simhash is ONE partial+final aggregate pair over the
        # exploded words — no bit-explode join, no extra shuffle rounds
        plan = plan_of(spark, "q64_dedup_simhash")
        assert "HashAggregate" in plan
        assert plan.count("Exchange") <= 2

    def test_fingerprint_is_map_only(self, spark):
        # q69 computes per-doc aggregates as array expressions — the plan
        # must contain NO shuffle at all
        plan = plan_of(spark, "q69_doc_fingerprint")
        assert "Exchange" not in plan


class TestWholeStageCodegen:
    @pytest.mark.parametrize(
        "name",
        ["q82_token_features", "q103_header_token_features"],
    )
    def test_feature_vectors_are_codegen(self, spark, name):
        # feature projections must run inside whole-stage codegen (the
        # Catalyst-beats-Python-loops claim), not as interpreted Python.
        # Execute first: AQE finalizes codegen spans only after an action.
        df = REGISTRY[name].build(spark, SF_DIR)
        df.collect()  # count() would spawn a separate query execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        # '*(n)' prefixes mark whole-stage-codegen'd operators in the
        # finalized AQE plan string
        assert "*(" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestCorpusOps:
    def test_sample_is_map_only_and_pruned(self, spark):
        # q125 must stay a single map-side scan+filter+project: no
        # exchange, and the scan must not read the wide text column
        plan = plan_of(spark, "q125_corpus_sample")
        assert "Exchange" not in plan
        assert "text" not in plan.split("FileScan", 1)[1].split("]", 1)[0]

    def test_packing_single_shuffle_on_shard_key(self, spark):
        # q126: exactly one exchange (hashpartitioning on source) feeding
        # the running-sum window — shards pack independently
        plan = plan_of(spark, "q126_sequence_packing")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "source" in plan.split("Exchange hashpartitioning", 1)[1].split(
            ")"
        )[0]

    def test_grouping_sets_single_expand(self, spark):
        # q37: all three grouping sheets from ONE scan via Expand — not a
        # union of separate aggregations
        plan = plan_of(spark, "q37_grouping_sets")
        assert plan.count("Expand") == 1
        assert plan.count("FileScan") == 1


class TestPythonStageParallelism:
    def test_pandas_stages_keep_every_core(self, spark):
        """CPU-bound pandas stages must run at defaultParallelism, not at
        whatever partition count AQE's byte-based coalescing leaves (a few
        MB of entities collapse to ONE partition, serializing the XML
        build — measured ~10s single-threaded vs ~1s parallel at sf0.1)."""
        from sciencebeam_parser_spark.queries.pipeline_ops import (
            _mock_labeled_tokens,
            run_fulltext_cascade,
        )
        from sciencebeam_parser_spark.sinks.tei import entities_to_tei

        toks, labels = _mock_labeled_tokens(spark, SF_DIR)
        tei = entities_to_tei(run_fulltext_cascade(toks, labels))
        n = tei.rdd.getNumPartitions()
        assert n == spark.sparkContext.defaultParallelism, (
            f"TEI build runs on {n} partitions; AQE coalescing would "
            "serialize the Python work"
        )

    def test_repartition_for_python_is_exempt_from_aqe(self, spark):
        from sciencebeam_parser_spark.utils import repartition_for_python

        df = spark.range(10).withColumn("doc_id", (F.col("id") % 3))
        out = repartition_for_python(df, "doc_id")
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )


    @pytest.mark.parametrize(
        "stage", ["function_model", "weight_table_model", "extract_names"]
    )
    def test_per_document_passes_keep_every_core(self, spark, stage):
        """The same check for the other map_documents passes."""
        out = per_document_pass(spark, stage)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def per_document_pass(spark, stage):
    """One small map_documents pass: a label model over three tokens, or
    the name grammar over two runs."""
    if stage == "extract_names":
        from sciencebeam_parser_spark.operators.extract_grammars import (
            extract_names,
        )

        runs = spark.createDataFrame(
            [("d1", "g1", 0, "<forename>", "Ada"),
             ("d1", "g1", 1, "<surname>", "Lovelace")],
            "doc_id string, group_id string, entity_group int, tag string, "
            "text string",
        )
        return extract_names(runs)
    from sciencebeam_parser_spark.plans.models import (
        FunctionLabelModel,
        WeightTableLabelModel,
        apply_model,
    )

    if stage == "function_model":
        model = FunctionLabelModel("m", lambda texts: ["O"] * len(texts))
    else:
        model = WeightTableLabelModel.distribute(
            spark, "wt_plan", weights={"<body>": {"bias": 1.0}}
        )
    tokens = spark.createDataFrame(
        [("d1", 0, "a"), ("d1", 1, "b"), ("d2", 0, "c")],
        "doc_id string, token_seq long, text string",
    )
    return apply_model(tokens, model)


@contextmanager
def job_group(spark):
    """Run the block under a job group of its own; yields a callable that
    counts the Spark jobs started in the group so far."""
    sc = spark.sparkContext
    group = f"plan-quality-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def marker_bearing_labels(labels):
    """Relabel each doc's first five BODY-region fulltext tokens as
    figure_marker (2 tokens) + figure (3 tokens), so every document has a
    citation marker and a figure to match it to. The body gate must match
    the mock segmentation rule ((seq-1)*10 in [n*3, n*7)): labels on
    front/back tokens are dropped by the cascade's region join and would
    leave the corpus marker-free."""
    ft = labels.filter(F.col("model_name") == "fulltext").withColumn(
        "_n", F.count("*").over(W.partitionBy("doc_id"))
    )
    scaled = (F.col("token_seq") - 1) * 10
    ft = ft.withColumn(
        "_body", (scaled >= F.col("_n") * 3) & (scaled < F.col("_n") * 7)
    )
    w = W.partitionBy("doc_id", "_body").orderBy("token_seq")
    ft = ft.withColumn("_rn", F.row_number().over(w))
    relabeled = ft.withColumn(
        "label",
        F.when(~F.col("_body"), F.col("label"))
        .when(F.col("_rn") == 1, "B-<figure_marker>")
        .when(F.col("_rn") == 2, "I-<figure_marker>")
        .when(F.col("_rn") == 3, "B-<figure>")
        .when(F.col("_rn").isin(4, 5), "I-<figure>")
        .otherwise(F.col("label")),
    ).drop("_rn", "_n", "_body")
    return labels.filter(F.col("model_name") != "fulltext").unionByName(relabeled)


class TestCascadePlan:
    def test_cascade_is_one_shuffle_one_python_stage_no_job(self, spark):
        """The cascade co-locates tokens and labels once and runs one
        Python pass per document: no broadcast, no cached relation, and
        no job while it builds."""
        from sciencebeam_parser_spark.plans.cascade import run_fulltext_cascade

        tokens = spark.createDataFrame(
            [("d1", 1, "Figure"), ("d1", 2, "1")],
            "doc_id string, token_seq long, text string",
        )
        labels = spark.createDataFrame(
            [("d1", 1, "segmentation", "B-<body>"),
             ("d1", 2, "segmentation", "I-<body>"),
             ("d1", 1, "fulltext", "B-<figure>"),
             ("d1", 2, "fulltext", "I-<figure>")],
            "doc_id string, token_seq long, model_name string, label string",
        )
        with job_group(spark) as jobs:
            ents = run_fulltext_cascade(tokens, labels)
            assert jobs() == 0
        plan = ents._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("MapInPandas") == 1
        assert "BroadcastExchange" not in plan
        assert "InMemoryRelation" not in plan


class TestCitationMatcherJobs:
    def test_matcher_is_one_shuffle_one_python_stage_no_job(self, spark):
        from sciencebeam_parser_spark.operators.ref_matching import (
            match_content_ids,
        )

        cit = spark.createDataFrame(
            [("d1", "c1", "Fig 1")],
            "doc_id string, citation_id string, text string",
        )
        tgt = spark.createDataFrame(
            [("d1", "t1", "Figure 1", 0)],
            "doc_id string, content_id string, text string, target_seq long",
        )
        with job_group(spark) as jobs:
            out = match_content_ids(cit, tgt)
            assert jobs() == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("MapInPandas") == 1

    def test_marker_cascade_and_tei_job_count(self, spark):
        """The marker-bearing cascade plus the TEI sink over the sf0.001
        corpus (500 documents, one figure marker each). The per-document
        matcher brought this from 29 jobs to 17, the per-document cascade
        to 3."""
        from sciencebeam_parser_spark.plans.cascade import run_fulltext_cascade
        from sciencebeam_parser_spark.queries.pipeline_ops import (
            _mock_labeled_tokens,
        )
        from sciencebeam_parser_spark.sinks.tei import entities_to_tei

        toks, labels = _mock_labeled_tokens(spark, SF_DIR)
        labels = marker_bearing_labels(labels).localCheckpoint()
        toks = toks.localCheckpoint()
        with job_group(spark) as jobs:
            ents = run_fulltext_cascade(toks, labels)
            tei = entities_to_tei(ents)
            tei.write.format("noop").mode("overwrite").save()
            n_jobs = jobs()
        assert n_jobs <= 3
        # as many markers resolve as under the SQL-chain matcher
        assert ents.filter(F.col("target_content_id").isNotNull()).count() == 291


class TestLabelModelPlans:
    @pytest.mark.parametrize("stage", ["function_model", "weight_table_model"])
    def test_apply_model_is_one_shuffle_one_python_stage_no_job(
        self, spark, stage
    ):
        with job_group(spark) as jobs:
            out = per_document_pass(spark, stage)
            assert jobs() == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("MapInPandas") == 1


class TestPartitionedLayout:
    def test_partitioned_scan_prunes_directories(self, spark):
        """q149's lang filter must become PartitionFilters on the scan
        (directory pruning at planning time), not a per-row Filter."""
        plan = plan_of(spark, "q149_partition_pruned_scan")
        seg = plan.split("PartitionFilters:", 1)
        assert len(seg) == 2, "scan lost its partition filters"
        assert "lang" in seg[1].splitlines()[0]


class TestContainmentJoin:
    def test_interval_containment_broadcasts_the_dim(self, spark):
        """q19's bucket dim is 4 rows: the containment (theta) join must be
        a broadcast nested-loop over the fact scan, never a shuffle."""
        plan = plan_of(spark, "q19_interval_containment_join")
        assert "BroadcastNestedLoopJoin" in plan
        assert "Exchange hashpartitioning" not in plan.split("HashAggregate")[-1]


class TestRound4PlanShapes:
    def test_paragraph_dedup_single_shuffle(self, spark):
        # q163: one Exchange on the segment key drives both the window
        # dedup and the copy count — no second shuffle
        plan = plan_of(spark, "q163_paragraph_dedup")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_semantic_dispatch_single_scan_single_agg_exchange(self, spark):
        # q158: the 4-model stack rides ONE documents scan; the only
        # shuffle is the aggregation exchange
        plan = plan_of(spark, "q158_semantic_type_dispatch")
        assert plan.count("Scan parquet") == 1
        assert plan.count("Exchange hashpartitioning") == 1

    def test_cv_chain_python_stages_pipeline(self, spark):
        # q161: render → detect must PIPELINE (no exchange between the
        # two python stages); the cv subtree appears twice in the anti-
        # join plan, so check every detect→render pair
        lines = plan_of(spark, "q161_cv_provider_chain").splitlines()
        pairs = 0
        for i, line in enumerate(lines):
            if "MapInPandas detect" not in line:
                continue
            for below in lines[i + 1:]:
                if "MapInPandas render" in below:
                    pairs += 1
                    break
                assert "Exchange" not in below, "shuffle between stages"
        assert pairs >= 1

    def test_weight_model_single_python_stage(self, spark):
        # q156: one mapInPandas labeling stage over the repartitioned
        # tokens; no extra shuffles after the pinned repartition
        plan = plan_of(spark, "q156_weight_model_labels")
        assert plan.count("MapInPandas") == 1


class TestCurationPlanShapes:
    def test_quality_classifier_is_map_only(self, spark):
        # q169: classifier inference is a pure projection — zero shuffles
        plan = plan_of(spark, "q169_quality_classifier")
        assert "Exchange" not in plan

    def test_weighted_sample_take_ordered(self, spark):
        # q171: priority top-k must be per-partition heaps + driver merge,
        # never a global sort
        plan = plan_of(spark, "q171_weighted_sample")
        assert "TakeOrderedAndProject" in plan
        assert "Sort [" not in plan.replace("TakeOrderedAndProject", "")

    def test_domain_cap_single_shuffle_with_group_limit(self, spark):
        # q172: one Exchange on the domain key; the rank filter pushes a
        # WindowGroupLimit below it so mega-domains truncate map-side
        plan = plan_of(spark, "q172_domain_cap")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "WindowGroupLimit" in plan

    def test_interval_join_is_equi_not_nested_loop(self, spark):
        # q173: the bin rewrite must produce a hash/merge equi-join —
        # the naive theta-join plan would be a nested loop
        plan = plan_of(spark, "q173_interval_bin_join")
        assert "NestedLoop" not in plan
        assert "CartesianProduct" not in plan

    def test_bigram_lm_aggs_are_partial(self, spark):
        # q168: LM training counts must have map-side partial aggregation
        # (two-phase HashAggregate), and the vocab scalar must broadcast
        plan = plan_of(spark, "q168_bigram_lm_score")
        assert plan.count("HashAggregate") >= 4
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_percentile_gate_reuses_checkpoint(self, spark):
        # q176: the LM scoring pipeline must run once — the threshold and
        # gate passes both read the checkpointed scan, so the executed
        # plan contains no bigram explode/join at all
        plan = plan_of(spark, "q176_perplexity_percentile_gate")
        assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
        assert "Generate explode" not in plan

    def test_incremental_dedup_static_side_builds_hash_set(self, spark):
        # q175's batch twin shape: the ingested-corpus side must reach the
        # join as a projected hash column only (text never shuffles twice)
        from sciencebeam_parser_spark.queries.curation_ops import (
            _documents_stream,  # noqa: F401 - import sanity
        )
        df = REGISTRY["q175_streaming_incremental_dedup"].build(
            spark, SF_DIR
        )
        assert df.count() > 0


class TestRound4bPlanShapes:
    def test_mixture_budgets_broadcast(self, spark):
        # q183's budgets dim (one row per source) must broadcast — the
        # corpus fact table never shuffles for the budget lookup
        plan = plan_of(spark, "q183_token_budget_mixture")
        assert "BroadcastHashJoin" in plan

    def test_rag_chunking_single_shuffle(self, spark):
        # explode fan-out is map-side; the only Exchange is the final
        # (doc_id, chunk_id) aggregation
        plan = plan_of(spark, "q188_rag_chunking")
        assert plan.count("Exchange") <= 2  # partial+final agg pair
        assert "CartesianProduct" not in plan

    def test_bpe_pairs_take_ordered(self, spark):
        plan = plan_of(spark, "q180_bpe_pair_counts")
        assert "TakeOrderedAndProject" in plan

    def test_anomaly_stats_broadcast(self, spark):
        # q187's per-type stats (5 rows) broadcast back over daily counts
        plan = plan_of(spark, "q187_daily_anomaly_zscore")
        assert "BroadcastHashJoin" in plan

    def test_audio_features_single_python_stage(self, spark):
        # one mapInPandas stage, no shuffle (map-only multimodal kernel)
        plan = plan_of(spark, "q190_audio_features")
        assert plan.count("MapInPandas") == 1
        assert "Exchange" not in plan

    def test_corrupt_record_handling_map_only(self, spark):
        plan = plan_of(spark, "q189_corrupt_record_handling")
        assert "Exchange" not in plan


class TestRound4cPlanShapes:
    def test_bm25_stats_broadcast_and_topk(self, spark):
        # corpus stats are ONE broadcast row; top-10 compiles to
        # TakeOrderedAndProject (no global sort of scores)
        plan = plan_of(spark, "q197_bm25_topk")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan

    def test_bloom_prune_broadcasts_the_bits(self, spark):
        # both the bit-set join and the truth semi-join broadcast the
        # tiny side — the fact relation never shuffles
        plan = plan_of(spark, "q199_bloom_join_prune")
        assert plan.count("BroadcastHashJoin") >= 2

    def test_scd2_single_shuffle(self, spark):
        # both windows share the (custkey) partitioning — one Exchange
        plan = plan_of(spark, "q200_scd2_history")
        assert plan.count("Exchange") == 1

    def test_record_linkage_is_equi_join(self, spark):
        # blocking keys make the candidate join a hash/merge equi-join,
        # never a cartesian scan of all part pairs
        plan = plan_of(spark, "q201_record_linkage")
        assert "CartesianProduct" not in plan
        assert "NestedLoop" not in plan

    def test_triangle_joins_are_equi(self, spark):
        # the edge-edge joins must be hash joins (the 1-row stats / 3-row
        # k crossJoins legitimately plan as bounded broadcast nested loops)
        plan = plan_of(spark, "q202_triangle_count")
        assert "CartesianProduct" not in plan
        assert plan.count("ShuffledHashJoin") + plan.count(
            "SortMergeJoin"
        ) + plan.count("BroadcastHashJoin") >= 2

    def test_ahash_dedup_single_kernel_execution(self, spark):
        # the signature kernel is localCheckpoint'ed: the band self-join
        # must NOT re-execute the Python stage (it appeared 10x before),
        # and candidate generation is an equi-join, never cartesian
        plan = plan_of(spark, "q206_image_ahash_dedup")
        assert "CartesianProduct" not in plan
        assert plan.count("MapInPandas") == 0  # materialized upstream

    def test_zorder_interleave_is_jvm_side(self, spark):
        # the Morton spread is pure bitwise arithmetic — no UDF, no
        # python boundary, and the scan reads only the 3 needed columns
        plan = plan_of(spark, "q205_zorder_layout")
        assert "Python" not in plan and "MapInPandas" not in plan
        scan_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
        assert "o_totalprice" not in scan_schema

    def test_hll_registers_are_partial_aggregates(self, spark):
        # register max per bucket partial-aggregates map-side before the
        # single shuffle per grouping
        plan = plan_of(spark, "q198_hll_distinct_sketch")
        assert "HashAggregate" in plan
        assert "CartesianProduct" not in plan

    def test_gopher_repetition_projection_side_has_no_shuffle(self, spark):
        # the dup-n-gram fractions are array projections; the only
        # aggregates are the (doc_id, word) count pair, and the join back
        # is on doc_id — no cartesian, no python boundary
        plan = plan_of(spark, "q216_gopher_repetition")
        assert "Python" not in plan and "CartesianProduct" not in plan

    def test_pmi_topk_take_ordered(self, spark):
        # top-50 by rounded PMI compiles to TakeOrderedAndProject; the
        # 1-row total relation broadcasts
        plan = plan_of(spark, "q217_pmi_collocations")
        assert "TakeOrderedAndProject" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_gap_fill_windows_share_user_shuffle(self, spark):
        # grid explode is map-side over the per-user bounds; the running
        # count window and the group-max window both hash on user_id
        plan = plan_of(spark, "q218_gap_fill_resample")
        assert "CartesianProduct" not in plan
        assert "Python" not in plan

    def test_embedding_dim_stats_partial_agg(self, spark):
        # posexplode fans out map-side; ONE exchange pair for the
        # (label, dim) aggregate — fixed key space, partial agg first
        plan = plan_of(spark, "q219_embedding_dim_stats")
        assert plan.count("Exchange") <= 2
        assert "HashAggregate" in plan
        assert "Python" not in plan

    def test_span_removal_joins_are_equi(self, spark):
        # gram dedup is a semi-join on the gram key; coverage anti-join is
        # equi on (doc_id, pos) — nothing quadratic, no python boundary
        plan = plan_of(spark, "q220_duplicate_span_removal")
        assert "CartesianProduct" not in plan
        assert "Python" not in plan

    def test_hll_rollup_registers_partial_aggregate(self, spark):
        # daily registers and the merge are both max() hash aggregates —
        # partial map-side, tiny fixed key space
        plan = plan_of(spark, "q221_hll_time_rollup")
        assert "HashAggregate" in plan
        assert "CartesianProduct" not in plan

    def test_bfs_rounds_cut_lineage(self, spark):
        # after 3 localCheckpoint'ed rounds the final plan must not
        # re-derive the whole loop: the checkpoint scan is the leaf
        plan = plan_of(spark, "q222_bfs_khop")
        assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan

    def test_bpe_encode_no_corpus_reshuffle(self, spark):
        # encode applies broadcast 1-row merges to the word-type table:
        # no sort-merge join, no cartesian against anything corpus-sized
        plan = plan_of(spark, "q224_bpe_encode")
        assert "SortMergeJoin" not in plan
        assert "Python" not in plan

    def test_ewma_single_shuffle(self, spark):
        # daily agg + 8-lag window share the event_type hash partitioning:
        # exactly one Exchange after the scan-side partial aggregate
        plan = plan_of(spark, "q225_ewma_spike")
        assert plan.count("Exchange hashpartitioning") <= 2
        assert "CartesianProduct" not in plan

    def test_pq_codes_codebook_broadcast(self, spark):
        # code assignment joins the 16-row codebook via broadcast; the
        # only corpus-sized shuffle is the per-(vec, subspace) window
        plan = plan_of(spark, "q226_pq_codes")
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan

    def test_dynamic_partition_pruning_fires(self, spark):
        # the runtime-derived dim must prune the day-partitioned fact
        # scan: DynamicPruning subquery present on the scan's
        # PartitionFilters
        plan = plan_of(spark, "q227_dynamic_partition_pruning")
        assert "dynamicpruning" in plan.lower()

    def test_ivfpq_adc_join_broadcast(self, spark):
        # ADC scoring joins exploded codes against the broadcast distance
        # table — equi broadcast join, no cartesian against the corpus
        plan = plan_of(spark, "q228_ivfpq_search")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_lpa_rounds_cut_lineage(self, spark):
        # 2 localCheckpoint'ed voting rounds: the final plan reads the
        # checkpoint, not the whole unrolled loop
        plan = plan_of(spark, "q229_label_propagation")
        assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
        assert "CartesianProduct" not in plan

    def test_gdpr_purge_fact_side_never_shuffles_for_probe(self, spark):
        # subject probes are broadcast semi-joins; no sort-merge join and
        # no cartesian against any fact table
        plan = plan_of(spark, "q230_gdpr_purge")
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_rolling_distinct_no_range_join(self, spark):
        # the offset-explode rewrite must not leave a non-equi join
        # against the corpus: the only join is the broadcast day semi-join
        plan = plan_of(spark, "q234_rolling_distinct_users")
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_gram_matrix_single_aggregate_no_explode(self, spark):
        # X^T X is one map-side-combinable aggregate over per-row
        # products: partial_sum must appear below the exchange, and the
        # vectors never join or cross a Python boundary (the only
        # Generate is the stack() unpivot of the single aggregate row)
        plan = plan_of(spark, "q240_gram_matrix")
        assert "partial_sum" in plan
        assert "Join" not in plan
        assert "Python" not in plan

    def test_copurchase_self_join_copartitioned(self, spark):
        # basket self-join is an equi join on the order key — SMJ or
        # shuffled hash, never cartesian; supports aggregate map-side
        plan = plan_of(spark, "q242_copurchase_lift")
        assert "CartesianProduct" not in plan
        assert "HashAggregate" in plan

    def test_range_frame_window_single_shuffle(self, spark):
        # RANGE frame runs on one event_type hash partitioning
        plan = plan_of(spark, "q241_range_frame_window")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "CartesianProduct" not in plan

    def test_q5_chain_broadcasts_dimensions(self, spark):
        # the 6-table chain must broadcast the dims; the only sort-merge
        # candidate is the orders x lineitem big-big join
        plan = plan_of(spark, "q246_local_supplier_volume")
        assert plan.count("BroadcastHashJoin") >= 4
        assert "CartesianProduct" not in plan
        # the date range must reach the orders scan as pushed filters
        assert (
            "GreaterThanOrEqual(o_orderdate" in plan
            or "IsNotNull(o_orderdate)" in plan
        )

    def test_decorrelated_subquery_single_shuffle(self, spark):
        # the aggregate and the join share the customer-key partitioning
        plan = plan_of(spark, "q247_decorrelated_subquery")
        assert "CartesianProduct" not in plan

    def test_residual_ivfpq_broadcast_tables(self, spark):
        # residual formation and ADC scoring join only broadcast-sized
        # relations (centroids, codebooks, distance tables); no cartesian
        plan = plan_of(spark, "q248_residual_ivfpq_search")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestRound5cPlanShapes:
    def test_semdedup_pair_join_is_cluster_keyed(self, spark):
        # the pairwise scan must be an equi-join on the cluster key (the
        # lower-id condition is a residual filter), never a cartesian
        plan = plan_of(spark, "q254_semdedup")
        assert "CartesianProduct" not in plan
        # the pair scan is an equi-join keyed on the cluster id (the
        # lower-id + distance conditions ride as join residuals); the
        # k-means assignment's broadcast lives behind the localCheckpoint
        assert "hashpartitioning(cid" in plan

    def test_dsir_topk_compiles_to_take_ordered(self, spark):
        # the top-100 selection must not materialize a global sort of
        # every per-doc score
        plan = plan_of(spark, "q255_dsir_importance")
        assert "TakeOrderedAndProject" in plan

    def test_fertility_joins_type_table_not_corpus(self, spark):
        # the occurrence join keys on the word — a hash/merge equi-join;
        # no cartesian anywhere in the BPE chain
        plan = plan_of(spark, "q256_tokenizer_fertility")
        assert "CartesianProduct" not in plan

    def test_compaction_plan_inventory_sized_window(self, spark):
        # one aggregation feeds one global-order window over the tiny
        # inventory; the corpus itself contributes only the partial agg
        plan = plan_of(spark, "q257_compaction_plan")
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange") <= 4

    def test_rrf_fusion_broadcasts_query_set(self, spark):
        # dense candidates join the broadcast query set; the lexical arm
        # keys on the shingle — an equi-join, no cartesian text scan
        plan = plan_of(spark, "q262_hybrid_rrf_fusion")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_skew_audit_no_join_on_fact(self, spark):
        # every section is a pure aggregate; the only join is the 1-row
        # totals broadcast — no shuffle join against the fact
        plan = plan_of(spark, "q258_skew_audit")
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_join_size_sketch_single_scan_per_side(self, spark):
        # each relation folds to its CMS in ONE scan (array explode, not
        # a d-way union of re-scans)
        plan = plan_of(spark, "q259_join_size_estimate")
        assert plan.count("FileScan") <= 4  # cms1, cms2, c1, c2
        assert "CartesianProduct" not in plan

    def test_pit_join_keys_on_dimension(self, spark):
        # the containment rides as a residual on a custkey equi-join —
        # never a nested-loop over the fact
        plan = plan_of(spark, "q260_scd2_pit_join")
        assert "NestedLoop" not in plan
        assert "CartesianProduct" not in plan

    def test_cdc_apply_single_shuffle_no_join(self, spark):
        plan = plan_of(spark, "q261_cdc_apply")
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") <= 2  # live/deleted branches

    def test_cusum_single_partitioning(self, spark):
        # one exchange for the (event_type, day) aggregate, then ALL
        # three window passes (rank, baseline, running sums) share one
        # event_type partitioning — adding a window must not add a shuffle
        plan = plan_of(spark, "q263_cusum_drift")
        assert plan.count("Exchange hashpartitioning") == 2
        assert "Join" not in plan

    def test_chi2_drift_broadcasts_totals(self, spark):
        plan = plan_of(spark, "q264_distribution_drift")
        assert "BroadcastNestedLoopJoin" in plan  # 1-row totals
        assert "SortMergeJoin" not in plan


class TestSpark4SurfacePlans:
    def test_recursive_cte_is_union_loop(self, spark):
        # WITH RECURSIVE must compile to the engine-managed UnionLoop
        # fixpoint (one frontier equi-join per level), never a blown-up
        # nested-loop or a driver-side materialization
        plan = plan_of(spark, "q269_recursive_cte_reachability")
        assert "UnionLoop" in plan and "UnionLoopRef" in plan
        assert "CartesianProduct" not in plan

    def test_lateral_decorrelates_to_window(self, spark):
        # the LATERAL LIMIT subquery must decorrelate into a ranked
        # window (row_number over the correlation key), not re-execute
        # per outer row; dims still broadcast and filters still push
        plan = plan_of(spark, "q271_lateral_topk_per_group")
        assert "row_number" in plan
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert plan.count("PushedFilters: [I") >= 1

    def test_arrow_udf_single_narrow_stage(self, spark):
        # arrow_udf is ArrowEvalPython: exactly one Python boundary and
        # zero exchanges — a narrow map over the scan
        plan = plan_of(spark, "q272_arrow_udf_signature")
        assert plan.count("ArrowEvalPython") == 1
        assert "Exchange" not in plan

    def test_sql_udf_inlines_no_python_stage(self, spark):
        # SQL UDF bodies must inline into the plan: no Python boundary,
        # and the table function's threshold filter reaches the scan
        plan = plan_of(spark, "q273_sql_udf")
        assert "EvalPython" not in plan
        assert "GreaterThanOrEqual(n_chars" in plan

    def test_pipe_syntax_plans_like_ansi(self, spark):
        # pipe stages are syntax only: partial+final hash agg, the
        # post-aggregate |> WHERE stays above the aggregate (count
        # filter never appears as a scan pushdown)
        plan = plan_of(spark, "q274_pipe_syntax")
        assert plan.count("HashAggregate") >= 2
        assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or \
               "LessThanOrEqual(l_shipdate" in plan

    def test_collated_group_single_exchange(self, spark):
        plan = plan_of(spark, "q275_collated_group")
        assert plan.count("Exchange hashpartitioning") <= 2  # distinct+agg
        assert "Join" not in plan

    def test_runtime_bloom_filter_injects_when_broadcast_off(self, spark):
        """100 TB posture pin: when the filtered dim is too big to
        broadcast (autoBroadcastJoinThreshold=-1 simulates it), the
        optimizer must inject a runtime bloom semi-filter
        (bloom_filter_agg on the creation side, might_contain on the
        fact scan side) so the shuffle join moves only matching fact
        rows. At bench scale broadcast handles this, which is why the
        rule (correctly) stays quiet in the suite's plans."""
        from sciencebeam_parser_spark.queries.registry import table as _t

        sf = "/root/testdata/sf0.001"
        _t(spark, sf, "orders").createOrReplaceTempView("bloom_o")
        _t(spark, sf, "lineitem").createOrReplaceTempView("bloom_l")
        saved = {
            k: spark.conf.get(k)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.optimizer.runtime.bloomFilter."
                "applicationSideScanSizeThreshold",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter."
                "applicationSideScanSizeThreshold",
                "1KB",
            )
            df = spark.sql(
                """
                SELECT o.o_orderpriority, count(*) AS n
                FROM bloom_l l JOIN bloom_o o
                  ON l.l_orderkey = o.o_orderkey
                WHERE o.o_orderstatus = 'F' AND o.o_totalprice > 200000
                GROUP BY o.o_orderpriority
                """
            )
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in plan
            assert "might_contain" in plan
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    def test_parquet_aggregate_pushdown_under_v2_source(self, spark):
        """100 TB posture pin: bare count/min/max over parquet can be
        answered from footer statistics alone (PushedAggregation on the
        scan) when the v2 source is active — the zero-row-read path for
        corpus-size audits. The suite runs the v1 source (stable plan
        strings), so this documents the scale escape hatch rather than
        the default."""
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.parquet.aggregatePushdown",
                "spark.sql.sources.useV1SourceList",
            )
        }
        try:
            spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
            spark.conf.set("spark.sql.sources.useV1SourceList", "")
            df = spark.read.parquet(
                "/root/testdata/sf0.001/lineitem.parquet"
            )
            # numeric columns: timestamp min/max is NOT pushable (footer
            # stats for timestamps are not trusted), which this pin also
            # documents by omission
            agg = df.groupBy().agg(
                F.count("*").alias("n"),
                F.min("l_quantity").alias("lo"),
                F.max("l_extendedprice").alias("hi"),
            )
            plan = agg._jdf.queryExecution().executedPlan().toString()
            assert "PushedAggregation: [COUNT(*)" in plan
            row = agg.collect()[0]
            assert row.n == df.count()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_native_sketch_aggregates_are_partial(self, spark):
        # q284: ONE sketch aggregate pair (partial ObjectHashAggregate
        # per partition, final after a single non-keyed exchange) — the
        # rows themselves never shuffle
        plan = plan_of(spark, "q284_approx_top_k")
        assert "approx_top_k" in plan
        assert plan.count("ObjectHashAggregate") == 2
        assert plan.count("Exchange hashpartitioning") == 0

    def test_hll_rollup_merges_sketches_not_rows(self, spark):
        # q285: day agg + week agg = two keyed exchanges, each a
        # partial/final ObjectHashAggregate pair; the weekly level
        # re-aggregates SKETCHES (hll_union_agg), never raw rows
        plan = plan_of(spark, "q285_hll_sketch_rollup")
        assert "hll_sketch_agg" in plan and "hll_union_agg" in plan
        assert plan.count("ObjectHashAggregate") == 4
        assert plan.count("Exchange hashpartitioning") == 2


class TestInContextPacking:
    def test_broadcast_centroids_no_cartesian_scoring(self, spark):
        # the CENTROID joins are broadcast at any corpus scale (k rows);
        # the doc-token-count join is corpus x corpus and only broadcasts
        # here because the fixture side sits under the auto-broadcast
        # threshold — at real scale it is a keyed shuffle join, which is
        # the correct shape. This pin asserts the fixture-scale plan:
        # no cartesian products, packing via windows, never a global sort
        plan = plan_of(spark, "q289_incontext_packing")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestNoFullTableCollect:
    # VERDICT r5 item 3: no registered query may collect a full table to
    # the driver. The only sanctioned toPandas() sites are the two
    # explicitly size-gated / opt-in small-index fast paths.
    ALLOWED_TOPANDAS = {
        ("operators/similarity.py", "_score_pairs_numpy"),  # opt-in fast path
        ("queries/text_ops.py", "q65_similarity_topk"),  # size-gated
    }

    def test_topandas_sites_are_allowlisted(self):
        import ast
        import os

        import sciencebeam_parser_spark as pkg

        root = os.path.dirname(os.path.abspath(pkg.__file__))
        found = set()
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                rel = os.path.relpath(path, root)
                with open(path) as f:
                    tree = ast.parse(f.read())
                # map each toPandas call to its enclosing function name
                class V(ast.NodeVisitor):
                    def __init__(self):
                        self.stack = []

                    def visit_FunctionDef(self, node):
                        self.stack.append(node.name)
                        self.generic_visit(node)
                        self.stack.pop()

                    visit_AsyncFunctionDef = visit_FunctionDef

                    def visit_Attribute(self, node):
                        if node.attr == "toPandas":
                            fname = self.stack[-1] if self.stack else "<module>"
                            found.add((rel, fname))
                        self.generic_visit(node)

                V().visit(tree)
        assert found <= self.ALLOWED_TOPANDAS, (
            f"unsanctioned toPandas() sites: {found - self.ALLOWED_TOPANDAS}"
        )

    def test_ivf_topk_scale_path_is_joins_not_python(self, spark):
        # past the broadcast gate ivf_topk scores via the equi-join SQL
        # dot product: NO Python map stage, nothing collected. (Under the
        # gate the numpy fast path is allowed — q93 at bench scale takes
        # it, measured 4.5x faster; BASELINE §15.)
        from sciencebeam_parser_spark.operators.similarity import ivf_topk
        from sciencebeam_parser_spark.queries.registry import table

        emb = table(spark, SF_DIR, "embeddings")
        df = ivf_topk(emb, k=5, n_centroids=8, n_probe=2, scoring="sql")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan

    def test_ivf_topk_auto_gate_flips_to_sql_past_budget(self, spark, monkeypatch):
        # shrink the budget so the auto gate must pick the SQL path
        import sciencebeam_parser_spark.operators.similarity as sim
        from sciencebeam_parser_spark.queries.registry import table

        monkeypatch.setattr(sim, "MAX_BROADCAST_INDEX_CELLS", 1)
        emb = table(spark, SF_DIR, "embeddings")
        df = sim.ivf_topk(emb, k=5, n_centroids=8, n_probe=2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


class TestRound6Additions:
    def test_preference_pairs_join_is_keyed_not_cartesian(self, spark):
        # the chosen/rejected pairing must be a (source, rank) equi-join;
        # per-source windows reuse one hashpartitioning(source) exchange
        plan = plan_of(spark, "q292_preference_pairs")
        assert "CartesianProduct" not in plan
        assert "Join" in plan

    def test_curriculum_windows_partition_by_source(self, spark):
        # both windows key on source — no global (single-partition) sort
        plan = plan_of(spark, "q293_curriculum_order")
        assert "Window" in plan
        assert "SinglePartition" not in plan

    def test_dataset_card_broadcasts_bounded_sides(self, spark):
        # the dominant-lang dim and the 1-row grand total broadcast; the
        # only BNLJ is the intentional 1-row total attach
        plan = plan_of(spark, "q294_dataset_card")
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
