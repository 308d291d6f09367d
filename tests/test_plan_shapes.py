"""Physical-plan regression guards: the audited plan properties from
README §Plan shapes, asserted so future rounds can't silently regress
them (a second exchange in the extract path, a lost broadcast, a lost
filter pushdown)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _extract_turns(spark):
    return spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "cast(event_id as string) as conv_id",
        "cast(event_id % 5 as int) as turn_idx",
        "'user' as role",
        "props as text",
    )


def test_extract_single_exchange(spark):
    """The pipeline's contract: exactly ONE exchange, partitioned by
    the sink's conversation bucket over the TURN rows (below the
    kernel), with an explicit partition count that AQE keeps; no
    window, the ids are stamped in the kernel iterator. The salted
    variant adds one bucket-keyed span exchange, still no window."""
    from eynollah_spark.operators.extract import extract_spans, extract_spans_salted

    df = extract_spans(_extract_turns(spark))
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    bucket = "direct_shuffle_partition_id(cast(pmod(xxhash64(conv_id"
    assert f"Exchange shufflepartitionidpassthrough({bucket}" in plan, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    # the tree prints parents first: the exchange sits under the kernel
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    assert "Window" not in plan, plan
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final, final
    assert "coalesced" not in final, final

    salted = _plan(extract_spans_salted(_extract_turns(spark)))
    assert salted.count("Exchange") == 2, salted
    assert f"Exchange shufflepartitionidpassthrough({bucket}" in salted, salted
    assert "Window" not in salted, salted


def test_star_join_broadcasts_dims(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["region_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 3


def test_range_join_is_broadcast_nested_loop(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["order_price_buckets"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_pricing_summary_pushdown_and_partial_agg(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "PushedFilters: [" in plan
    # partial (map-side) aggregation before the single exchange
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2


def test_anti_join_is_broadcast(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["customers_without_orders"](spark, SF))
    assert "LeftAnti" in plan and "Broadcast" in plan, plan


def test_ivf_centroid_pick_is_distributed(spark):
    """IVF ANN: the centroid pick must compile to TakeOrderedAndProject
    (per-partition top-n merged at the driver), NOT a global
    single-partition window sort over the corpus."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["ann_ivf_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_interval_sweep_is_bucket_partitioned(spark):
    """activity_bands: the running-max sweep must run inside day
    buckets (partitioned window); only the one-row-per-day summary may
    cross buckets through a single-partition window."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["activity_bands"](spark, SF))
    assert "hashpartitioning(bucket" in plan, plan


def test_containment_join_is_hash_not_bnlj(spark):
    """session_containment: the bucketed prejoin turns the interval
    containment into an equi-join — no O(S^2) nested-loop product."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["session_containment"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_topk_no_corpus_shuffle_before_scoring(spark):
    """Brute-force ANN: query set broadcast; the only exchange is the
    per-query window for top-k ranking."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["embedding_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_kmeans_init_distributed_and_assignment_broadcast(spark):
    """kmeans_lloyd: the init pick compiles to TakeOrderedAndProject
    (no global sort / single-partition window over the corpus), and
    every assignment joins against BROADCAST centroids — the corpus is
    never shuffled for assignment, no CartesianProduct forms."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["kmeans_embeddings"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_classifier_broadcasts_weight_dim(spark):
    """The hashed classifier's (bucket, weight) table is a bounded dim
    — its join must be broadcast, never a shuffled sort-merge."""
    from eynollah_spark.operators.text_analysis import hashed_classifier_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(hashed_classifier_scores(docs))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_lm_scores_no_cartesian_no_raw_string_shuffle(spark):
    """bigram_lm_scores: the vocab scalar rides a broadcast nested-loop
    (1-row), never a CartesianProduct; count joins shuffle on the
    60-bit hash keys, not raw bigram strings."""
    from eynollah_spark.operators.text_analysis import bigram_lm_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bigram_lm_scores(docs))
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(bh" in plan and "hashpartitioning(ph" in plan


def test_substring_scrub_shuffles_on_hash_keys(spark):
    """duplicate_ngram_scrub: k-gram stats shuffle on the hash key and
    coverage is a windowed running max per doc — no self-join blowup,
    no cartesian."""
    from eynollah_spark.operators.dedup import duplicate_ngram_scrub

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(duplicate_ngram_scrub(docs))
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(kh" in plan
    assert "specifiedwindowframe(RowFrame" in plan or "Window" in plan


def test_bpe_pair_counts_is_two_agg_stages_no_bnlj(spark):
    """Word-count then pair aggregation: partial aggregation before
    each exchange, no nested-loop joins anywhere, and the final top-N
    is TakeOrderedAndProject (no global sort of the pair table)."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["bpe_pair_counts"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_preference_pairs_join_is_hash_on_pk(spark):
    """The same-prompt self-join must be an equi hash/sort-merge join
    on the md5 key — never a nested loop — and the cap window must be
    hash-partitioned by pk (no single-partition window)."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["preference_pairs"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(pk" in plan


def test_train_shard_stats_single_agg_exchange(spark):
    """Shard assignment is map-side; the manifest costs exactly one
    hash exchange (the shard groupBy) plus partial aggregation."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["train_shards"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()


def test_pq_grouped_chain_bounded_shuffles(spark):
    """The m per-subspace PQ kmeans chains run as ONE grouped Lloyd
    chain: assignments are broadcast-codebook joins + map-side-partial
    max_by aggs, so the whole pq_codes plan stays under a fixed
    shuffle budget and never sort-merge-joins (the per-subspace
    formulation compiled to 72 shuffles / 96 windows / 3 SMJs)."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["pq_codes"](spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 25, plan.count(
        "Exchange hashpartitioning"
    )
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Window") <= 5


def test_winnowing_zero_exchange(spark):
    """Winnowing fingerprints are pure scan-side array expressions —
    no shuffle, no UDF, column-pruned scan."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["winnowing_fingerprints"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_budget_offsets_join_adaptive(spark):
    """token_budget_sample's offsets join carries NO broadcast hint
    (n_groups x n_buckets is unbounded for a per-domain budget — AQE
    decides, the jaccard-sizes delegation); at test scale AQE's final
    plan broadcasts it. The in-bucket cumsum window is keyed
    (group, bucket), never group alone."""
    import __spark_entry__ as em

    df = em.queries()["token_budget_sample"](spark, SF)
    df.collect()  # let AQE finalize the adaptive plan
    plan = _plan(df)
    assert "ResolvedHint" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "windowspecdefinition(source" in plan and "_b" in plan, plan


def test_cdc_dedup_single_chunk_exchange(spark):
    """cdc_chunk_stats: chunking is scan-side codegen; the only wide
    stages are the chunk-hash aggregate/join and the final doc fold."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["cdc_dedup"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # no window operator at all — aggregates only
    assert "Window" not in plan, plan


def test_hard_negatives_ann_plan_is_probed_not_cartesian(spark):
    """ANN hard-negative mining: the centroid pick compiles to
    TakeOrderedAndProject, probes and centroids broadcast (no
    all-pairs cartesian against the corpus), and the candidate join
    keys on centroid_id — the bucketed scan shape that holds at 10^9
    vectors."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["hard_negatives_ann"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin [centroid_id" in plan, plan
