"""Physical-plan audits — the 100 TB design gates.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives scale: filters reach the parquet scan, scans
are column-pruned, dimension joins broadcast, aggregates partial-
aggregate before the shuffle, and sort+limit lowers to top-k.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ramen_spark.queries import QUERIES
from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    df = QUERIES["where_select_projection"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "PushedFilters:" in plan
    # both predicates pushed
    assert "l_quantity" in plan.split("PushedFilters:")[1][:300]
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:300]


def test_column_pruning(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_ORACLE)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1][:400]
    # 6 needed columns read, the rest pruned
    assert "l_quantity" in read_schema and "l_extendedprice" in read_schema
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema


def test_dimension_joins_broadcast(spark):
    df = QUERIES["join_revenue_by_region"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_before_shuffle(spark):
    df = QUERIES["tumbling_revenue_per_minute"](spark, SF_ORACLE)
    plan = _plan(df)
    # HashAggregate(partial) below the exchange, final above
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_sort_limit_is_topk(spark):
    df = QUERIES["top20_orders_global"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan  # not a global Sort


def test_whole_stage_codegen_hot_path(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_ORACLE)
    df.collect()  # AQE shows codegen spans only in the finalized plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark whole-stage-codegen spans in plan toString
    assert "*(1)" in plan and "*(2)" in plan


def test_lsh_join_is_equijoin_not_cartesian(spark):
    """The dedup/LSH self-joins must hash-join on the bucket key —
    a cartesian/BNLJ here would be O(N²) at scale."""
    from ramen_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    df = minhash_lsh_pairs(docs)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_queries_broadcast(spark):
    from ramen_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    df = brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_replay_partition_pruning(spark, tmp_path):
    from ramen_spark.sources.archive import archive, replay

    path = str(tmp_path / "arch")
    df = spark.range(1000).select(
        (F.col("id") * 3600.0).alias("start"), F.col("id").cast("double").alias("v")
    )
    archive(df, path, time_col="start")
    sl = replay(spark, path, 0.0, 86400.0)
    plan = _plan(sl)
    # dt partition filter present in the scan's partition filters
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1][:200]
    assert "dt" in seg


def test_salted_aggregate_two_stage_shape(spark):
    """The salted aggregate must be exactly two hash-partitionings:
    (key, salt) then (key) — and the values must equal the plain
    groupBy (algebraic decomposition)."""
    from ramen_spark.operators.skew import salted_aggregate
    from ramen_spark.catalog import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    out = salted_aggregate(
        ev, ["event_type"], {"n": (F.lit(1), "count"), "mx": ("value", "max")},
        n_salts=8, salt_from="event_id",
    )
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 2
    got = {r["event_type"]: (r["n"], r["mx"]) for r in out.collect()}
    exp_df = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.max("value").alias("mx")
    )
    exp = {r["event_type"]: (r["n"], r["mx"]) for r in exp_df.collect()}
    assert got == exp


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    must join with ZERO Exchange operators (the write-time shuffle is
    the only one that ever happens)."""
    from ramen_spark.catalog import load_table
    from ramen_spark.sources.bucketed import read_bucketed, write_bucketed

    ev = load_table(spark, SF_ORACLE, "events")
    orders = load_table(spark, SF_ORACLE, "orders")
    write_bucketed(ev.select("user_id", "value"), "b_events", ["user_id"], 8)
    write_bucketed(
        orders.select(F.col("o_custkey").alias("user_id"), "o_totalprice"),
        "b_orders",
        ["user_id"],
        8,
    )
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = read_bucketed(spark, "b_events")
            b = read_bucketed(spark, "b_orders")
            joined = a.join(b, "user_id")
            plan = _plan(joined)
            assert "Exchange" not in plan, plan
            assert joined.count() > 0
            # groupBy on the bucket key is also exchange-free
            agg = a.groupBy("user_id").count()
            assert "Exchange" not in _plan(agg)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_events")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_ngram_jaccard_no_cartesian(spark):
    """The exact similarity join must be a shingle equi-join, never an
    all-pairs cross product (the N² shape dies at scale)."""
    df = QUERIES["ngram_jaccard_pairs"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_codec_queries_are_arrow_batched(spark):
    """Packet/blob codecs must run as Arrow-batched python (MapInPandas
    / ArrowEvalPython), never row-at-a-time BatchEvalPython."""
    for q in ("rowbinary_roundtrip", "netflow_decode_profile", "collectd_decode_profile"):
        plan = _plan(QUERIES[q](spark, SF_ORACLE))
        assert "MapInPandas" in plan, q
        assert "BatchEvalPython" not in plan, q


def test_ivf_probe_is_equijoin(spark):
    df = QUERIES["ivf_ann_topk"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_commit_engine_single_shuffle(spark):
    """Count-based COMMIT windows lower to native WindowExec (no
    Python fold): one Exchange on the group key; the (keys, wid)
    window adds only a local sort (HashPartitioning(keys) satisfies
    the clustering). The general fold keeps its one-Exchange +
    FlatMapGroupsInPandas shape."""
    df = QUERIES["raql_commit_batches"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "Window" in plan
    assert plan.count("Exchange") == 1, plan

    # the engine-API query still exercises the general fold
    df = QUERIES["commit_after_count"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") == 1, plan


def test_global_topk_is_take_ordered(spark):
    """top_users_by_value must lower to TakeOrderedAndProject (per-
    partition n-row heaps), never a no-partition WindowExec over the
    aggregated keyset (single-partition sort of every distinct key at
    scale)."""
    df = QUERIES["top_users_by_value"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    # any Window left runs over the ≤n-row limited result with a
    # non-empty partition spec (empty spec prints as `], [], [`)
    assert "], [], [" not in plan


def test_decayed_top_no_global_window(spark):
    """decayed_top computes 'now' as a broadcast 1-row aggregate, not a
    no-partition window over the raw stream."""
    df = QUERIES["decayed_top_users"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    # no empty-partition window spec anywhere (prints as `], [], [`)
    assert "], [], [" not in plan


def test_largest_global_is_take_ordered(spark):
    from ramen_spark.operators import topk as TopK

    df = spark.range(1000).withColumn("w", F.col("id") % 37)
    plan = _plan(TopK.largest(df, 5, by=["w"]))
    assert "TakeOrderedAndProject" in plan


def test_doc_chunks_no_shuffle(spark):
    """Chunk fan-out is map-side only: explode+slice add no Exchange
    beyond the catalog's width repartition of the one-file input."""
    df = QUERIES["doc_chunks"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Generate" in plan  # explode lowered to GenerateExec
    # no aggregation/join shuffles — at most the scan-width round robin
    assert plan.count("Exchange") <= 1
    assert "SortMergeJoin" not in plan


def test_stratified_sample_is_pushdown_filter(spark):
    """The hash-bucket sample compiles to a plain Filter over the scan
    (no shuffle, no window); doc_id/lang are the only columns read."""
    df = QUERIES["stratified_sample"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Filter" in plan
    assert plan.count("Exchange") <= 1  # only the width repartition
    read_schema = plan.split("ReadSchema:")[1][:200]
    assert "text" not in read_schema


def test_connected_components_shuffles_per_round(spark):
    """One round of label propagation = hash joins + one partial-agg
    min, never a cartesian/nested-loop product. The loop checkpoints
    each round (lineage truncation — see connected_components), so the
    round SHAPE is audited on an un-truncated round built the same way
    the operator builds it; the operator's final plan must show the
    truncation (a plain RDD scan, not a 5-round join chain)."""
    from ramen_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a bigint, id_b bigint"
    )
    edges = (
        pairs.select(F.col("id_a").alias("v"), F.col("id_b").alias("n"))
        .union(pairs.select(F.col("id_b"), F.col("id_a")))
        .distinct()
    )
    labels = edges.select("v").distinct().withColumn("label", F.col("v"))
    neigh = edges.join(labels.withColumnRenamed("v", "n"), "n").select("v", "label")
    round_df = labels.union(neigh).groupBy("v").agg(F.min("label").alias("label"))
    plan = _plan(round_df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan.lower()

    df = connected_components(pairs, max_iter=5)
    final = _plan(df)
    assert "ExistingRDD" in final  # per-round lineage truncation held
    got = sorted((r["v"], r["component"]) for r in df.collect())
    assert got == [(1, 1), (2, 1), (3, 1)]


def test_checkall_triggers_stay_distributed(spark):
    """check_commit_for_all conditions (COMMIT AFTER reading `in`) fold
    the whole input in one ordered pass through the worker fold: the
    plan is one MapInPandas over a single-partition sort, with no
    replicated trigger relation (no cogroup, no __trig_ord), and
    plans/ contains no .collect() of unaggregated rows."""
    from ramen_spark.plans.raql import compile_commit_operation

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(6)]
        + [("b", i + 6, float(i)) for i in range(6)],
        "k string, seq int, v double",
    )
    # in+out mixed condition, then a pure-in condition
    for cond in ("in.seq > out.s", "in.seq % 3 = 2"):
        out = compile_commit_operation(
            f"select k, sum v as s group by k commit after {cond}",
            df,
            output_schema="k string, s double",
            order_cols=["seq"],
        )
        plan = _plan(out)
        assert plan.count("MapInPandas") == 1, plan
        assert "SinglePartition" in plan and "Sort [seq" in plan, plan
        assert "FlatMapCoGroupsInPandas" not in plan, plan
        assert "__trig_ord" not in plan, plan


def test_no_driver_collect_in_plans():
    """Static ratchet for VERDICT r2 'What's wrong' #2/#4: the RaQL
    compiler must not materialize input rows or global-map relations
    on the driver. (Aggregated scalar reads would be acceptable; today
    the compiler needs none at all.)"""
    import pathlib

    import ramen_spark.plans as plans_pkg

    pkg_dir = pathlib.Path(plans_pkg.__file__).parent
    for f in pkg_dir.glob("*.py"):
        assert ".collect()" not in f.read_text(), (
            f"{f.name} materializes rows on the driver"
        )


def test_grouped_sort_until_no_global_funnel(spark):
    """SORT LAST … OR UNTIL with a GROUP BY shards the reorder buffer
    by group key (reference buffers are worker-local,
    src/RamenSortBuf.ml) — the plan must hash-partition on the key
    before the buffer. The condition reads ``in.v`` (inside ``count
    v``), so it is check-all: the fold after the buffer re-checks
    every live group at each input and runs as one ordered pass in a
    single partition, as the reference's one worker does."""
    from ramen_spark.plans.raql import compile_commit_operation

    rows = [("a", 3, 30.0), ("a", 1, 10.0), ("b", 1, 1.0),
            ("a", 2, 20.0), ("b", 2, 2.0), ("b", 3, 3.0)]
    df = spark.createDataFrame(rows, "k string, seq int, v double")
    out = compile_commit_operation(
        "select k, last v as lv, count v as n "
        "sort last 100 or until sort.count >= 2 by seq "
        "group by k commit after count v >= 3",
        df,
        output_schema="k string, lv double, n long",
    )
    plan = _plan(out)
    assert "hashpartitioning(k" in plan, plan
    got = {(r["k"], r["lv"], r["n"]) for r in out.collect()}
    # per-group emission order is seq order → last v is the max-seq v
    assert got == {("a", 30.0, 3), ("b", 3.0, 3)}


def test_ngram_hot_shingle_cutoff_bounds_candidates(spark):
    """VERDICT r2 #5: a boilerplate shingle shared by d documents
    otherwise contributes d(d-1)/2 join rows. With max_shingle_freq
    the hot shingle leaves the universe BEFORE the self-join, so the
    pair relation stays bounded by cool-shingle postings."""
    from ramen_spark.operators import dedup as D

    # every doc shares the shingle "hot common boilerplate"; the rest
    # of each doc is unique → exact all-pairs = 100*99/2 = 4950 pairs
    docs = [
        (i, f"hot common boilerplate unique{i} word{i} tail{i}")
        for i in range(100)
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    exact = D.ngram_jaccard_pairs(df, threshold=0.01)
    cut = D.ngram_jaccard_pairs(df, threshold=0.01, max_shingle_freq=10)
    assert exact.count() == 4950
    # hot shingle dropped → no shared shingles remain → zero pairs
    assert cut.count() == 0
    # and docs keep their cool shingles: sizes reflect the filtered
    # universe, not the raw one (jaccard stays a true jaccard)
    mixed = docs + [(200, "hot common boilerplate unique7 word7 tail7")]
    df2 = spark.createDataFrame(mixed, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df2, threshold=0.01, max_shingle_freq=10
        ).collect()
    }
    # docs 7 and 200 share all 3 cool shingles (unique7 word7 tail7
    # window) → jaccard 1.0 over the filtered universe
    assert got == {(7, 200): 1.0}


def test_alert_transitions_no_single_partition_pin(spark):
    """VERDICT r3 weak #2: alert_firing_transitions must not funnel the
    whole event stream through one sorted partition before the
    hysteresis fold — the fold orders each group by the event-time
    `start` column inside its own partition, so the plan stays
    hash-partitioned on the group key."""
    df = QUERIES["alert_firing_transitions"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Coalesce 1" not in plan and "coalesce(1)" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_global_map_join_not_forced_broadcast(spark):
    """VERDICT r3 weak #1: global-map read joins must not carry a
    mandatory broadcast hint (the map relation is unbounded in key
    cardinality — the reference backs it with disk-resident LMDB).
    With AQE free to choose, the optimized plan must not contain a
    user-supplied broadcast hint on the map relation."""
    from ramen_spark.plans.raql import compile_program

    rows = [(f"k{i % 1000}", float(i)) for i in range(5000)]
    src = spark.createDataFrame(rows, "name string, v double")
    prog = compile_program(
        "DECLARE WITH PROGRAM SCOPE memo float[string];\n"
        "DEFINE writer AS FROM src SELECT name, v, "
        "mapadd(memo, name, v) AS _w;\n"
        "DEFINE reader AS FROM src SELECT name, v, memo[name] AS seen;\n"
    )
    dfs = prog.materialize(spark, externals={"src": src},
                           register_views=False)
    # the logical plan must not carry an explicit broadcast hint —
    # strategy choice belongs to AQE
    logical = dfs["reader"]._jdf.queryExecution().logical().toString()
    assert "broadcast" not in logical.lower(), logical
    assert dfs["reader"].filter(F.col("seen").isNotNull()).count() > 0


def test_gopher_flags_no_shuffle(spark):
    """Quality flags are row-local expressions — the plan must be a
    single scan with no Exchange."""
    df = QUERIES["gopher_quality_flags"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_sequence_packing_single_shard_shuffle(spark):
    """Packing shuffles ONCE on the shard key (the shard-parallel
    greedy fold) — no second Exchange, no SinglePartition funnel."""
    df = QUERIES["sequence_packing"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_repetition_battery_no_shuffle(spark):
    """The Gopher repetition signals and the RefinedWeb line-quality
    filter are row-local array expressions — single scan, zero
    Exchange at any corpus size."""
    for name in ("repetition_signals", "line_quality_filter"):
        df = QUERIES[name](spark, SF_ORACLE)
        plan = _plan(df)
        assert "Exchange" not in plan, (name, plan)


def test_ngram_battery_no_shuffle(spark):
    """The Gopher top-n-gram and duplicate-n-gram rules are per-doc
    computations over grams that start co-located in the doc's own
    row, so since round 12 both run as a row-local run-length fold
    over the sorted gram array — single scan, ZERO Exchange at any
    corpus size (the round-11 shape shuffled every distinct gram row
    into a groupBy and re-shuffled into a per-doc window: 1.07 GB
    shuffle / 1170 s CPU at sf10 for top_2gram alone)."""
    for name in ("top_2gram_coverage", "dup_5gram_coverage"):
        df = QUERIES[name](spark, SF_ORACLE)
        plan = _plan(df)
        assert "Exchange" not in plan, (name, plan)
        assert "Window" not in plan, (name, plan)


def test_catalog_rebalance_always_fires_under_split_cap(spark, tmp_path):
    """load_table's round-robin repartition must fire for every
    NARROW_HEAVY input under the maxPartitionBytes×cores cap — even
    when the scan already yields ~core-count splits. Round 12 measured
    the split-count gate and rejected it: the exchange doubles as the
    ReuseExchange materialization point for fan-out plans (tfidf CPU
    150→459 s without it) and as the balance step for skewed inputs
    (skew entropy wall 16.6→36.4 s). This test pins the exchange ON
    for a wide multi-file scan so the gate cannot silently return."""
    from ramen_spark.catalog import load_table

    target = spark.sparkContext.defaultParallelism
    # uuid text so parquet can't compress under the 256 KB size gate
    rows = spark.range(20_000).selectExpr(
        "id AS doc_id", "concat(uuid(), ' ', uuid()) AS text", "'en' AS lang"
    )
    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    rows.coalesce(1).write.parquet(one + "/documents.parquet")
    rows.repartition(target).write.parquet(many + "/documents.parquet")
    plan_one = load_table(spark, one, "documents")._jdf.queryExecution().executedPlan().toString()
    plan_many = load_table(spark, many, "documents")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan_one, plan_one
    assert "Exchange" in plan_many, plan_many


def test_ccnet_scoring_rowlocal(spark):
    """CCNet perplexity scoring (round 12): the weight table collects
    to a bounded array literal, so the SCORING side is a row-local
    integer fold — the final plan carries no join of the bigram
    stream and exactly one Exchange (the per-language tertile
    window); the model build runs as its own checkpoint job."""
    df = QUERIES["ccnet_perplexity_buckets"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_ccnet_bucket_bound(spark):
    """The collectable weight-table guard: n_buckets beyond 2^16 must
    raise loudly (bounded driver traffic), not silently collect."""
    import pytest

    from ramen_spark.catalog import load_table
    from ramen_spark.operators.sampling import lm_perplexity_buckets

    docs = load_table(spark, SF_ORACLE, "documents")
    with pytest.raises(ValueError, match="n_buckets"):
        lm_perplexity_buckets(
            docs, target_pred=F.col("lang") == "en", n_buckets=1 << 17
        )


def test_corpus_datacard_partial_agg(spark):
    """The data-card report is one distinct-expand aggregate: two
    hash exchanges (distinct rewrite), partial aggregation below each,
    and no SinglePartition — the (lang, source) key space is small but
    the plan never funnels rows to one task."""
    df = QUERIES["corpus_datacard"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_tfidf_exchange_shape(spark):
    """tf-idf default (df_via_join): the tf relation is checkpointed
    (the (doc, term) groupBy runs once, outside this plan — the token
    explode is never recomputed for the df branch), leaving exactly
    two hash exchanges here: the partial-combined df aggregate on term
    and the per-doc rank window. The only SinglePartition is the 1-row
    corpus-count aggregate. A/B'd vs the lazy df-window form at both
    100× tiers (SCALE §4f): 5.5 s vs 8.5 s uniform, 9.4 s vs 13.2 s
    skew — windows do no partial aggregation, so a hot term is one
    O(n_docs) task."""
    df = QUERIES["tfidf_top_terms"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("SinglePartition") <= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_cluster_balanced_sample_single_exchange(spark):
    """Cluster-balanced sampling: cell assignment is a row-local
    argmax over centroid literals, so the ONLY exchange is the
    per-cell cap window."""
    df = QUERIES["cluster_balanced_sample"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_script_profile_no_shuffle(spark):
    """Script profiling is row-local — zero Exchange; the counting
    runs in ONE Arrow stage (code-point masks), not four JVM regex
    passes (A/B in SCALE §4f: 4.4 s vs 42.3 s at the 100× tier)."""
    df = QUERIES["script_profile"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_adaptive_lsh_knobs_preserve_oracle_constants():
    """The corpus-size-adaptive LSH knobs must land EXACTLY on the
    constants baked into the SQL oracles at the driver-checked scale
    factors (200 / 2k vectors → 6 planes), and grow logarithmically
    past them — a fixed bucket count turns the self-join quadratic."""
    from ramen_spark.operators.similarity import auto_n_planes

    assert auto_n_planes(200) == 6
    assert auto_n_planes(2_000) == 6
    assert auto_n_planes(200_000) == 12
    assert auto_n_planes(20_000_000) > auto_n_planes(200_000)
    assert auto_n_planes(0) == 6


def test_embedding_neardup_recall_on_planted_dups(spark):
    """Recall audit for the adaptive-plane LSH dedup: plant 100
    near-duplicate pairs (tiny perturbations, cos ≈ 0.999) among 4k
    random vectors; the bucket join must recover ≥ 90% of them. Pins
    the quality side of the auto_n_planes throughput trade."""
    import numpy as np

    from ramen_spark.operators.similarity import pairwise_near_dups

    rng = np.random.default_rng(7)
    dim, n_base, n_dups = 32, 4000, 100
    base = rng.normal(size=(n_base, dim))
    rows = [(i, base[i].tolist()) for i in range(n_base)]
    planted = set()
    for j in range(n_dups):
        src = j * 17 % n_base
        noisy = base[src] + rng.normal(scale=0.01, size=dim)
        rows.append((n_base + j, noisy.tolist()))
        planted.add((src, n_base + j))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r["id_a"], r["id_b"])
        for r in pairwise_near_dups(
            df, threshold=0.99, dim=dim
        ).collect()
    }
    found = sum(1 for p in planted if p in got)
    assert found / n_dups >= 0.9, f"recall {found}/{n_dups}"


def test_decontaminate_no_cartesian_text_pruned(spark):
    """Decontamination joins on the shingle key only: never a cross
    product, and the shuffle/join carries shingles + ids — the raw
    text column stays in the scan-side projection (it feeds the
    shingle expression, then drops)."""
    df = QUERIES["decontaminate_train"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every scan is pruned to the needed columns (doc_id and/or text):
    # the report-side scan reads doc_id alone, the shingle scans
    # doc_id+text — never lang/source/dt
    schemas = [s[:200] for s in plan.split("ReadSchema:")[1:]]
    assert schemas and all(
        "lang" not in s and "source" not in s for s in schemas
    ), schemas
    assert any("text" in s for s in schemas)


def test_rolling_windows_empty_on_short_docs(spark):
    """Spark's sequence(1, 0) counts DOWN ([1, 0]), so rolling-window
    index ranges must be when-guarded: docs shorter than the window
    must yield NO windows (matching DuckDB generate_series) instead of
    crashing element_at (INVALID_INDEX_OF_ZERO). Regression for a
    review-confirmed crash in duplicated_spans; window_starts is the
    shared guard for shingles, char n-grams, spans and raw 3-grams."""
    from ramen_spark.operators import dedup as D
    import ramen_spark.functions.text as Tx
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "pad " * 12), (2, "short doc"), (3, "a"), (4, "")],
        ["doc_id", "text"],
    )
    spans = {r["doc_id"]: r["n_spans"]
             for r in D.duplicated_spans(df, span_k=10).collect()}
    assert spans == {1: 3}  # 12 tokens → 3 ten-token windows; rest: none
    # shingle + char-ngram helpers: short inputs → empty arrays
    out = df.select(
        F.size(Tx.word_shingles(F.col("text"), 3)).alias("ns"),
        F.size(Tx.char_ngrams(F.col("text"), 5)).alias("nc"),
    ).collect()
    assert all(r["ns"] >= 0 and r["nc"] >= 0 for r in out)
    two = df.filter(F.col("doc_id") == 2).select(
        Tx.word_shingles(F.col("text"), 3).alias("sh")
    ).collect()[0]["sh"]
    assert two == []


def test_prepare_training_corpus_plan_shape(spark):
    """The composed pipeline stays id-joined end to end: no cross
    product anywhere in the six-stage DAG, document text is never a
    join/shuffle key (scans project it only to feed fingerprint /
    shingle / quality expressions), and the packing fold is the only
    Python stage."""
    df = QUERIES["prepare_training_corpus"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # exactly one nested-loop join is allowed: temperature_mix's
    # scalar attach (|groups| rows × the 1-row total/Z aggregate) —
    # constant-size at any corpus scale
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # hashpartitioning on text would mean a stage shuffles documents
    # by their content — drop-set combination must key on ids/hashes
    assert "hashpartitioning(text" not in plan
    # exactly one Arrow fold (the per-shard greedy packer)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan.count(
        "FlatMapGroupsInPandas"
    )


def test_prepare_training_corpus_v2_plan_shape(spark):
    """The v2 pipeline (A-ES + per-lang token-budget mixing, manifest
    output) keeps the id-joined discipline: no cross product, text
    never a shuffle key, and exactly ONE Arrow fold (the per-shard
    packer — weighted sampling and the budget ladder are windows and
    bounded joins, not Python)."""
    df = QUERIES["prepare_training_corpus_v2"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(text" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan.count(
        "FlatMapGroupsInPandas"
    )


def test_simhash_construction_fires_no_job(spark):
    """VERDICT r5/r6: ``bits=None`` used to run ``df.count()`` while
    BUILDING the query — an eager full action at plan time (at 100 TB,
    a full scan before the real job). The registry query now feeds the
    adaptive width from parquet footer stats, so construction must not
    register any SQL execution."""
    from tools.query_metrics import latest_execution_id

    before = latest_execution_id(spark)
    df = QUERIES["simhash_near_dups"](spark, SF_ORACLE)
    assert latest_execution_id(spark) == before, (
        "building simhash_near_dups ran a Spark job"
    )
    assert df is not None


def test_simhash_resolve_bits_tiers():
    """The resolver is the cross-tier pin: callers resolve width once
    from corpus stats and reuse it. Check the documented tier points
    (oracle SFs → 48, 100× → 64, 1000× → 80) and the clamps."""
    from ramen_spark.operators.dedup import simhash_resolve_bits

    assert simhash_resolve_bits(1) == 48  # lower clamp
    assert simhash_resolve_bits(6_000) == 48  # sf0.01/sf0.1 docs
    assert simhash_resolve_bits(600_000) == 64  # 100x tier
    assert simhash_resolve_bits(5_000_000) == 80  # 1000x tier
    assert simhash_resolve_bits(10**12) == 96  # upper clamp: 4x24


def test_table_num_rows_matches_scan(spark):
    """Footer stats must agree with an actual count — they feed plan
    shape (simhash width), not just telemetry."""
    from ramen_spark.catalog import load_table, table_num_rows

    n_meta = table_num_rows(SF_ORACLE, "documents")
    n_scan = load_table(spark, SF_ORACLE, "documents").count()
    assert n_meta == n_scan
    assert table_num_rows(SF_ORACLE, "no_such_table") is None


def test_canonicalize_no_window_sort(spark):
    """Canonical-doc selection must stay a partial-aggregable max_by
    on the cluster key — a row_number window would sort every
    partition of the cluster relation for an argmax that one
    aggregate expression computes."""
    df = QUERIES["canonical_docs"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Window" not in plan, "canonicalize regressed to a window sort"
    # partial max_by before the exchange (map-side combine)
    assert "partial_max_by" in plan.lower().replace(" ", "_") or (
        "HashAggregate" in plan and "max_by" in plan
    )


def test_ngram_join_is_hashed_shuffle_hash(spark):
    """Ratchet the SCALE §7a adoption: the posting self-join must key
    on xxhash64 longs (string keys spilled 21 GB of sort buffers at
    the 100× tier) and take the shuffle-hash path the registry query
    opts into (sort-free; measured faster in both df regimes)."""
    df = QUERIES["ngram_jaccard_pairs"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "xxhash64" in plan, "shingle join key regressed to strings"
    assert "ShuffledHashJoin" in plan, "self-join regressed to sort-merge"


def test_embedding_neardup_construction_fires_no_job(spark):
    """Same job-free-construction contract as simhash: the adaptive
    LSH plane count resolves from footer stats, not an eager count."""
    from tools.query_metrics import latest_execution_id

    before = latest_execution_id(spark)
    df = QUERIES["embedding_near_dups"](spark, SF_ORACLE)
    assert latest_execution_id(spark) == before, (
        "building embedding_near_dups ran a Spark job"
    )
    assert df is not None


def test_semantic_dedup_keep_the_outlier(spark):
    """SemDeDup's prune rule on a hand-built frame: two tau-similar
    vectors in one cell → the one CLOSER to the centroid loses; the
    far-apart third vector survives untouched. Also: the within-cell
    pair relation must be an equi-join on the cell id, not a
    cartesian."""
    from ramen_spark.operators.similarity import semantic_dedup

    rows = [
        # cell 0 centroid will be (1,0) (seed = smallest md5 id below)
        (1, [1.0, 0.0]),     # sim to id 2 ≈ 0.995, centsim 1.0 → loses
        (2, [0.9, 0.1]),     # centsim < 1.0 → kept (the outlier)
        (3, [-1.0, 0.05]),   # other cell, no tau-partner → kept
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    # seed centroids deterministically from the two extremes
    cents = [[1.0, 0.0], [-1.0, 0.0]]
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, cents, tau=0.9).collect()
    }
    assert not out[1]["keep"]          # cluster-core member pruned
    assert out[2]["keep"]              # outlier kept
    assert out[3]["keep"]              # lone member kept
    assert out[1]["cell"] == out[2]["cell"] != out[3]["cell"]

    plan = _plan(semantic_dedup(emb, cents, tau=0.9))
    assert "CartesianProduct" not in plan


def test_remove_duplicated_spans_cuts_and_merges(spark):
    """Span removal on a crafted corpus: the shared 4-token run is cut
    from both docs, overlapping spans merge into one interval (not
    double-cut), a fully-duplicated doc empties, and a unique doc
    passes through verbatim. Plan: text must not appear on any
    shuffle key (the posting/starts relations carry ids + ints)."""
    from ramen_spark.operators.dedup import remove_duplicated_spans

    dup_run = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [
            (1, f"one two {dup_run} three four"),
            (2, f"x y z {dup_run} q r"),
            (3, dup_run),                       # fully covered
            (4, "totally unique text here now"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(df, span_k=4, min_count=2).collect()
    }
    assert out[1]["clean_text"] == "one two three four"
    assert out[1]["n_removed"] == 4
    assert out[2]["clean_text"] == "x y z q r"
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 4
    assert out[4]["clean_text"] == "totally unique text here now"
    assert out[4]["n_removed"] == 0
    # overlap merge: two overlapping duplicated windows cover 5 tokens
    # once, not 8 — doc pair sharing a 5-token run with span_k=4 has
    # two overlapping dup windows [0,4) and [1,5)
    df2 = spark.createDataFrame(
        [(1, "a b c d e tailone"), (2, "a b c d e tailtwo")],
        ["doc_id", "text"],
    )
    out2 = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(df2, span_k=4, min_count=2).collect()
    }
    assert out2[1]["n_removed"] == 5 and out2[1]["clean_text"] == "tailone"
    assert out2[2]["n_removed"] == 5 and out2[2]["clean_text"] == "tailtwo"


def test_auto_n_cells_preserves_oracle_constant():
    """semantic_dedup's adaptive cell count must land on the 8-cell
    constant baked into its SQL oracle at every oracle-checked SF
    (500 embeddings at sf0.01, 50 at sf0.001), and grow ~√n above."""
    from ramen_spark.operators.similarity import auto_n_cells

    assert auto_n_cells(50) == 8
    assert auto_n_cells(500) == 8
    assert auto_n_cells(None) == 8
    assert auto_n_cells(500_000) == 512
    assert auto_n_cells(5_000_000) == 2048


def test_multiseed_or_construction_amplifies_recall(spark):
    """The n_seeds OR-construction must strictly dominate a single
    seed at the same plane count: every single-seed pair is found
    (the union includes seed 42's collisions) and recall on planted
    near-dups is at least as high — with enough planes to make
    single-seed recall visibly lossy, the 3-seed union must recover
    ≥ 95% of plants. Also: the exploded self-join stays an equi-join
    keyed by (seed, bucket)."""
    import numpy as np

    from ramen_spark.operators.similarity import pairwise_near_dups

    rng = np.random.default_rng(11)
    dim, n_base, n_dups = 32, 2000, 80
    base = rng.normal(size=(n_base, dim))
    rows = [(i, base[i].tolist()) for i in range(n_base)]
    planted = set()
    for j in range(n_dups):
        src = j * 13 % n_base
        noisy = base[src] + rng.normal(scale=0.05, size=dim)
        rows.append((n_base + j, noisy.tolist()))
        planted.add((src, n_base + j))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(n_seeds):
        return {
            (r["id_a"], r["id_b"])
            for r in pairwise_near_dups(
                df, threshold=0.95, dim=dim, n_planes=14, n_seeds=n_seeds
            ).collect()
        }

    one, three = pairs(1), pairs(3)
    assert one <= three
    r1 = sum(1 for p in planted if p in one) / n_dups
    r3 = sum(1 for p in planted if p in three) / n_dups
    assert r3 >= r1 and r3 >= 0.95, f"recall 1-seed {r1}, 3-seed {r3}"

    plan = _plan(pairwise_near_dups(df, dim=dim, n_planes=14, n_seeds=3))
    assert "CartesianProduct" not in plan


def test_banded_index_bucketed_probe_shuffle_free(spark):
    """The incremental-dedup index's 100 TB claim, made concrete: the
    persisted banded relation stored BUCKETED on the band bucket key
    joins a same-bucketed probe batch with ZERO Exchange operators —
    the write-time shuffle is the only one the index ever pays, and
    every micro-batch probe is shuffle-free on the index side."""
    from ramen_spark.catalog import load_table
    from ramen_spark.functions import text as Tx
    from ramen_spark.operators.dedup import minhash_signatures
    from ramen_spark.sources.bucketed import read_bucketed, write_bucketed

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    banded = minhash_signatures(docs).select(
        "doc_id",
        F.explode(Tx.lsh_bands(F.col("sig"), 8, 2)).alias("bucket"),
    )
    write_bucketed(
        banded.filter(F.col("doc_id") % 4 != 0), "b_index", ["bucket"], 8
    )
    write_bucketed(
        banded.filter(F.col("doc_id") % 4 == 0), "b_batch", ["bucket"], 8
    )
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            idx = read_bucketed(spark, "b_index")
            probe = read_bucketed(spark, "b_batch").withColumnRenamed(
                "doc_id", "id_new"
            )
            joined = probe.join(idx, "bucket")
            assert "Exchange" not in _plan(joined), _plan(joined)
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_index")
        spark.sql("DROP TABLE IF EXISTS b_batch")


def test_semantic_dedup_arrow_matches_sql_engine(spark):
    """The Arrow engine (blocked BLAS matmuls) must reproduce the SQL
    engine's EXACT output — every (cell, centsim, keep) — on the
    oracle corpus; boundary flips would need a pair sitting exactly on
    the 6dp tau/rounding edge, absent here by construction."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators import similarity as Sim

    emb = load_table(spark, SF_ORACLE, "embeddings")
    cents = Sim.kmeans_fit(emb, n_cells=8, iters=0)
    sql_rows = {
        r["vec_id"]: (r["cell"], r["centsim"], r["keep"])
        for r in Sim.semantic_dedup(emb, cents, tau=0.4).collect()
    }
    arr_rows = {
        r["vec_id"]: (r["cell"], r["centsim"], r["keep"])
        for r in Sim.semantic_dedup_arrow(emb, cents, tau=0.4).collect()
    }
    assert sql_rows == arr_rows and len(sql_rows) == 500


def test_exactsubstr_operators_agree_with_python_reference(spark):
    """Three-way consistency on a seeded random corpus with planted
    repeats: a 20-line pure-Python reference computes each doc's
    duplicated-span starts and union coverage; duplicated_spans'
    coverage and remove_duplicated_spans' cut must BOTH equal it,
    token for token (same span_k/min_count, hash-free reference —
    the 60-bit md5 truncation can't collide at this size)."""
    import random

    from ramen_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    phrases = [
        " ".join(rng.choices(vocab, k=7)) for _ in range(4)
    ]  # repeated across docs
    docs = []
    for i in range(60):
        toks = rng.choices(vocab, k=rng.randint(0, 30))
        if i % 3 == 0:
            ins = rng.randint(0, max(len(toks) - 1, 0))
            toks = toks[:ins] + phrases[i % 4].split() + toks[ins:]
        docs.append((i, " ".join(toks)))
    K, MIN = 5, 2

    # pure-Python reference
    from collections import Counter

    tok = {i: t.split() for i, t in docs}
    counts = Counter(
        tuple(w[p : p + K])
        for w in tok.values()
        for p in range(len(w) - K + 1)
    )
    ref_cov, ref_removed = {}, {}
    for i, w in tok.items():
        starts = [
            p
            for p in range(len(w) - K + 1)
            if counts[tuple(w[p : p + K])] >= MIN
        ]
        covered = set()
        for p in starts:
            covered.update(range(p, p + K))
        if len(w) >= K:
            ref_cov[i] = len(covered)
        ref_removed[i] = len(covered)

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rep = {
        r["doc_id"]: round(r["dup_token_frac"] * r["n_tokens"])
        for r in duplicated_spans(df, span_k=K, min_count=MIN).collect()
    }
    cut = {
        r["doc_id"]: (r["n_removed"], r["clean_text"])
        for r in remove_duplicated_spans(df, span_k=K, min_count=MIN).collect()
    }
    assert rep == ref_cov
    assert {i: c[0] for i, c in cut.items()} == ref_removed
    # and the cut text is exactly the uncovered tokens in order
    for i, w in tok.items():
        starts = [
            p
            for p in range(len(w) - K + 1)
            if counts[tuple(w[p : p + K])] >= MIN
        ]
        covered = set()
        for p in starts:
            covered.update(range(p, p + K))
        expect = " ".join(
            t for p, t in enumerate(w) if p not in covered
        )
        assert cut[i][1] == expect, i


def test_bpe_learning_matches_python_reference(spark):
    """learn_bpe_merges must reproduce the classic sequential BPE
    algorithm (pure-Python reference over the same word-frequency
    table) merge for merge, including the (count desc, l, r)
    tie-break — and bpe_encode applies the merges greedily
    left-to-right ('aaa' under (a,a) → [aa, a])."""
    from collections import Counter

    from ramen_spark.operators.bpe import bpe_encode, learn_bpe_merges

    texts = [
        "low lower lowest low low",
        "newer newest new low wide wider widest",
        "aaa aaaa low",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    def ref(texts, k):
        vocab = Counter(w for t in texts for w in t.split())
        syms = {w: list(w) for w in vocab}
        out = []
        for _ in range(k):
            pc = Counter()
            for w, n in vocab.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += n
            if not pc:
                break
            (l, r), c = sorted(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )[0]
            out.append((l, r, c))
            for w in syms:
                s, ns = syms[w], []
                for x in s:
                    if ns and ns[-1] == l and x == r:
                        ns[-1] = l + r
                    else:
                        ns.append(x)
                syms[w] = ns
        return out

    got = learn_bpe_merges(docs, n_merges=6)
    assert got == ref(texts, 6)

    enc = docs.filter(F.col("doc_id") == 2).select(
        bpe_encode(F.col("text"), [("a", "a", 0)]).alias("e")
    ).collect()[0]["e"]
    assert enc == ["aa", "a", "aa", "aa", "l", "o", "w"]


def test_blocked_domain_filter_plan_is_equi_broadcast(spark):
    """The blocklist stage must stay two broadcast EQUI-anti-joins: an
    OR across (registrable-domain, exact-host) would silently fall
    back to BroadcastNestedLoopJoin — per-row × per-entry work that a
    4M-line UT1 list turns into a scan disaster at 100 TB."""
    from tests.conftest import SF_ORACLE

    from ramen_spark.queries import QUERIES

    plan = _plan(QUERIES["blocked_domain_filter"](spark, SF_ORACLE))
    assert "NestedLoop" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "LeftAnti" in plan


def test_bpe_local_learner_equals_distributed_and_scales_in_depth(spark):
    """The scale path (one distributed word-frequency pass, heap-based
    local merge rounds) must be merge-for-merge IDENTICAL to the
    distributed round loop — and must keep going far past the depth
    the distributed loop can afford: hundreds of merges on the sf0.01
    documents table in seconds, every merge structurally well-formed
    (each side is a single char or the product of an earlier merge)."""
    from tests.conftest import SF_ORACLE

    from ramen_spark.catalog import load_table
    from ramen_spark.operators.bpe import (
        learn_bpe_merges,
        learn_bpe_merges_local,
    )

    texts = [
        "low lower lowest low low",
        "newer newest new low wide wider widest",
        "aaa aaaa low",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    assert learn_bpe_merges_local(docs, n_merges=10) == learn_bpe_merges(
        docs, n_merges=10
    )

    # real corpus: the synthetic documents table has a tiny vocabulary
    # (31 word types), so learning runs to EXHAUSTION — which must
    # mean every word collapsed to a single symbol, and the first
    # rounds must agree with the distributed loop on real data too
    real = load_table(spark, SF_ORACLE, "documents")
    deep = learn_bpe_merges_local(real, n_merges=400, max_vocab=50_000)
    assert 31 <= len(deep) <= 107  # ≥ one merge per multi-char word
    producible = set()
    for l, r, c in deep:
        assert c > 0
        for side in (l, r):
            assert len(side) == 1 or side in producible, (l, r)
        producible.add(l + r)
    from ramen_spark.functions import text as Tx

    vocab_words = {
        w
        for row in real.select(Tx.tokens(F.col("text")).alias("t")).collect()
        for w in row["t"]
    }
    assert all(len(w) == 1 or w in producible for w in vocab_words)
    assert deep[:4] == learn_bpe_merges(real, n_merges=4, max_vocab=50_000)

    # depth scaling needs a rich vocabulary: a generated Zipf-ish
    # corpus of 4000 word types sustains 2000 merges locally in
    # seconds (the dimension the distributed loop cannot reach —
    # 2000 sequential Spark jobs)
    import random

    rng = random.Random(11)
    gen_words = {
        "".join(rng.choices("abcdefghijklmnop", k=rng.randint(3, 12)))
        for _ in range(4000)
    }
    gen = spark.createDataFrame(
        [(i, " ".join(rng.choices(sorted(gen_words), k=30))) for i in range(200)],
        ["doc_id", "text"],
    )
    rich = learn_bpe_merges_local(gen, n_merges=2000)
    assert len(rich) == 2000
    producible = set()
    for l, r, _c in rich:
        for side in (l, r):
            assert len(side) == 1 or side in producible, (l, r)
        producible.add(l + r)


def test_bpe_arrow_encoder_equals_jvm_fold(spark):
    """bpe_encode_arrow (broadcast merge-ranks dict, Arrow batch,
    rank-priority with per-word memo) must produce byte-identical
    token arrays to the JVM sequential-fold encoder over the real
    sf0.01 documents — the equality that licenses swapping the
    analyzer-bounded fold for the scale path."""
    from tests.conftest import SF_ORACLE

    from ramen_spark.catalog import load_table
    from ramen_spark.operators.bpe import (
        bpe_encode,
        bpe_encode_arrow,
        learn_bpe_merges_local,
    )

    docs = load_table(spark, SF_ORACLE, "documents").limit(400)
    merges = learn_bpe_merges_local(docs, n_merges=24)
    rows = docs.select(
        "doc_id",
        bpe_encode(F.col("text"), merges).alias("jvm"),
        bpe_encode_arrow(F.col("text"), merges).alias("arrow"),
    ).collect()
    assert len(rows) == 400
    bad = [r["doc_id"] for r in rows if r["jvm"] != r["arrow"]]
    assert bad == [], bad[:5]


def test_quality_classifier_separates_and_matches_reference(spark):
    """The IRLS fit must (a) agree with a pure-numpy IRLS on the SAME
    feature matrix to ~1e-6 (accumulation order is the only slack) and
    (b) actually separate a corpus whose positive class is length-
    shifted — mean score of positives > negatives by a margin. Scoring
    is a row-local sigmoid: its plan must contain no Exchange."""
    import numpy as np

    from ramen_spark.operators.classify import (
        default_quality_features,
        score_quality,
        train_quality_classifier,
    )

    rng = np.random.default_rng(9)
    rows = []
    for i in range(400):
        good = i % 2 == 0
        n = int(rng.integers(60, 120)) if good else int(rng.integers(5, 25))
        words = [
            ("the" if (good and j % 5 == 0) else f"tok{int(rng.integers(0, 50))}")
            for j in range(n)
        ]
        rows.append((i, " ".join(words), "en" if good else "xx"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    w = train_quality_classifier(docs, F.col("lang") == "en", iters=6)

    # numpy reference on the identical feature matrix
    feats = docs.select(
        (F.col("lang") == "en").cast("double").alias("y"),
        *[f.alias(f"f{i}") for i, f in enumerate(
            default_quality_features(F.col("text"))
        )],
    ).collect()
    y = np.array([r["y"] for r in feats])
    X = np.column_stack(
        [np.ones(len(feats))]
        + [np.array([r[f"f{i}"] for r in feats]) for i in range(6)]
    )
    beta = np.zeros(X.shape[1])
    for _ in range(6):
        p = 1.0 / (1.0 + np.exp(-X @ beta))
        wt = p * (1 - p)
        H = X.T @ (X * wt[:, None]) + np.eye(X.shape[1]) * 1e-6
        beta = beta + np.linalg.solve(H, X.T @ (y - p))
    assert np.allclose(np.array(w), beta, rtol=1e-5, atol=1e-6), (w, beta)

    scored = score_quality(docs, w)
    probs = {r["doc_id"]: r["quality_prob"] for r in scored.collect()}
    pos = np.mean([probs[i] for i in range(0, 400, 2)])
    neg = np.mean([probs[i] for i in range(1, 400, 2)])
    assert pos > neg + 0.5, (pos, neg)
    assert "Exchange" not in _plan(scored)


def test_dedup_eval_harness_smoke(spark):
    """tools/dedup_eval.py's corpus builder + one family end-to-end on
    the tiny SF: planted pairs exist at both severities and the
    exact-tier family recovers every NEAR plant (its SCALE §4e
    headline), keeping the evaluation harness from rotting."""
    from tests.conftest import SF_SMALL

    from tools.dedup_eval import build_corpus
    from ramen_spark.operators.dedup import ngram_jaccard_pairs

    corpus, truth = build_corpus(spark, SF_SMALL, n_pairs=12)
    assert len(truth["near"]) > 0 and len(truth["moderate"]) > 0
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    assert all(p in got for p in truth["near"])


def test_entropy_battery_no_shuffle(spark):
    """The entropy-extended Gopher battery stays row-local: the two
    Arrow entropy lanes ride the same single scan — zero Exchange."""
    df = QUERIES["entropy_quality_flags"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan  # the entropy lanes


def test_zlib_compressibility_no_shuffle(spark):
    df = QUERIES["zlib_compressibility"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_raql_sketch_aggregates_plan_shape(spark):
    """The dialect sketch rewrite must keep the library operators'
    shape: no cartesian/nested-loop joins anywhere (the branches
    re-join on the group key), the KMV branch keeps its map-side
    Arrow prefilter, and every Exchange is hash-partitioned (no
    SinglePartition funnel)."""
    df = QUERIES["raql_sketch_aggregates"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "MapInPandas" in plan, plan  # kmv_prune's bounded prefilter


def test_chunked_packing_plan_shape(spark):
    """The chunk→pack→manifest composition (round 12): no cross
    product, text never a shuffle key, and exactly TWO Arrow folds —
    one packer per scenario; chunking itself stays whole-stage-codegen
    built-ins (split/sequence/explode/slice), never Python."""
    df = QUERIES["chunked_packing"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(text" not in plan
    assert "hashpartitioning(w" not in plan  # token arrays neither
    assert plan.count("FlatMapGroupsInPandas") == 2, plan.count(
        "FlatMapGroupsInPandas"
    )


def test_cms_topk_drift_plan_shape(spark):
    """CMS drift (round 12) must stay candidate/cell-grain: no cross
    product and ZERO Python lanes — every stage (cell build, estimate
    joins, rank windows, churn joins) is JVM built-ins."""
    df = QUERIES["cms_topk_drift"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan
