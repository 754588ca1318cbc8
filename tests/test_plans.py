"""Physical-plan guardrails: the properties that make these queries
survive a 100× scale-up, pinned as tests so a refactor can't silently
regress them (SURVEY §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hudi_spark_utilities_plus_spark.plans import audit
from hudi_spark_utilities_plus_spark.queries import QUERIES


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = QUERIES["filter_eq"](spark, sf_dir)
    assert audit.has_pushed_filters(df), audit.executed_plan(df)


def test_column_pruning_projects_only_needed(spark, sf_dir):
    df = QUERIES["sort_limit_topk"](spark, sf_dir)
    cols = audit.read_schema_columns(df)
    # scan must read only the 2 needed of orders' 6 columns
    assert set(cols) == {"o_orderkey", "o_totalprice"}, cols


def test_broadcast_join_for_small_dimension(spark, sf_dir):
    df = QUERIES["join_broadcast"](spark, sf_dir)
    assert audit.has_broadcast_hash_join(df), audit.executed_plan(df)


def test_topk_avoids_global_sort(spark, sf_dir):
    df = QUERIES["sort_limit_topk"](spark, sf_dir)
    assert audit.has_take_ordered(df), audit.executed_plan(df)


def test_agg_uses_partial_aggregation(spark, sf_dir):
    plan = audit.executed_plan(QUERIES["agg_group"](spark, sf_dir))
    # partial (map-side) agg before the exchange, final after
    assert "partial_" in plan.lower() or plan.count("HashAggregate") >= 2, plan


def test_partition_pruning_on_partitioned_lake(spark, tmp_path):
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "pp"),
        record_key="id",
        precombine="v",
        partition_field="dt",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "2024-01-01"), (2, 1, "2024-01-02")], "id int, v int, dt string"
        )
    )
    pruned = t.read(spark).filter(F.col("dt") == "2024-01-01")
    assert audit.has_partition_filters(pruned), audit.executed_plan(pruned)


def test_point_lookup_in_list_replaces_semi_join(spark, tmp_path):
    """A small probe set of integral keys is collected whole into the
    IN-list, which selects exactly what the semi-join would: base and
    log are not joined to the key frame again. Floating keys do not
    round-trip through Python exactly and keep the semi-join."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    for key_type, cast in (("long", int), ("double", float)):
        t = HudiTable(
            path=str(tmp_path / f"pl_{key_type}"),
            record_key="id",
            precombine="ver",
            table_type="MERGE_ON_READ",
        )
        schema = f"id {key_type}, ver int, v string"
        t.bulk_insert(
            spark.createDataFrame(
                [(cast(i), 1, f"v{i}") for i in range(10)], schema
            )
        )
        t.upsert(spark.createDataFrame([(cast(4), 2, "u4")], schema))
        probe = spark.createDataFrame([(cast(3),), (cast(4),)], f"id {key_type}")
        got = t.read(spark, keys=probe)
        assert sorted((r["id"], r["v"]) for r in got.collect()) == [
            (3, "v3"),
            (4, "u4"),
        ]
        plan = audit.executed_plan(got)
        if key_type == "long":
            assert "LeftSemi" not in plan, plan
        else:
            assert "LeftSemi" in plan, plan


def test_no_cartesian_in_near_dedup(spark, sf_dir):
    plan = audit.executed_plan(QUERIES["dedup_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    plan2 = audit.executed_plan(QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    assert "CartesianProduct" not in plan2


def test_similar_pairs_candidates_are_equi_join(spark, sf_dir):
    """embedding_similar_pairs candidate generation must be a bucket
    equi-join, never an all-pairs nested loop (the 100 TB killer)."""
    plan = audit.executed_plan(QUERIES["embedding_similar_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_global_windows_avoid_single_partition(spark, sf_dir):
    """win_ntile / win_range_between are two-phase: the executed plan
    must not funnel the table through an Exchange SinglePartition (the
    global-window scale killer)."""
    for name in ("win_ntile", "win_range_between"):
        plan = audit.executed_plan(QUERIES[name](spark, sf_dir))
        assert "SinglePartition" not in plan, f"{name}:\n{plan}"


def test_ann_lsh_candidates_are_equi_join(spark, sf_dir):
    """ann_topk_lsh candidates come from an exploded (band, key) hash
    join — no nested-loop signature comparison. Pin the operator itself:
    the registry id wraps it in a recall check whose brute-force
    baseline is an intentional broadcast nested loop."""
    from hudi_spark_utilities_plus_spark.catalog import load_tables
    from hudi_spark_utilities_plus_spark.operators import similarity as S

    e = load_tables(spark, sf_dir, ["embeddings"], register=False)["embeddings"]
    qs = e.filter(F.col("vec_id") % 50 == 0)
    plan = audit.executed_plan(S.ann_topk_lsh(e, qs, dim=64, k=5))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # r14: band signatures must run as the Arrow-vectorized matmul
    # (ArrowEvalPython), not interpreted Column folds — the r13 scale
    # probe measured the fold form at ~520 µs/vector (30× slower than
    # brute force at 512k vectors)
    assert "ArrowEvalPython" in plan, plan


def test_flagship_join_plan_shape(spark, sf_dir):
    """lineitem⋈orders⋈customer: both dimension joins broadcast (fact side
    never shuffles for the join), all three scans pruned + filtered."""
    plan = audit.executed_plan(QUERIES["join_inner"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan
    assert plan.count("PushedFilters: [IsNotNull") == 3, plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed tables co-locate join keys at write time: joining two
    tables bucketed the same way needs NO exchange — the pre-partitioning
    pattern for repeated large-large joins at 100 TB."""
    # (warehouse dir is a static conf; managed tables land in the default
    # spark-warehouse and are dropped below)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS bt1")
    spark.sql("DROP TABLE IF EXISTS bt2")
    try:
        a = spark.range(0, 1000).withColumnRenamed("id", "k")
        b = spark.range(0, 1000).withColumnRenamed("id", "k")
        a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt1")
        b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bt1").join(spark.table("bt2"), "k")
        plan = audit.executed_plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bt1")
        spark.sql("DROP TABLE IF EXISTS bt2")


def test_salted_agg_splits_hot_keys(spark, sf_dir):
    """agg_salted: phase-1 groups on (key, salt) — the plan must contain
    two aggregation exchanges (salted partial, then merge)."""
    plan = audit.executed_plan(QUERIES["agg_salted"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 3, plan  # partial+final x2 phases


def test_contamination_broadcasts_benchmark_dictionary(spark, sf_dir):
    """contamination_check: the eval-set shingle dictionary must reach
    the corpus via a broadcast hash join (map-side, no corpus shuffle
    of shingle strings) and never a nested-loop product."""
    df = QUERIES["contamination_check"](spark, sf_dir)
    plan = audit.executed_plan(df)
    assert audit.has_broadcast_hash_join(df), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_documents_has_no_shuffle(spark, sf_dir):
    """chunk_documents: pure per-row generate — no exchange beyond the
    deliberate scatter() repartition of the single-file test input."""
    df = QUERIES["chunk_documents"](spark, sf_dir)
    plan = audit.executed_plan(df)
    # the only exchange allowed is scatter()'s round-robin
    import re as _re

    exchanges = _re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges
    assert "SinglePartition" not in plan, plan


def test_quality_model_score_is_map_only(spark, sf_dir):
    """quality_model_score must score in the scan stage: a pure Column
    program with no exchange beyond scatter()'s round-robin for the
    single-file test input — the property that makes it free at 100 TB."""
    df = QUERIES["quality_model_score"](spark, sf_dir)
    plan = audit.executed_plan(df)
    import re as _re

    exchanges = _re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_q18_single_lineitem_scan(spark, sf_dir):
    """tpch_q18_shape folds the HAVING aggregate into the output: the
    executed plan must scan lineitem exactly once (the classic
    formulation scans it twice)."""
    plan = audit.executed_plan(QUERIES["tpch_q18_shape"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")


def test_scatter_is_noop_on_wide_inputs(spark):
    """scatter() exists to fan out single-file test inputs; on an input
    already at >= defaultParallelism partitions it must add NO exchange
    (at lake scale an unconditional repartition would reshuffle the
    whole corpus)."""
    from hudi_spark_utilities_plus_spark.operators.dedup import scatter

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, numPartitions=par + 4)
    plan = audit.executed_plan(scatter(wide.toDF("doc_id")))
    assert "Exchange" not in plan, plan
    narrow = spark.range(0, 10_000, numPartitions=1)
    plan2 = audit.executed_plan(scatter(narrow.toDF("doc_id")))
    assert "RoundRobinPartitioning" in plan2, plan2


def test_tpch_shapes_never_nested_loop(spark, sf_dir):
    """All 22 TPC-H shapes: every join must be hash-based (broadcast or
    shuffled) — no CartesianProduct, no BroadcastNestedLoopJoin except
    the deliberate single-row scalar-threshold attaches (q11/q22), which
    must broadcast exactly one row."""
    import re as _re

    for n in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14,
              15, 16, 17, 18, 19, 20, 21, 22]:
        name = f"tpch_q{n}_shape"
        plan = audit.executed_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        if n in (11, 22):
            # scalar-threshold attach: a one-row broadcast join is the plan
            continue
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}:\n{plan}"


def test_tpch_q21_two_lineitem_scans(spark, sf_dir):
    """q21's EXISTS/NOT-EXISTS fold: exactly two lineitem scans (the
    correlated formulation needs three)."""
    plan = audit.executed_plan(QUERIES["tpch_q21_shape"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 2, plan.count("lineitem.parquet")


def test_verify_jaccard_fallback_avoids_broadcast(spark):
    """The 100-TB verify-join fallback must plan WITHOUT a broadcast on
    the shingle-set side: with the auto-broadcast threshold off,
    broadcast_verify=True plans a BroadcastHashJoin (the hint) and
    broadcast_verify=False plans none — proving the fallback is a real
    code path, not prose."""
    from hudi_spark_utilities_plus_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = D.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, broadcast_verify=True
        )
        fallback = D.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, broadcast_verify=False
        )
        assert audit.has_broadcast_hash_join(hinted), audit.executed_plan(hinted)
        assert not audit.has_broadcast_hash_join(fallback), audit.executed_plan(
            fallback
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_similar_pairs_verify_autogate(spark):
    """similar_pairs must auto-drop the verify-side broadcast above the
    doc cap (the gate of dedup._pair_sides): with the cap
    forced below the corpus size the plan's BroadcastHashJoin count
    matches the explicit broadcast_verify=False plan — the verify join
    shuffles — and the pair set is identical either way."""
    import unittest.mock as mock

    from hudi_spark_utilities_plus_spark.operators import dedup as D
    from hudi_spark_utilities_plus_spark.operators import similarity as S

    # i and i+20 repeat exactly (cycle lcm(4,5)=20) → planted cos=1 pairs
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), float((i * 7) % 5), 1.0]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def run(**kw):
        df = S.similar_pairs(vecs, 0.95, n_clusters=4, **kw)
        rows = sorted(
            (r["id_a"], r["id_b"], round(r["cos_sim"], 9)) for r in df.collect()
        )
        return rows, audit.executed_plan(df).count("BroadcastHashJoin")

    try:
        hinted_rows, hinted_bhj = run(broadcast_verify=True)
        fb_rows, fb_bhj = run(broadcast_verify=False)
        assert hinted_rows and hinted_rows == fb_rows
        # verify-side broadcasts gone; candidate-gen pair_df broadcast stays
        assert fb_bhj < hinted_bhj, (fb_bhj, hinted_bhj)
        # corpus of 24 > cap of 4
        with mock.patch.object(D, "_BROADCAST_VERIFY_MAX_DOCS", 4):
            auto_rows, auto_bhj = run()
        assert auto_rows == fb_rows and auto_bhj == fb_bhj, (auto_bhj, fb_bhj)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# Plan shape of the pair ids at the test fixture: (exchanges,
# BroadcastHashJoin, SortMergeJoin) of the pre-execution plan. A change
# to these plans has to change this table and say why.
PAIR_PLANS = {
    "dedup_ngram_jaccard": (4, 3, 0),
    "dedup_minhash_lsh": (4, 3, 0),
    "dedup_containment": (4, 3, 0),
    "embedding_similar_pairs": (4, 4, 0),
}


@pytest.mark.parametrize("qid", sorted(PAIR_PLANS))
def test_pair_id_plan_shape(spark, sf_dir, qid):
    from perfbench.sparkstats import plan_census

    df = QUERIES[qid](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    text = df._jdf.queryExecution().explainString(mode.fromString("formatted"))
    tree = text.split("\n\n", 1)[0]  # the node details repeat every name
    words = [
        ln.strip().lstrip("+-:* ").split(" ", 1)[0].split("(", 1)[0]
        for ln in tree.splitlines()
    ]
    got = (
        plan_census(df)["exchanges"],
        words.count("BroadcastHashJoin"),
        words.count("SortMergeJoin"),
    )
    assert got == PAIR_PLANS[qid], text


def test_nullsafe_join_broadcasts_dim(spark, sf_dir):
    """<=> must not fall back to a nested-loop plan: the null-safe key
    hash-joins, dim side broadcast."""
    df = QUERIES["join_nullsafe"](spark, sf_dir)
    plan = audit.executed_plan(df)
    assert audit.has_broadcast_hash_join(df), plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_outlier_zscore_broadcasts_group_stats(spark, sf_dir):
    """outlier_zscore's group-stats join-back must broadcast the 5-row
    stats table (map-side filter), never shuffle the fact side twice."""
    df = QUERIES["outlier_zscore"](spark, sf_dir)
    assert audit.has_broadcast_hash_join(df), audit.executed_plan(df)


def test_tfidf_no_cartesian_beyond_scalar(spark, sf_dir):
    """tfidf_topterms joins tf to df on the term key; the only
    product-shaped join allowed is the broadcast of the 1-row n_docs
    scalar."""
    plan = audit.executed_plan(QUERIES["tfidf_topterms"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, tmp_path):
    """Spark's runtime bloom-filter join pruning — the engine-native form
    of the 'bloom prefilter before the shuffle' pattern: with
    spark.sql.optimizer.runtime.bloomFilter.enabled, a selective filter
    on the dim side of a shuffle join injects might_contain(bloom_agg)
    into the fact side's scan stage, so most fact rows drop BEFORE the
    exchange. At 100 TB this is the difference between shuffling the
    full fact table and shuffling the matching slice; this test pins
    that the conf wiring actually produces the injected filter."""
    import pyspark.sql.functions as SF

    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    spark.range(0, 200_000).select(
        SF.col("id").alias("k"), (SF.col("id") % 97).alias("v")
    ).write.parquet(fact_p)
    spark.range(0, 50_000).select(
        SF.col("id").alias("k"), (SF.col("id") % 13).alias("grp")
    ).write.parquet(dim_p)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # production default is 10GB — the fact fixture here is KBs, so
        # drop the application-side gate to let the rule fire in-test
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        # force the shuffle-join path so the runtime filter is worthwhile
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(SF.col("grp") == 3)
        joined = fact.join(dim, "k").groupBy("v").count()
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom_filter" in plan.lower(), plan
        # and the result is still exact
        assert joined.agg(SF.sum("count")).collect()[0][0] == 50_000 // 13 + (
            1 if (50_000 % 13) > 3 else 0
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_join_splits_skewed_partition(spark, tmp_path):
    """AQE skew-join handling — the runtime answer to hot keys: with one
    join key holding ~90% of the fact rows, adaptive execution must
    detect the oversized shuffle partition and split it (plan shows
    'skew=true'), instead of leaving one straggler task to process the
    hot key alone. At 100 TB a single hot key otherwise turns a 1000-
    executor join into a 1-task tail; salting (join_salted) is the
    static fix, this pins the engine-native dynamic one."""
    import pyspark.sql.functions as SF

    fact_p = str(tmp_path / "skfact")
    dim_p = str(tmp_path / "skdim")
    # 90% of 300k rows land on key 0; the rest spread over 10k keys
    spark.range(0, 300_000).select(
        SF.when(SF.col("id") % 10 < 9, 0)
        .otherwise(SF.col("id") % 10_000)
        .alias("k"),
        SF.col("id").alias("v"),
    ).write.parquet(fact_p)
    spark.range(0, 10_000).select(
        SF.col("id").alias("k"), (SF.col("id") % 7).alias("grp")
    ).write.parquet(dim_p)
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # shrink the skew thresholds to fixture scale (prod defaults are
        # 256MB/5x — the RATIO logic under test is identical)
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # force a sort-merge shuffle join (skew split targets SMJ/SHJ)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p)
        joined = fact.join(dim, "k")
        # materialize THIS df's own QueryExecution (count() would build a
        # different one and leave this plan isFinalPlan=false)
        assert len(joined.collect()) == 300_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_join_is_bucketed_equi_join(spark, sf_dir):
    """join_interval_bucketed: a no-equi-key interval join must plan as
    a hash equi-join on the time-grid bucket — never the nested-loop
    product a naive range-only condition produces."""
    plan = audit.executed_plan(QUERIES["join_interval_bucketed"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the only nested-loop allowed is the 1-row d0 scalar broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_new_window_ops_share_keyed_exchange(spark, sf_dir):
    """scd2_build / downsample_ohlc / winsorize_cap: one keyed shuffle
    each — the ascending and descending window ranks (and the count)
    must reuse the same hash partitioning, never add a second exchange
    on the same key or fall into SinglePartition."""
    for name in ("scd2_build", "downsample_ohlc", "winsorize_cap"):
        plan = audit.executed_plan(QUERIES[name](spark, sf_dir))
        assert "SinglePartition" not in plan, f"{name}:\n{plan}"
        import re as _re

        keys = {
            k.split("#")[0]
            for k in _re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
        }
        # every hash exchange keys on the same GROUP column (the rank
        # branch and the tiny final agg may each shuffle on it; nothing
        # may shuffle on any other key)
        assert len(keys) <= 1, f"{name}: {keys}"


def test_stream_static_join_broadcasts_dim(spark, sf_dir):
    """stream_static_join: the enrichment must be a broadcast hash join
    inside the micro-batch (no stream-side shuffle, no state store)."""
    df = QUERIES["stream_static_join"](spark, sf_dir)
    # the read-back aggregate runs after the stream; pin the streaming
    # plan property indirectly: the query ran to completion and its
    # sink holds exactly the enriched rows (value correctness is the
    # parity test's job; here assert the dim-side broadcast in a
    # replica of the batch plan)
    from hudi_spark_utilities_plus_spark.catalog import load_tables

    t = load_tables(spark, sf_dir, ["events", "customer"], register=False)
    enr = t["events"].join(
        F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
        F.col("user_id") == F.col("c_custkey"),
    )
    assert audit.has_broadcast_hash_join(enr), audit.executed_plan(enr)
    assert df.count() > 0


def test_mixture_interleave_avoids_single_partition(spark, sf_dir):
    """mixture_interleave's global position must use the two-phase
    global row-number — no Exchange SinglePartition (the repo-wide
    global-ordering standard)."""
    plan = audit.executed_plan(QUERIES["mixture_interleave"](spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_substring_dedup_stays_jvm_side(spark, sf_dir):
    """dedup_substring_spans is a pure built-in Column program — grid
    shingles via sequence/explode/substr/sha2, two-stage distinct-doc
    counting, window island merge. The plan must carry no Python eval
    node (the hot path runs inside codegen/columnar JVM stages) and no
    cartesian/nested-loop join: candidate generation is the keyed semi
    join, never all-pairs."""
    df = QUERIES["dedup_substring_spans"](spark, sf_dir)
    plan = audit.executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # partitioning reuse (r17): the scatter hash-partitions the raw
    # docs on doc_id, and the island-merge window + (doc_id, _grp)
    # aggregate must RIDE that exchange. Every doc_id exchange in the
    # plan must therefore be the user scatter (REPARTITION_BY_NUM; its
    # canonically-identical subtree copies collapse to one runtime
    # ReusedExchange) — an ENSURE_REQUIREMENTS doc_id exchange would be
    # the window re-inserting the second shuffle this pins against.
    import re as _re

    doc_exchanges = _re.findall(r"Exchange hashpartitioning\(doc_id[^\n]*", plan)
    assert doc_exchanges and all(
        "REPARTITION_BY_NUM" in e for e in doc_exchanges
    ), plan


def test_refine_span_bounds_stays_jvm_side(spark, sf_dir):
    """dedup_substring_refine adds flank-group windows and boundary
    joins on top of the spans program — still a pure built-in Column
    program: no Python eval node anywhere, and no cartesian/nested-loop
    join (boundary lookups are keyed equi-joins; the LCP is a bounded
    per-row fold, not a pairwise compare)."""
    df = QUERIES["dedup_substring_refine"](spark, sf_dir)
    plan = audit.executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("qid", ["dedup_ngram_jaccard", "dedup_minhash_lsh"])
def test_near_dedup_shingles_after_one_doc_id_exchange(spark, sf_dir, monkeypatch, qid):
    """The Jaccard and MinHash ids hand the raw scan to the operator, so
    shingling runs after exactly one exchange, _shingled's scatter
    hash-partitioned on doc_id (not after a round-robin scatter that
    _shingled's probe would then find already wide)."""
    import re as _re

    from hudi_spark_utilities_plus_spark.operators import dedup

    captured = []
    orig = dedup._shingled

    def spy(*args, **kwargs):
        out = orig(*args, **kwargs)
        captured.append(out)
        return out

    monkeypatch.setattr(dedup, "_shingled", spy)
    QUERIES[qid](spark, sf_dir)
    assert len(captured) == 1
    plan = captured[0]._jdf.queryExecution().executedPlan().toString()
    exchanges = _re.findall(r"Exchange (\w+)\(([^\n]*)", plan)
    assert len(exchanges) == 1, plan
    assert exchanges[0][0] == "hashpartitioning", plan
    assert exchanges[0][1].startswith("doc_id"), plan
