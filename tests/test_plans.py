"""Plan-shape discipline (SURVEY.md §4): we write no Catalyst rules, so
these tests verify the built-ins actually fired for our query shapes —
filter pushdown and column pruning reach the parquet scan, small dims go
broadcast, hot relational paths stay in whole-stage codegen, and the
ingest pipeline is shuffle-free from scan to sink.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from oracle_vectorsearch_example_spark.plans.inspect import (
    executed_plans,
    explain_str,
    has_broadcast_join,
    has_wholestage_codegen,
    pushed_filters,
    scan_read_schema,
)
from oracle_vectorsearch_example_spark.plans.pipeline import ingest_documents
from oracle_vectorsearch_example_spark.sources.io import read_table

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    li = read_table(spark, SF, "lineitem")
    q = li.filter((F.col("l_quantity") < 24) & (F.col("l_discount") >= 0.05)).select(
        "l_orderkey"
    )
    pushed = " ".join(pushed_filters(q))
    assert "l_quantity" in pushed and "l_discount" in pushed


def test_column_pruning_reaches_scan(spark):
    li = read_table(spark, SF, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    schemas = scan_read_schema(q)
    assert schemas, "no ReadSchema in plan"
    # a 2-column projection must not read the 16-column table
    assert all(s.count(":") <= 3 for s in schemas), schemas


def test_small_dim_join_goes_broadcast(spark):
    orders = read_table(spark, SF, "orders")
    cust = read_table(spark, SF, "customer")
    q = orders.join(cust, orders.o_custkey == cust.c_custkey).groupBy(
        "c_mktsegment"
    ).count()
    assert has_broadcast_join(q)


def test_agg_path_is_codegen(spark):
    li = read_table(spark, SF, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    assert has_wholestage_codegen(q)


def test_ingest_pipeline_is_shuffle_free(spark):
    """EP1's scan → chunk → embed never shuffles: chunking is a row-local
    generator, embedding an Arrow-batched projection (SURVEY.md §3 EP1)."""
    docs = read_table(spark, SF, "documents")
    dc = ingest_documents(docs, max_words=20, overlap=5)
    plan = explain_str(dc)
    assert "Exchange" not in plan, plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-bucketed tables join without a shuffle: the write paid it once
    (sources.io.write_bucketed), the join zips buckets in place."""
    from oracle_vectorsearch_example_spark.sources.io import write_bucketed

    o = read_table(spark, SF, "orders")
    li = read_table(spark, SF, "lineitem")
    write_bucketed(o, "b_orders", str(tmp_path / "o"), ["o_orderkey"], 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        str(tmp_path / "l"),
        ["o_orderkey"],
        8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = explain_str(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partial_aggregation_before_shuffle(spark):
    """Map-side combine: the plan must carry a partial HashAggregate below
    the exchange, so the shuffle moves pre-aggregated rows."""
    li = read_table(spark, SF, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = explain_str(q, mode="simple")
    n_agg = len(re.findall(r"HashAggregate", plan))
    assert n_agg >= 2, plan  # partial + final


def test_ivf_search_prunes_partitions(spark, tmp_path):
    """A materialized IVF index scan carries a real cluster_id partition
    filter at probe time — the index's entire point at 100 TB. ``search``
    evaluates at call time, so the plan checked is the top-k plan it ran."""
    from oracle_vectorsearch_example_spark.operators.ivf import IvfIndex

    emb = read_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    idx = IvfIndex.build(emb, seed=42, path=str(tmp_path / "ivf"))
    plans = executed_plans(spark, lambda: idx.search(q, k=5, nprobe=4))
    (plan,) = [pl for pl in plans if "MapInArrow topk" in pl]
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and ("cluster_id" in m.group(1)) and (
        "IN" in m.group(1).upper() or "in(" in m.group(1).lower()
    ), m.group(1) if m else plan


@pytest.fixture(scope="module")
def vector_indexes(spark, tmp_path_factory):
    """A materialized IVF index plus its SQ8 / PQ / BQ code tables, so a
    search plan holds only the search's own Python stages."""
    from oracle_vectorsearch_example_spark.operators.bq import bq_encode_df
    from oracle_vectorsearch_example_spark.operators.ivf import IvfIndex
    from oracle_vectorsearch_example_spark.operators.quantize import (
        pq_encode_index,
        pq_train,
        sq8_encode_index,
    )

    d = tmp_path_factory.mktemp("vector_indexes")
    emb = read_table(spark, SF, "embeddings")
    idx = IvfIndex.build(emb, n_clusters=8, seed=42, path=str(d / "ivf"))
    books = pq_train(emb, m=8, k=16, seed=42)
    return {
        "emb": emb,
        "idx": idx,
        "books": books,
        "sq8": sq8_encode_index(idx, path=str(d / "sq8")),
        "pq": pq_encode_index(idx, books, path=str(d / "pq")),
        "bq": bq_encode_df(emb),
        "q": emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        ),
    }


def _search_plans():
    from oracle_vectorsearch_example_spark.operators import bq, quantize, search

    return {
        "topk_search": (1, lambda v: search.topk_search(v["emb"], v["q"], k=5)),
        "ivf_search": (1, lambda v: v["idx"].search(v["q"], k=5, nprobe=2)),
        "ivf_search_df": (1, lambda v: v["idx"].search_df(v["q"], k=5, nprobe=2)),
        "sq8_topk_search": (1, lambda v: quantize.sq8_topk_search(v["sq8"], v["q"], k=5)),
        "sq8_ivf_search": (
            1, lambda v: quantize.sq8_ivf_search(v["idx"], v["sq8"], v["q"], k=5, nprobe=2)
        ),
        "pq_topk_search": (
            1, lambda v: quantize.pq_topk_search(v["pq"], v["q"], v["books"], k=5)
        ),
        "pq_refine_topk": (
            1,
            lambda v: quantize.pq_refine_topk(
                v["q"].select("qid", F.col("qid").alias("vec_id")), v["sq8"], v["q"], k=5
            ),
        ),
        # the PQ candidate scan feeds the SQ8 refine: two top-k stages
        "pq_ivf_search": (
            2,
            lambda v: quantize.pq_ivf_search(
                v["idx"], v["pq"], v["sq8"], v["q"], v["books"], k=5, nprobe=2
            ),
        ),
        "bq_topk_search": (1, lambda v: bq.bq_topk_search(v["bq"], v["q"], k=5)),
    }


@pytest.mark.parametrize("name", sorted(_search_plans()))
def test_vector_search_plans_are_one_arrow_topk(vector_indexes, name):
    """Every vector-search path runs on the shared Arrow top-k kernel: one
    Python map-in-Arrow ``topk`` stage per top-k in the plans that run and
    no pandas map stage (``search_df``'s query-side cluster assignment is
    its one other Arrow stage). The paths that collect their queries merge
    on the driver and evaluate at call time, so the plans checked are the
    ones the search and a collect of its result execute; only the
    distributed ``search_df`` merges in a window."""
    n_topk, build = _search_plans()[name]
    spark = vector_indexes["emb"].sparkSession
    plans = executed_plans(spark, lambda: build(vector_indexes).collect())
    plan = "\n".join(plans)
    assert "MapInPandas" not in plan, plan
    udfs = re.findall(r"MapInArrow (\w+)\(", plan)
    assert udfs.count("topk") == n_topk, plan
    assert set(udfs) <= {"topk", "assign_probes"}, plan
    assert bool(re.search(r"\bWindow \[", plan)) == (name == "ivf_search_df"), plan


def test_sessionize_is_single_shuffle(spark):
    """Gaps-and-islands sessionization shuffles ONCE: the final per-session
    aggregation reuses the window's hash partitioning on user_id."""
    from oracle_vectorsearch_example_spark.operators.sessionize import session_stats

    ev = read_table(spark, SF, "events")
    plan = explain_str(session_stats(ev), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_join_is_single_shuffle(spark):
    """The union+window as-of join shuffles ONCE on the key — never a
    per-key non-equi join."""
    from oracle_vectorsearch_example_spark.operators.joins import asof_join

    ev = read_table(spark, SF, "events")
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    plan = explain_str(asof_join(views, clicks, on="user_id"), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_corpus_split_and_sample_add_no_exchange(spark):
    """Composed into the corpus build's gate stage, hash_split and
    stratified_sample stay pure map-side: the composed plan carries
    exactly the Exchanges of the upstream dedup+gate, none of their own
    (VERDICT r3 next-round #7)."""
    from oracle_vectorsearch_example_spark.functions.textstats import text_metrics_df
    from oracle_vectorsearch_example_spark.operators.sampling import (
        hash_split,
        stratified_sample,
    )

    docs = read_table(spark, SF, "documents")
    scored = text_metrics_df(docs, "text")
    kept = scored.filter(F.col("quality") >= 0.0).select("doc_id")
    gated = docs.join(kept, "doc_id", "left_semi")  # the corpus gate shape
    base_exchanges = explain_str(gated, mode="simple").count("Exchange")
    for composed in (
        hash_split(gated, seed=42),
        stratified_sample(gated, {"en": 0.5}, default_fraction=0.1, seed=42),
    ):
        plan = explain_str(composed, mode="simple")
        assert plan.count("Exchange") == base_exchanges, plan


def test_pack_sequences_one_exchange_after_split(spark):
    """pack_sequences fed a hash_split output (the corpus-build
    composition) still pays exactly ONE Exchange — the per-shard window
    cumsum; the split stage contributes none."""
    from oracle_vectorsearch_example_spark.operators.packing import pack_sequences
    from oracle_vectorsearch_example_spark.operators.sampling import hash_split

    docs = read_table(spark, SF, "documents")
    train = hash_split(docs, seed=42).filter(F.col("split") == "train")
    plan = explain_str(
        pack_sequences(train, max_tokens=256, n_shards=4, seed=42), mode="simple"
    )
    assert plan.count("Exchange") == 1, plan


def test_disjunctive_join_pushes_per_side_conjuncts(spark):
    """The Q19-style OR-of-ANDs join (r4): Catalyst must derive and push
    the per-side disjunctions below the join — brand/size reach the part
    scan, quantity reaches the lineitem scan — leaving only the residual
    cross-side disjunction post-join."""
    from oracle_vectorsearch_example_spark import golden

    q = golden.QUERIES["tpch_q19"](spark, SF)
    pushed = " ".join(pushed_filters(q))
    assert "p_brand" in pushed or "p_size" in pushed, pushed
    assert "l_quantity" in pushed, pushed


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """write_table(partition_by=...) + a literal filter on the partition
    column reaches the scan as a PartitionFilter."""
    from oracle_vectorsearch_example_spark.sources.io import write_table

    ev = read_table(spark, SF, "events")
    p = str(tmp_path / "ev_by_type")
    write_table(ev, p, partition_by=["event_type"])
    q = spark.read.parquet(p).filter(F.col("event_type") == "click")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", explain_str(q))
    assert m and "event_type" in m.group(1) and "click" in m.group(1), (
        m.group(1) if m else explain_str(q)
    )


def test_q4_semi_join_and_q22_anti_join_shapes(spark):
    """r5 TPC-H shapes compile to the right physical operators: Q4's
    EXISTS is a LeftSemi (never a dedup-after-inner-join), Q22's NOT
    EXISTS a LeftAnti, and Q22's scalar threshold + Q17's brand side
    broadcast."""
    from oracle_vectorsearch_example_spark import golden

    q4 = explain_str(golden.QUERIES["tpch_q4"](spark, SF), mode="simple")
    assert "LeftSemi" in q4, q4
    q22 = explain_str(golden.QUERIES["tpch_q22"](spark, SF), mode="simple")
    assert "LeftAnti" in q22, q22
    assert "Broadcast" in q22, q22
    q17 = explain_str(golden.QUERIES["tpch_q17"](spark, SF), mode="simple")
    assert "Broadcast" in q17, q17


def test_q13_left_join_keeps_zero_match_rows(spark):
    """Q13's LEFT join must not degrade to inner (the zero-order
    customers are the point of the histogram's 0 bucket)."""
    from oracle_vectorsearch_example_spark import golden

    plan = explain_str(golden.QUERIES["tpch_q13"](spark, SF), mode="simple")
    assert "LeftOuter" in plan, plan


def test_new_tpch_shapes_broadcast_and_prune(spark):
    """r6 TPC-H additions compile to the plans a 100 TB run wants: all
    dims broadcast (no SortMergeJoin at this scale), q2's top-100 is
    TakeOrderedAndProject, q16's NOT IN is LeftAnti, q20's nested INs
    are chained LeftSemi."""
    from oracle_vectorsearch_example_spark import golden

    sf = "/root/testdata/sf0.001"
    plans = {
        n: explain_str(golden.QUERIES[n](spark, sf), "simple")
        for n in ("tpch_q2", "tpch_q11", "tpch_q16", "tpch_q20")
    }
    for n, p in plans.items():
        assert "BroadcastHashJoin" in p, n
        if n != "tpch_q2":
            assert "SortMergeJoin" not in p, n
    # q2's per-part-min join back is the one legitimate shuffle join: at
    # scale `best` is corpus-sized (one row per part), so a hash/merge
    # join keyed on l_partkey is the RIGHT plan — AQE converts it to
    # broadcast at toy scale at runtime. Its dims must still broadcast.
    assert plans["tpch_q2"].count("BroadcastHashJoin") >= 4
    assert "TakeOrderedAndProject" in plans["tpch_q2"]
    assert "LeftAnti" in plans["tpch_q16"]
    assert plans["tpch_q20"].count("LeftSemi") >= 2


def test_pii_redact_is_exchange_free_codegen(spark):
    """The scrub pass must stay a map-side codegen projection — zero
    Exchange, whole-stage codegen span over the regexp chain."""
    from oracle_vectorsearch_example_spark.functions.scrub import redact_pii_df

    df = redact_pii_df(read_table(spark, "/root/testdata/sf0.001", "documents"))
    plan = explain_str(df, "formatted")
    assert "Exchange" not in plan
    assert has_wholestage_codegen(df)
