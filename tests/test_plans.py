"""Physical-plan shape tests: the scale properties each operator claims
must be visible in the plan Catalyst actually produces — filters reach
the parquet scan, projections prune the read schema, dims broadcast,
aggregations partial-combine, top-k avoids full sorts, the as-of join
shuffles exactly once, and bucket reads prune to one directory.

A correct-but-wrong-shaped plan is a 100 TB incident; these tests pin
the shape, not just the rows.
"""

import re

import pytest

from pyspark.sql import functions as F

from cassandrastack_spark.operators.asof import asof_join
from cassandrastack_spark.operators.windows import range_join_pairs
from cassandrastack_spark.queries import load_all
from cassandrastack_spark.sources.io import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def phys(df) -> str:
    """Physical plan string (pre-execution; AQE initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_pushdown_reaches_scan(spark, registry):
    plan = formatted(registry["projection_scan"].fn(spark, SF))
    assert re.search(r"PushedFilters: \[.*GreaterThan\(c_acctbal", plan), plan
    # column pruning: 5-column table, 4 columns read (3 projected + filter col)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) == {
        "c_custkey:bigint", "c_name:string", "c_acctbal:double", "c_mktsegment:string",
    }, plan


def test_point_lookup_pushes_equality(spark, registry):
    plan = formatted(registry["point_lookup"].fn(spark, SF))
    assert re.search(r"PushedFilters: \[.*EqualTo\(o_orderkey,42\)", plan), plan


def test_q1_partial_aggregation(spark, registry):
    plan = formatted(registry["q1_pricing_summary"].fn(spark, SF))
    # two-phase agg: partial_ functions before the exchange, final after
    assert "partial_sum" in plan, plan
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", plan), plan


def test_q3_broadcasts_dimension(spark, registry):
    plan = phys(registry["q3_shipping_priority"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_q5_no_sort_merge_on_dims(spark, registry):
    plan = phys(registry["q5_local_supplier_volume"].fn(spark, SF))
    # every dim join is broadcast; the only shuffle joins are fact-fact
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_global_topk_avoids_full_sort(spark, registry):
    plan = phys(registry["top_k_global"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, (
        "ORDER BY + LIMIT must compile to per-partition heaps, not a "
        "global sort:\n" + plan
    )


def test_asof_join_single_shuffle(spark):
    e = read_table(spark, SF, "events").select("event_id", "user_id", "ts")
    o = read_table(spark, SF, "orders").select("o_custkey", "o_orderdate")
    out = asof_join(
        e, o,
        left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        payload_cols=["o_orderdate"],
    )
    plan = phys(out)
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, (
        f"union-sort as-of join must shuffle exactly once, saw {n_exchanges}:\n"
        + plan
    )


def test_binned_range_join_matches_unbinned(spark):
    e = read_table(spark, SF, "events")
    plain = set(
        (r.k, r.a_id, r.b_id)
        for r in range_join_pairs(e, "user_id", "ts", "event_id", 300).collect()
    )
    binned = set(
        (r.k, r.a_id, r.b_id)
        for r in range_join_pairs(
            e, "user_id", "ts", "event_id", 300, bin_time=True
        ).collect()
    )
    assert plain == binned, "binned plan must be a pure optimization"
    assert len(plain) > 0


def test_dedup_exact_partial_agg_on_digest(spark, registry):
    plan = formatted(registry["dedup_exact"].fn(spark, SF))
    assert "partial_min" in plan or "partial_count" in plan, (
        "exact dedup must map-side combine on the digest:\n" + plan
    )


def test_streaming_plan_has_watermark_and_state(spark):
    from cassandrastack_spark.streaming.ops import events_stream, tumbling_window_counts

    out = tumbling_window_counts(events_stream(spark, f"{SF}/events.parquet"))
    # streaming logical plan: watermark node present before the agg
    logical = out._jdf.queryExecution().logical().toString()
    assert "EventTimeWatermark" in logical, logical


def test_no_unjustified_bnl_join_across_catalog(spark, registry):
    """Catalog-wide guardrail: no registered batch query may plan a
    BroadcastNestedLoopJoin, except the bounded broadcasts documented,
    each with its reason, in guardrails.DOCUMENTED_BNL.

    Skipped families: stream_* (execute on build), dedup_*/ann_*/mm_*/
    text_* (eager checkpoints / UDF stages; their join guardrails are
    asserted in tests/test_llm_ops.py where the expensive build is
    already paid).
    """
    from cassandrastack_spark.plans.guardrails import (
        DOCUMENTED_BNL,
        plan_lints,
    )

    skip = ("stream_", "mm_", "dedup_", "ann_", "text_")
    offenders = []
    for name, qd in registry.items():
        if name.startswith(skip) or name in DOCUMENTED_BNL:
            continue
        lints = plan_lints(qd.fn(spark, SF))
        if lints["has_bnl_join"]:
            offenders.append(name)
    assert not offenders, f"unjustified BroadcastNestedLoopJoin in: {offenders}"


def test_decontam_broadcasts_eval_set(spark, registry):
    # the eval n-gram side must broadcast (benchmark suites are bounded);
    # the corpus side must never shuffle into a sort-merge join
    plan = phys(registry["decontam_ngram_overlap"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join: two tables written with the SAME bucket spec on
    the join key must SortMergeJoin with ZERO Exchange — the pay-once
    distribution that makes recurring 100 TB fact-to-fact joins
    shuffle-free."""
    from cassandrastack_spark.sources.io import write_bucketed_table

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed_table(
        li, "bkt_lineitem", ["l_orderkey"], n_buckets=8,
        sort_cols=["l_orderkey"], path=str(tmp_path / "li"))
    write_bucketed_table(
        od, "bkt_orders", ["o_orderkey"], n_buckets=8,
        sort_cols=["o_orderkey"], path=str(tmp_path / "od"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the join strategy decision to be about distribution,
        # not size (at sf0.001 everything broadcasts otherwise)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_lineitem").join(
            spark.table("bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        joined.write.format("noop").mode("overwrite").save()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, (
            "bucketed-to-bucketed equi-join must not shuffle:\n" + plan
        )
        # and the result is right
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_ngram_novelty_never_joins_on_shingle_hash(spark, registry):
    """Round-5 de-skew regression: text_ngram_novelty computes novelty
    as pure aggregates (min-id election, then a count per winner) —
    the exploded shingles must NEVER ride a shuffle JOIN keyed on the
    shingle hash, where one hot shingle (a stopword run) would pin a
    single reducer at scale. The only join left stitches two per-doc
    aggregate tables on the uniform doc_id key (broadcast-sized here)."""
    plan = phys(registry["text_ngram_novelty"].fn(spark, SF))
    # no JOIN node may key on the shingle hash column (h#NN); the only
    # join stitches per-doc aggregates on id/first_id
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines, plan  # the doc-id stitch join exists
    for ln in join_lines:
        assert not re.search(r"\bh#\d+", ln), f"join keyed on shingle hash: {ln}"
    # the election aggregate over the hash key partial-combines before
    # its shuffle (hot keys collapse map-side)
    assert "partial_min" in plan, plan


def test_pagerank_round_plan_is_flat_and_constant(spark):
    """Round-7 audit contract: one PageRank round is a CONSTANT-size
    plan — a frac-to-ranks equi-join feeding the (node, mass)
    aggregate, the left join onto the node universe, the dangling
    anti-join, and exactly ONE bounded 1-row BNL (the dangling-mass
    scalar broadcast). And the frame pagerank() returns is a
    post-checkpoint scan with NO joins at all — per-round
    localCheckpoint keeps lineage flat instead of stacking rounds."""
    from cassandrastack_spark.operators.graph import (
        pagerank,
        pagerank_round_plan,
    )

    edges = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 1.0),
         ("a", "d", 1.0)],
        ["src", "dst", "w"],
    )
    plan = phys(pagerank_round_plan(edges, weight_col="w"))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M) or re.findall(
        r"^\s*[+:*-]*\s*(\w+)", plan, flags=re.M
    )
    joins = [n for n in nodes if "Join" in n or n == "CartesianProduct"]
    assert joins, plan
    assert len(joins) <= 5, f"round plan must stay constant-size: {joins}"
    assert joins.count("BroadcastNestedLoopJoin") <= 1, joins
    assert "CartesianProduct" not in joins, joins

    final = phys(pagerank(edges, weight_col="w", iters=3))
    assert "Join" not in final, (
        "pagerank() must return a post-checkpoint scan, not stacked "
        "round lineage:\n" + final
    )
