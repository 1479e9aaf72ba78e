"""Plan audit: dump physical-plan evidence for headline queries.

Writes PLANS.md: for each audited query, the `.explain("formatted")`
output trimmed to the load-bearing facts — scan pushdown
(PushedFilters / ReadSchema), join strategies chosen, exchange
(shuffle) count, and whole-stage-codegen coverage — plus automated
red-flag checks (BroadcastNestedLoopJoin, CartesianProduct, full-column
scans under a projection).

SEMANTICS GUARD (r9+): every audit EXECUTES each query (collect on its
own QueryExecution) and explains the AQE-FINAL plan. Exchange counts
are therefore textual occurrences across finalized stages, including
reused-exchange references and repeated subquery sections. Audits from
r9 onward are comparable to each other; they are NOT comparable to
pre-r9 audits, which explained the pre-execution plan and printed each
logical exchange once. When diffing two PLANS.md generations, first
check both headers carry this note — a reused-exchange delta between
post-execution audits is real; a delta against a pre-r9 audit is a
counting-semantics artifact, not a regression.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from cassandrastack_spark.plans.guardrails import DOCUMENTED_BNL  # noqa: E402
from cassandrastack_spark.queries import REGISTRY, load_all  # noqa: E402

DEFAULT_QUERIES = [
    "q1_pricing_summary",          # canonical scan + partial agg
    "q3_shipping_priority",        # multi-join
    "q6_forecast_revenue",         # pushdown showcase
    "projection_scan",             # column pruning through the store
    "partition_scan_ordered",      # bucket pruning
    "asof_join_next_order",        # union-sort as-of
    "dedup_paragraph_spans",       # digest-keyed winner election
    "dedup_minhash_lsh",           # banded LSH
    "text_ngram_novelty",          # digest-keyed first-occurrence
    "corpus_shard_shuffle",        # no-global-sort permutation
    "anomaly_trailing_zscore",     # single window pass
    "window_dist_functions",
    "ann_pq_topk",                 # ADC shortlist + exact re-rank
    "ann_pq_topk_prod",            # same, Arrow GEMM/gather path
    "ann_ivf_pq_topk",             # IVF pruning x PQ compression
    "dedup_incremental_minhash",   # batch-bands x corpus-bands probe
    "text_unigram_logprob",        # freq-table equi-join
    "corpus_domain_cap",           # WindowGroupLimit per-source top-n
    "rolling_wau_hll",             # mergeable-sketch trailing window
    "anomaly_cusum_changepoint",   # two window passes, one shuffle
    "stats_regression_lineitem",   # single-pass co-moments
    "full_outer_nation_accounts",  # aggregate-then-outer-join
    "text_bm25_topk",              # query-term postings + TakeOrdered
    "text_tfidf_sim_topk",         # materialized postings, probe bcast
    "embedding_label_cohesion",    # posexplode centroid, bcast scoring
    "ann_hybrid_rrf_topk",         # RRF fuse of lexical + dense legs
    "dq_profile_lineitem_approx",  # constant-state sketch aggregate
    "percentiles_acctbal_approx",  # quantile-sketch aggregate, no expand
    "text_tfidf_sim_indexed",      # TF-IDF over persisted postings
    "ann_hybrid_rrf_indexed",      # hybrid RRF over persisted indexes
    "ann_ivfpq_filtered_topk",     # pre-filtered probe of codes index
    "corpus_quality_model_score",  # one-expression linear model score
    "corpus_snapshot_diff",        # digest-only full-outer snapshot diff
    "dedup_semantic_clustered",    # SemDeDup co-assignment candidates
    "graph_pagerank_seeded",       # personalized rounds (checkpointed)
    "embedding_correlation_block", # covariance finish + diag normalize
    "embedding_covariance_drift",  # two moment passes, dim^2 equi-join
    "embedding_pca_projection_pairdist",  # Arrow GEMM + bounded probe
    "corpus_dsir_weights",         # smoothed-LM term join
    "corpus_dsir_resample",        # Gumbel top-k: TakeOrdered, no sort
    "ann_mmr_rerank_topk",         # bounded-pool greedy diversify
    "corpus_split_dedup_aware",    # component-keyed leakage-safe split
    "embedding_hard_negatives",    # label-filtered exact top-k mine
    "embedding_knn_label_agreement",  # kNN vote audit
    "embedding_covariance_exclude",   # moment-subtraction retirement
    "ann_mmr_rerank_indexed",      # MMR over the persisted-index probe
    "embedding_hard_negatives_indexed",   # per-query-allowed probe
    "embedding_knn_label_agreement_indexed",  # kNN vote over the probe
    "corpus_curriculum_order",     # 1-row quartile scalar, no sort
    "dedup_cluster_size_histogram",  # components + two count aggs
    "text_tokenizer_fertility",    # regex codegen + lang groupBy
    "dedup_semantic_indexed",      # SemDeDup from stored centroids
    "ann_index_extend_probe",      # build+extend index, pruned probe
    "text_heavy_hitters_sketch",   # MG candidates + bounded verify
    "graph_triangle_count",        # degree-ordered wedge equi-joins
    "text_bigram_logprob",         # two count tables, counts-only joins
    "corpus_dsir_weights_indexed", # DSIR from persisted postings
    "decontam_bloom_probe",        # bit_or bitmap build + word-idx join
    "corpus_weighted_sample",      # A-ES keys, TakeOrderedAndProject
    "corpus_ccnet_buckets",        # bigram LM + per-lang tercile window
    "text_zipf_fit",               # vocab rank window + regr aggregate
    "sql_recursive_tree_depth",    # UnionLoop recursive CTE
    "corpus_score_winsorize",      # order-statistic fences, 2 windows
    "corpus_score_quantile_norm",  # grid-cell ref bcast, rank windows
    "ann_matryoshka_recall",       # exact top-k legs, bounded queries
    "decontam_bloom_indexed",      # merged persisted bitmap probe
    "profile_table_stats",         # widened scan under the Expand pass
    "distinct_tokens_hll",         # m-bounded register partial_max
    "corpus_source_kl",            # vocab-bounded counts, scalar bcast
    "corpus_source_overlap",       # register max-merge pair unions
    "token_freq_cm",               # sketch-bounded cells, probe join
    "corpus_score_drift_psi",      # mergeable histograms, decimal PSI
    "quantiles_sample_sketch",     # min-k sample + rank-select legs
]

RED_FLAGS = ("BroadcastNestedLoopJoin", "CartesianProduct")


def _pagerank_round_section(spark: SparkSession, sf_dir: str) -> list[str]:
    """graph_pagerank_events gets a SPECIAL audit: its registered fn
    EXECUTES 15 checkpointed rounds, so explaining its return value
    shows only a scan of materialized rows (which is itself the
    load-bearing fact: per-round localCheckpoint keeps lineage flat).
    The per-round physical shape is audited via pagerank_round_plan —
    one un-checkpointed round over the same event-transition edges
    the query builds (queries/analytics_ext.py graph_pagerank_events).
    """
    from cassandrastack_spark.operators.graph import pagerank_round_plan
    from cassandrastack_spark.queries.analytics_ext import (
        event_transition_edges,
    )

    edges = event_transition_edges(spark, sf_dir)
    df = pagerank_round_plan(edges, weight_col="w")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    # count PHYSICAL NODES via the formatted detail headers "(N) Op" —
    # the tree section repeats every operator name, so a raw findall
    # double-counts each join
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)
    joins = [n for n in nodes if n in (
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct")]
    exchanges = sum(1 for n in nodes if n == "Exchange")
    out = ["## graph_pagerank_events (per-round plan via "
           "pagerank_round_plan)", ""]
    out.append(
        "- audited as ONE un-checkpointed power-iteration round (the "
        "registered query's returned frame is a post-checkpoint scan "
        "by design — per-round localCheckpoint keeps the plan one "
        "join deep instead of stacking 15 rounds of lineage)")
    out.append(f"- joins in one round: {sorted(set(joins)) or 'none'} "
               f"(total {len(joins)} — constant per round, "
               "independent of iteration count)")
    out.append(f"- shuffles (Exchange nodes) per round: {exchanges}")
    bnl = joins.count("BroadcastNestedLoopJoin")
    if bnl:
        out.append(
            f"- BNL present ({bnl}) — documented bounded broadcast: "
            "the 1-row dangling-mass aggregate crossJoined onto the "
            "node frame (the canonical scalar-subquery plan)")
    cp = joins.count("CartesianProduct")
    if cp or bnl > 1:
        out.append(f"- **RED FLAGS: {joins}**")
    out.append("")
    return out


def _assert_smoke_scale(sf_dir: str, limit_bytes: int = 512 * 1024 * 1024):
    """audit() collect()s every query to force an AQE-final plan; that
    is a driver materialization, bounded only by the input scale.
    Refuse anything beyond smoke scale rather than OOM the driver
    (r9 ADVICE) — the audit's purpose is plan evidence, which sf0.01
    already yields."""
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    if total > limit_bytes:
        raise SystemExit(
            f"plan_audit: {sf_dir} holds {total / 1e6:.0f} MB of input — "
            "audit() collect()s every query and is meant for smoke-scale "
            "directories (sf0.01/sf0.1). Point it at a small sf_dir."
        )


def audit(spark: SparkSession, sf_dir: str, names: list[str]) -> str:
    _assert_smoke_scale(sf_dir)
    out = ["# Plan audit (generated by tools/plan_audit.py)", ""]
    out.append(f"Input: `{sf_dir}`. For each query: chosen join "
               "strategies, shuffle (Exchange) count, scan pushdown "
               "lines, and red-flag scan results. Each audited query "
               "is EXECUTED before explaining, so the "
               "plan is AQE-final (`isFinalPlan=true`) and codegen "
               "ids are real spans — join strategies and span counts "
               "reflect what actually ran, including runtime "
               "broadcast demotions. NOTE: final-plan Exchange "
               "counts include every textual occurrence across "
               "finalized stages, reused-exchange references, and "
               "repeated subquery sections — they are comparable "
               "audit-to-audit from r9 on, but NOT to the "
               "pre-execution counts in pre-r9 audits (those "
               "printed each logical exchange once).")
    out.append("")
    out.append("## Standing semantics note: LWT (`IF ...`) is "
               "single-writer, not Paxos")
    out.append("")
    out.append(
        "The engine's conditional writes (`storage.py` "
        "`conditional_update`/`conditional_delete`, storage.py:348,385) "
        "read the current reconciled row, evaluate the condition, and "
        "append the write — returning Cassandra's `[applied]` row shape. "
        "What this does NOT guarantee, versus Cassandra's Paxos LWT: "
        "there is no consensus round, so two CONCURRENT conditional "
        "writers against the same key can both observe the old row, "
        "both pass the condition, and both apply (lost-update); and "
        "there is no linearizable read-your-own-LWT ordering across "
        "sessions. The engine is safe when writes to a key flow through "
        "ONE writer at a time — the Spark-job batch/stream ingest model "
        "this engine targets, where a partition's writes are serialized "
        "by the job scheduler — and `[applied]` then has exactly the "
        "Cassandra meaning. Multi-writer OLTP-style contention needs an "
        "external serializer (queue, lock service, or single-writer "
        "partition ownership); the engine does not simulate Paxos.")
    out.append("")
    for name in names:
        qd = REGISTRY[name]
        df = qd.fn(spark, sf_dir)
        # run the query end-to-end first: AQE only finalizes (and
        # stamps codegen ids on) the plan on execution, and runtime
        # join demotions/skew splits only show in the final plan.
        # Must be an action on THIS DataFrame's own QueryExecution —
        # df.write wraps a NEW QueryExecution and leaves this one
        # isFinalPlan=false. Audit inputs are sf0.01, so collect is
        # bounded.
        df.collect()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        joins = sorted(set(re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)", plan)))
        exchanges = len(re.findall(r"\bExchange\b", plan))
        codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        pushed = [
            line.strip() for line in plan.splitlines()
            if re.search(r"PushedFilters: \[[^]]", line)
            or "PartitionFilters: [" in line and "[]" not in line
        ][:6]
        schemas = [
            line.strip() for line in plan.splitlines()
            if "ReadSchema:" in line
        ][:4]
        flags = [f for f in RED_FLAGS if f in plan]
        out.append(f"## {name}")
        out.append("")
        out.append(f"- joins: {', '.join(joins) or 'none'}")
        out.append(f"- shuffles (Exchange nodes): {exchanges}")
        out.append(f"- whole-stage-codegen spans: {codegen}")
        for line in pushed:
            out.append(f"- `{line}`")
        for line in schemas:
            out.append(f"- `{line}`")
        if flags:
            why = DOCUMENTED_BNL.get(name)
            if why and flags == ["BroadcastNestedLoopJoin"]:
                out.append(
                    f"- BNL present — documented bounded broadcast: {why}"
                )
            else:
                out.append(f"- **RED FLAGS: {flags}**")
        out.append("")
    # the per-round PageRank section executes checkpoint/count jobs
    # against an `events` table — emit it only when a graph query is
    # actually being audited, and never let its failure (e.g. a
    # sf_dir without events) abort the other queries' audit
    if any(n.startswith("graph_pagerank") for n in names):
        try:
            out.extend(_pagerank_round_section(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            out.append(
                f"## graph_pagerank per-round section SKIPPED: {e}"
            )
            out.append("")
    return "\n".join(out)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or DEFAULT_QUERIES
    load_all()
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    text = audit(spark, sf_dir, names)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(text + "\n")
    bad = text.count("RED FLAGS")
    print(f"PLANS.md written ({len(names)} queries, {bad} red-flagged)")


if __name__ == "__main__":
    main()
