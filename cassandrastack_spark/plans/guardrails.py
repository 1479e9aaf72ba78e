"""Layout guardrails and plan lints.

Thresholds default to the reference's own envelope, re-interpreted for
a columnar engine (sources cited per field on ``Guardrails``). All
checks are DataFrame aggregations — they run distributed and return
small summaries; nothing collects raw data to the driver.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class Guardrails:
    """Engine thresholds, defaulted from the reference's config.

    - ``large_partition_bytes``: warn threshold for one partition key's
      data volume — ``compaction_large_partition_warning_threshold_mb:
      100`` (``cassandra.yaml:1164``).
    - ``skew_warn_ratio``: max/avg partition-key frequency ratio that
      flags a hot key — the analogue of the unlogged-batch-partitions
      warning guarding fan-out writes (``cassandra.yaml:1161``); AQE
      uses 5x medians for skew-join splitting, matched here.
    - ``rows_scanned_warn``: per-query scanned-row warning — the
      tombstone scan warn/fail pair (``cassandra.yaml:1150-1151``)
      generalized to "you are reading far more than you return".
    - ``small_file_bytes``: files below this are compaction candidates
      (the LSM compaction analogue, ``cassandra.yaml:818``).
    """

    large_partition_bytes: int = 100 * 1024 * 1024
    skew_warn_ratio: float = 5.0
    rows_scanned_warn: int = 100_000
    small_file_bytes: int = 8 * 1024 * 1024
    warnings: list = field(default_factory=list)

    def warn(self, msg: str) -> None:
        self.warnings.append(msg)


def partition_stats(
    df: DataFrame, key_cols: list[str], top_n: int = 20
) -> DataFrame:
    """Per-partition-key stats: rows and approximate in-memory bytes,
    largest keys first — the large-partition report.

    Byte estimate = sum of column sizes per row via to_json length
    (cheap, proportional; exact bytes are a storage-format concern).
    """
    row_bytes = F.octet_length(F.to_json(F.struct(*df.columns)))
    return (
        df.groupBy(*key_cols)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(row_bytes).alias("approx_bytes"),
        )
        .orderBy(F.desc("approx_bytes"))
        .limit(top_n)
    )


def skew_report(
    df: DataFrame, key_cols: list[str], guard: Guardrails | None = None
) -> dict:
    """Hot-key detection: max/avg/median key frequency in ONE pass
    (single aggregation over the key histogram). Returns a dict and
    appends a warning to ``guard`` when max/avg exceeds the ratio."""
    guard = guard or Guardrails()
    hist = df.groupBy(*key_cols).agg(F.count("*").alias("n"))
    row = hist.agg(
        F.max("n").alias("mx"),
        F.avg("n").alias("avg"),
        F.expr("percentile(n, 0.5)").alias("med"),
        F.count("*").alias("n_keys"),
    ).head()
    ratio = (row.mx / row.avg) if row.avg else 0.0
    report = {
        "n_keys": row.n_keys,
        "max_rows": row.mx,
        "avg_rows": float(row.avg or 0.0),
        "median_rows": float(row.med or 0.0),
        "max_over_avg": float(ratio),
        "skewed": bool(ratio > guard.skew_warn_ratio),
    }
    if report["skewed"]:
        guard.warn(
            f"skewed key in {key_cols}: hottest key has {row.mx} rows, "
            f"{ratio:.1f}x the average — salt the key or rely on AQE "
            f"skew-join splitting"
        )
    return report


def table_file_stats(
    spark: SparkSession, path: str, guard: Guardrails | None = None
) -> dict:
    """File-layout report for a parquet table directory: counts, byte
    histogram, small-file ratio. Small-file buildup is the LSM-memtable
    analogue — the signal to run the compaction job
    (``WideColumnTable.compact``).

    Walks through the Hadoop FileSystem API (same pattern as
    ``compact()``'s staging cleanup), so the report works on any
    ``fs.Path``-resolvable scheme — s3a/gs/abfs/hdfs as well as
    local files — where a 100 TB table actually lives."""
    guard = guard or Guardrails()
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    sizes = []
    if fs.exists(root):
        it = fs.listFiles(root, True)  # recursive
        while it.hasNext():
            status = it.next()
            if status.getPath().getName().endswith(".parquet"):
                sizes.append(status.getLen())
    n_small = sum(1 for s in sizes if s < guard.small_file_bytes)
    report = {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "max_bytes": max(sizes, default=0),
        "n_small_files": n_small,
        "small_ratio": (n_small / len(sizes)) if sizes else 0.0,
    }
    if sizes and report["small_ratio"] > 0.5 and len(sizes) > 8:
        guard.warn(
            f"{n_small}/{len(sizes)} files under "
            f"{guard.small_file_bytes >> 20} MB in {path} — run compact()"
        )
    return report


def plan_lints(df: DataFrame, execute: bool = False) -> dict:
    """Programmatic plan inspection — the CI-able form of .explain():

    - ``pushed_filters``: filters that reached the source scan
    - ``read_columns``: columns actually read from the source
    - ``n_shuffles`` / ``n_broadcasts``: exchange counts
    - ``whole_stage_codegen``: at least one codegen span exists
    - ``has_sort_merge_join`` / ``has_bnl_join``: expensive-join flags
      (broadcast-nested-loop on big inputs is almost always a bug)

    With ``execute=True`` the DataFrame's own execution is triggered
    (JVM-side count over its internal RDD — no rows reach the driver)
    so AQE finalizes it in place: codegen spans and runtime join choices
    are only visible in the FINAL adaptive plan, not the initial one.
    """
    if execute:
        df._jdf.queryExecution().toRdd().count()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    fmt = df._jdf.queryExecution().explainString(mode)
    # structural counts come from the simple physical-plan tree (the
    # formatted mode repeats every node in its details section, which
    # would double-count; codegen there is only an annotation). For a
    # finalized adaptive plan, keep only the Final Plan section.
    tree = df._jdf.queryExecution().executedPlan().toString()
    tree = tree.split("== Initial Plan ==")[0]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    read_schema = re.findall(r"ReadSchema: struct<([^>]*)>", fmt)
    cols: set[str] = set()
    for rs in read_schema:
        for part in rs.split(","):
            if ":" in part:
                cols.add(part.split(":")[0].strip())
    return {
        "pushed_filters": [p for p in pushed if p.strip()],
        "read_columns": sorted(cols),
        "n_shuffles": len(re.findall(r"Exchange hashpartitioning", tree)),
        "n_broadcasts": len(re.findall(r"BroadcastExchange", tree)),
        # whole-stage-codegen spans print as "*(n)" node prefixes
        "whole_stage_codegen": bool(re.search(r"\*\(\d+\)", tree)),
        "has_sort_merge_join": "SortMergeJoin" in tree,
        "has_bnl_join": "BroadcastNestedLoopJoin" in tree,
    }


# Registered queries whose plan holds a BroadcastNestedLoopJoin by
# design, with the reason: a 1-row scalar broadcast (the canonical
# scalar-subquery plan) or a literal- or cap-bounded broadcast side
# (max_query_rows / max_ref_rows fail loud past the cap). The one
# allowlist behind the plan-lint test and tools/plan_audit.py.
DOCUMENTED_BNL: dict[str, str] = {
    "q11_important_volume": "1-row 3*avg(value) threshold scalar broadcast",
    "q22_sales_opportunity": "1-row avg(acctbal) scalar broadcast",
    "profile_hot_keys": "1-row sum(cnt) table-total scalar broadcast",
    "outliers_iqr_values": "1-row quartile-fences scalar broadcast",
    "ann_pq_topk": (
        "ADC scan scores corpus x queries by design; query side capped by "
        "max_query_rows (fails loud)"),
    "ann_pq_topk_prod": (
        "same ADC shape on the Arrow path; capped by max_query_rows"),
    "ann_ivf_pq_topk": (
        "registered query embeds the exact cosine baseline for its recall "
        "invariant (capped broadcast); the composite itself equi-joins on "
        "cid"),
    "decontam_semantic": (
        "bounded eval-split broadcast x corpus scan — the cosine_topk "
        "exact-audit shape, guarded by max_ref_rows (fails loud past the "
        "cap); the reduce is a map-side-combinable max(struct) groupBy "
        "shipping one row per train vector"),
    "text_unigram_logprob": "1-row corpus-total scalar broadcast",
    "corpus_dsir_weights": (
        "1-row smoothed-LM totals (n_r, n_t, V) scalar broadcast onto the "
        "vocab frame (shared _dsir_scores_from_postings finish)"),
    "corpus_dsir_resample": (
        "same 1-row LM-totals scalar broadcast; selection is "
        "TakeOrderedAndProject"),
    "corpus_dsir_weights_indexed": (
        "same shared finish, fed from the persisted postings index"),
    "text_bigram_logprob": "1-row (N, V) training-scalar broadcast",
    "decontam_bloom_probe": (
        "1-row (m, k) filter-metadata scalar broadcasts in bloom_build / "
        "bloom_might_contain; the bitmap lookup itself is a word_idx "
        "equi-join"),
    "corpus_ccnet_buckets": (
        "the bigram LM's 1-row (N, V) scalar broadcast; terciles are an "
        "equi-keyed window"),
    "anomaly_cusum_changepoint": "1-row corpus-mean scalar broadcast",
    "decontam_bloom_indexed": (
        "same 1-row (m, k) filter-metadata scalar broadcasts, read back from "
        "the persisted+merged bitmap; probe is the word_idx equi-join"),
    "ann_matryoshka_recall": (
        "cosine_topk exact-audit shape on both legs: 10-query bounded "
        "broadcast x corpus with a <> condition (capped by max_query_rows, "
        "fails loud)"),
    "text_bm25_topk": "1-row (N, avgdl) corpus-scalar broadcast",
    "token_freq_cm": (
        "1-row (w, d) CM-geometry scalar broadcast (cm_estimate reads the "
        "modulus back from the sketch, mixed-geometry-guarded); the cell "
        "lookup itself is a (row, col) equi-join"),
    "text_tfidf_sim_topk": (
        "1-row corpus-count scalar broadcast (df-ratio cap predicate)"),
    "ann_hybrid_rrf_topk": (
        "single query-vector broadcast on the dense leg + the BM25 corpus "
        "scalars"),
    "ann_hybrid_rrf_indexed": (
        "bounded probe-side broadcasts of the persisted-index probes (query "
        "elections + 1-row index scalars)"),
    "text_tfidf_sim_indexed": (
        "1-row index-scalar broadcast from _meta (df-ratio cap predicate)"),
    "dedup_semantic_clustered": (
        "1-row x 1-row gate-stat crossJoin (exact-count scalar vs "
        "clustered-match scalar); the candidate stage itself equi-joins on "
        "the list id"),
    "dedup_semantic_indexed": (
        "same 1-row x 1-row gate-stat crossJoin as its retraining twin "
        "(shared _semantic_gate); stored-centroid assignment is a narrow map"),
    "embedding_covariance_block": (
        "1-row n + 1-row dim scalar broadcasts onto the dim^2-row moments "
        "frame (dimension-bounded by construction)"),
    "ann_ivfpq_filtered_topk": (
        "bounded probe-side broadcasts (query election + 1-row _meta "
        "scalars); the allowed-set restriction is an id equi-semi-join"),
    "embedding_correlation_block": (
        "the covariance finish's 1-row scalars plus two dim-row diagonal "
        "broadcasts (dimension-bounded)"),
    "embedding_covariance_drift": (
        "both snapshots' covariance finishes (1-row n + dim scalars); the "
        "drift itself equi-joins on (i, j)"),
    "embedding_pca_projection_pairdist": (
        "literal-bounded 16-row probe broadcast with a '<' pair condition "
        "(120 pairs by construction)"),
    "ann_mmr_rerank_topk": (
        "first-stage exact cosine_topk broadcasts the 2-row query side "
        "(capped by max_query_rows, fails loud); the MMR stage equi-joins on "
        "neighbor_id and groups per query"),
    "embedding_hard_negatives": (
        "literal-bounded 8-row anchor broadcast against the corpus scan (the "
        "cosine_topk exact-audit shape)"),
    "embedding_knn_label_agreement": (
        "literal-bounded 64-row anchor broadcast; the vote is two grouped "
        "aggregations"),
    "embedding_covariance_exclude": (
        "the covariance finish's 1-row scalars on SUBTRACTED moments, plus "
        "the 1-row x 1-row over-retire/dim-parity guard crossJoins (all "
        "count-bounded)"),
    "ann_mmr_rerank_indexed": (
        "bounded probe-side broadcasts of the persisted-index first stage "
        "(2-row query election + 1-row _meta scalars); the MMR stage "
        "equi-joins on neighbor_id and groups per query"),
    "embedding_hard_negatives_indexed": (
        "8-row anchor broadcast with a label-mismatch condition building the "
        "per-query allowed pair set (bounded by the anchor side); the probe "
        "restriction itself is an equi-semi-join on (query_id, neighbor_id)"),
    "corpus_curriculum_order": (
        "1-row token-quartile scalar broadcast (the outliers_iqr shape); "
        "stage assignment is a narrow map"),
    "corpus_source_kl": (
        "1-row corpus-token-total scalar broadcast onto the "
        "vocabulary-bounded (source, token) frame (the canonical "
        "scalar-subquery plan)"),
    "corpus_source_overlap": (
        "literal-bounded 20-row source list self-joined under '<' (190 pairs "
        "by construction — the pca_pairdist shape); register unions and the "
        "exact gate leg are equi-joins"),
}
