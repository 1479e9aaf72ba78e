"""Sparse lexical retrieval: BM25 ranking and TF-IDF similarity.

The retrieval layer a training-data pipeline needs next to the dense
ANN stack (``llm/simsearch.py``): BM25 for query->document ranking
(the hard-negative mining / eval-retrieval workhorse) and TF-IDF
cosine for document->document lexical similarity (near-dup triage
where embedding similarity is too coarse).

Both operators are pure JVM DataFrame plans — tokenize with
``split``, aggregate term stats with hash aggregates, join on the
term. Nothing collects to the driver; the corpus text column never
rides a shuffle (only (doc_id, term, weight) triples do).

Scale shape (100 TB):

- term-stat tables (df per term) are vocabulary-sized — Zipf-bounded,
  broadcast;
- the scoring join is an equi-join on the term whose density is
  bounded by ``max_df_ratio`` (drop terms present in more than that
  fraction of documents — stopwords carry no BM25/IDF signal and are
  exactly the keys that would skew the shuffle);
- the probe side of the similarity join is caller-bounded and
  broadcast, so the corpus side streams map-side only.

No counterpart in the reference (its engine delegates everything to
Cassandra, ``server.py`` routes only CRUD); this extends the corpus
operator family required by the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from cassandrastack_spark.llm._slots import slot_persist
from cassandrastack_spark.sources.io import (
    commit_generation,
    newest_generation,
    next_epoch,
    staged_partition_overwrite,
)

# Lucene defaults; callers override per corpus.
BM25_K1 = 1.2
BM25_B = 0.75

# a BM25 generation's _epochs row: its stamp and the corpus scalars
_GENERATION = "epoch long, n_docs double, avgdl double"


def _words(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, w) token stream — whitespace tokenization, matching the
    corpus-wide convention (functions/text.py and every text_* oracle
    use the same split so Spark and DuckDB agree)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )


def bm25_rank(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query under Okapi BM25.

    ``score(D) = sum_t IDF(t) * tf * (k1+1) / (tf + k1 * (1 - b +
    b * |D| / avgdl))`` with the Lucene-smoothed
    ``IDF(t) = ln(1 + (N - df + 0.5) / (df + 0.5))``.

    Plan: one pass computes per-doc length; the token stream is
    filtered to the query terms BEFORE any aggregation (the explode
    feeds a filter, so only query-term hits are ever aggregated —
    at 100 TB the aggregated stream is |terms| * matching docs, not
    the corpus token count); df and the (N, avgdl) scalars are 1-row/
    |terms|-row broadcasts. Scores are rounded to 6 decimals and the
    rank ties break on doc_id, so the output is engine-independent.

    Returns (doc_id, bm25, rnk) — ``rnk`` 1-based, best first.
    """
    if not terms:
        raise ValueError("bm25_rank needs at least one query term")
    w = _words(docs, id_col, text_col)
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).cast("double").alias("dl"),
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        w.filter(F.col("w").isin(list(terms)))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df_t = tf.groupBy("w").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * (k1 + 1.0) / denom), 6
            ).alias("bm25")
        )
    )
    # top-k FIRST (orderBy+limit plans TakeOrderedAndProject — a
    # per-partition heap + k-row merge, never a global sort or a
    # single-task window over every matching doc), THEN the rank
    # column over the k surviving rows only.
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    rnk = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(rnk)).select(
        "doc_id", "bm25", "rnk"
    )


def tfidf_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_ratio: float = 1.0,
) -> DataFrame:
    """Sparse TF-IDF document vectors as (doc_id, w, weight, norm).

    ``weight = tf * ln(N / df)``, ``norm = ||vector||_2`` per doc.
    Terms with ``df > max_df_ratio * N`` are dropped — at 100 TB this
    is THE scale lever: stopword-grade terms dominate the term-join
    density (and the shuffle skew) while contributing ~zero IDF
    weight. The default keeps everything because the synthetic test
    vocabulary is ~30 near-uniform words (any cap would empty it);
    production corpora set 0.1-0.5.

    Caching contract: the postings intermediate is cached per corpus
    in a single slot keyed by plan identity + the resolved file
    snapshot (``_slots.slot_persist``). Rewrites that land new part
    files roll the cache automatically; an in-place byte-rewrite that
    preserves every filename/size/mtime does not — write snapshots to
    new directories, or call
    ``slot_release("retrieval.tfidf_weights")`` after such a rewrite
    (same caveat as Spark's own ``df.cache()`` over a mutated path).
    """
    w = _words(docs, id_col, text_col)
    # the (doc_id, term, tf) postings aggregate is read by THREE
    # consumers (df stats, document weights, probe weights via the
    # caller's filter) — shared lineage is not shared execution, so
    # without sharing the materialization each consumer re-scans and
    # re-tokenizes the whole corpus. persist() (LAZY, unlike the
    # localCheckpoint this used to be) keeps plan-only consumers —
    # .explain, tools/plan_audit.py — from executing the tokenize
    # jobs just by constructing the frame, and the cached blocks are
    # LRU-evictable, so repeated calls can't pin executor storage
    # forever the way checkpoint blocks did. The single-slot registry
    # bounds the OTHER leak mode (CacheManager entries survive Python
    # GC): a new corpus rolls the slot and unpersists the previous
    # generation; the same corpus reuses the already-cached frames.
    # Production persists the postings as a TABLE instead
    # (build_bm25_index + tfidf_weights_from_index below — the same
    # move as the ANN codes table in ann_ivf_pq_topk).
    tf = w.groupBy("doc_id", "w").agg(
        F.count("*").cast("double").alias("tf")
    )
    # the 1-row corpus count rides along into every consumer of the
    # weighted vectors — cached so the count scan runs once across
    # executions, not once per plan branch
    n_docs = docs.select(F.count("*").cast("double").alias("n"))
    tf, n_docs = slot_persist("retrieval.tfidf_weights", tf, (tf, n_docs))
    df_t = tf.groupBy("w").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    weighted = (
        tf.join(F.broadcast(df_t), "w")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= max_df_ratio * F.col("n"))
        .withColumn("weight", F.col("tf") * F.log(F.col("n") / F.col("df")))
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm")
    )
    vecs = weighted.join(norms, "doc_id").select(
        "doc_id", "w", "weight", "norm"
    )
    # The finished vectors have TWO consumers per similarity call (the
    # broadcast probe side and the corpus side of the term join), and
    # without a barrier each re-runs the df-stats join + norm groupBy.
    # The r16 eager-localCheckpoint attempt was reverted for exactly
    # two reasons, both closed here: (a) checkpoint blocks accumulate
    # across library calls until GC — slot_persist bounds the cache to
    # ONE live generation (the slot-leak-gate discipline); (b) the
    # vectors are max_df_ratio-DEPENDENT — the slot key is the vecs
    # plan itself, which embeds the ratio literal in its df filter, so
    # a different ratio can never be served another ratio's cache (it
    # rolls the generation instead). Lazy persist: plan-only consumers
    # never execute jobs.
    (vecs,) = slot_persist("retrieval.tfidf_vecs", vecs, (vecs,))
    return vecs


def tfidf_topk_similar(
    docs: DataFrame,
    probe_ids: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    max_df_ratio: float = 1.0,
) -> DataFrame:
    """For each probe document, the ``k`` lexically closest documents
    by TF-IDF cosine.

    The probe side is bounded by construction (``probe_ids``) and
    broadcast; the corpus side streams through one equi-join on the
    term — no all-pairs stage exists anywhere in the plan, so corpus
    cost is (matching postings) not (docs^2). Cosines are rounded to
    6 decimals with doc_id tie-breaks (engine-independent output).

    Returns (query_doc, neighbor_doc, tfidf_cosine, rnk).
    """
    if not probe_ids:
        raise ValueError("tfidf_topk_similar needs at least one probe id")
    vecs = tfidf_weights(docs, id_col, text_col, max_df_ratio)
    return _cosine_topk_from_vecs(vecs, probe_ids, k)


def _cosine_topk_from_vecs(
    vecs: DataFrame, probe_ids: list[int], k: int
) -> DataFrame:
    """Shared similarity tail: sparse-vector cosine top-k over a
    (doc_id, w, weight, norm) frame. Probe side filtered out of the
    same frame (bounded by probe_ids) and broadcast; one term
    equi-join, no all-pairs stage.

    The weights frame has TWO consumers (the broadcast probe side and
    the corpus side of the term join). An eager localCheckpoint here
    was measured ~1 s faster standalone but accumulates checkpoint
    blocks across repeated library calls until GC (the r16 slot-leak
    gate, tests/test_llm_ops.py::
    test_slot_persist_bounds_cached_generations, correctly rejected
    it). r17 recovers the win legitimately at the SOURCE instead:
    both vec builders (tfidf_weights / tfidf_weights_from_index) now
    slot_persist their finished vectors keyed on the vecs plan itself
    — ratio-keyed by construction (the max_df_ratio literal lives in
    the plan's df filter), one bounded generation per slot, lazy. This
    helper stays materialization-free."""
    probes = vecs.filter(F.col("doc_id").isin(list(probe_ids))).select(
        F.col("doc_id").alias("query_doc"),
        "w",
        F.col("weight").alias("q_weight"),
        F.col("norm").alias("q_norm"),
    )
    pairs = (
        vecs.join(F.broadcast(probes), "w")
        .filter(F.col("doc_id") != F.col("query_doc"))
        .groupBy("query_doc", F.col("doc_id").alias("neighbor_doc"))
        .agg(
            F.round(
                F.sum(F.col("weight") * F.col("q_weight"))
                / (F.first("norm") * F.first("q_norm")),
                6,
            ).alias("tfidf_cosine")
        )
    )
    rnk = Window.partitionBy("query_doc").orderBy(
        F.desc("tfidf_cosine"), F.asc("neighbor_doc")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(rnk))
        .filter(F.col("rnk") <= k)
        .select("query_doc", "neighbor_doc", "tfidf_cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# persisted BM25 index — the materialized retrieval path
# ---------------------------------------------------------------------------


def _term_buckets(spark, path: str) -> int:
    """The index's term-bucket count, from its write-once ``_meta``."""
    meta = spark.read.schema("n_term_buckets int").parquet(path + "/_meta")
    return int(meta.head().n_term_buckets)


def _write_bm25_generation(
    docs: DataFrame, path: str, id_col: str, text_col: str,
    n_term_buckets: int, epoch: int, mode: str,
) -> None:
    """Write ``docs``' postings and lengths under ``epoch``, then commit
    the generation with the corpus scalars: the one write path of the
    BM25 index (build: generation 0, ``overwrite``; extend: ``append``).
    """
    spark = docs.sparkSession
    stamp = F.lit(epoch).cast("long").alias("epoch")
    (
        _words(docs, id_col, text_col)
        .groupBy("w", "doc_id")
        .agg(F.count("*").cast("double").alias("tf"))
        .select(
            "w", "doc_id", "tf", stamp,
            F.pmod(F.hash("w"), F.lit(n_term_buckets)).alias("tb"),
        )
        .repartition("tb")
        .sortWithinPartitions("tb", "w")
        .write.mode(mode)
        .partitionBy("tb")
        .parquet(path)
    )
    docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).cast("double").alias("dl"),
        stamp,
    ).write.mode(mode).parquet(path + "/_doclen")
    # per-doc LAST-WRITER stats: each doc contributes its newest
    # epoch's length once, no matter how many versions/replays landed
    dl_cur = (
        spark.read.parquet(path + "/_doclen")
        .groupBy("doc_id")
        .agg(F.expr("max_by(dl, epoch)").alias("dl"))
    )
    stats = dl_cur.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    commit_generation(spark, path, epoch, mode, stats)


def build_bm25_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_term_buckets: int = 16,
) -> None:
    """Materialize the corpus's BM25 postings at ``path`` — the same
    move as the MinHash band index and the IVF codes table: tokenize
    the corpus ONCE, then every query probes stored postings.

    Layout: (w, doc_id, tf, epoch) partitioned by ``tb = pmod(hash(w),
    n_term_buckets)`` so a probe's scan is partition-pruned to the
    query terms' buckets; (doc_id, dl, epoch) under ``path/_doclen``
    (the length-normalization side, joined for matched docs only);
    each generation's corpus scalars (n_docs, avgdl) in its
    ``path/_epochs`` row; ``n_term_buckets`` in the write-once
    ``path/_meta``. Build, extend and the ``epoch`` stamp follow the
    persisted-index lifecycle (``sources/io.py``): probes resolve a
    doc_id to its NEWEST epoch, so re-ingesting an id with changed
    text is a clean last-writer overwrite, never a merge of the two
    versions' postings. At 100 TB the postings are the Zipf-shaped
    term frequency table — (term, id, count) triples, a small multiple
    of the vocabulary-positions count, partitioned AND sorted by term
    so a probe touches a handful of row groups.
    """
    _write_bm25_generation(
        corpus, path, id_col, text_col, n_term_buckets, 0, "overwrite"
    )
    corpus.sparkSession.createDataFrame(
        [(n_term_buckets,)], "n_term_buckets int"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_meta")


def extend_bm25_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append new documents' postings and lengths as the next
    generation, whose ``_epochs`` row carries the refreshed corpus
    scalars — the write half of the retrieval ingest loop. Cost is
    proportional to the batch plus one aggregate over the small
    ``_doclen`` table (the stored corpus is never re-tokenized; df
    needs no maintenance — it is derived from the postings at probe
    time, so it is always exact).

    Same-id contract (last-writer): re-extending an already-indexed
    ``doc_id`` with DIFFERENT text is a clean overwrite — the new
    version lands at a higher epoch and probes resolve each doc to
    its newest epoch only, so the old version's postings (including
    terms absent from the new text) stop contributing entirely. A
    byte-identical replay of the SAME batch (the streaming loop's
    at-least-once window) lands identical content and is equally
    harmless. Single-writer, and superseded epochs are dead weight
    until ``compact_bm25_index``, per the lifecycle in
    ``sources/io.py``.

    A probe racing the extend can read new postings with the previous
    generation's scalars — the same eventual-consistency window the
    band-index extend has, and harmless to ranking at corpus scale.
    """
    spark = new_docs.sparkSession
    _write_bm25_generation(
        new_docs, path, id_col, text_col, _term_buckets(spark, path),
        next_epoch(spark, path), "append",
    )


def probe_bm25_index(
    spark,
    path: str,
    terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-``k`` BM25 documents from the PERSISTED index — identical
    scores to ``bm25_rank`` on the same corpus (shared formula, df
    derived exactly from the stored postings), without touching the
    corpus text: the scan is partition-pruned to the query terms'
    buckets, then filtered to the terms inside them; doc lengths join
    in for matched docs only. Returns (doc_id, bm25, rnk).
    """
    if not terms:
        raise ValueError("probe_bm25_index needs at least one query term")
    nb = _term_buckets(spark, path)
    gen = newest_generation(spark, path, _GENERATION)
    # bucket ids computed with the SAME expression build/extend used —
    # a 1-row-per-term local frame, nothing scans until the pruned read
    term_rows = spark.createDataFrame([(t,) for t in terms], "w string")
    buckets = sorted(
        r.tb
        for r in term_rows.withColumn(
            "tb", F.pmod(F.hash("w"), F.lit(nb))
        ).collect()
    )
    # LAST-WRITER read: each doc resolves to its newest epoch. This
    # makes the index correct under BOTH failure/ingest modes the
    # append-only layout admits: (a) a byte-identical at-least-once
    # replay (streaming crash inside the extend->marker window) lands
    # the same content at a higher epoch — collapsed here, the epoch
    # marker merely keeps the common case copy-free; (b) a same-id
    # re-extend with CHANGED text supersedes the old version entirely
    # — stale-epoch postings (including terms the new text dropped)
    # are filtered out before df/tf ever aggregate, so no chimera
    # document representation can form. Costs one epoch-resolution
    # join of the PRUNED postings against the per-doc doc-length
    # frame (already in the plan for length normalization).
    dl = (
        spark.read.parquet(path + "/_doclen")
        .groupBy("doc_id")
        .agg(
            F.max("epoch").alias("cur_epoch"),
            F.expr("max_by(dl, epoch)").alias("dl"),
        )
    )
    tf = (
        spark.read.parquet(path)
        .filter(F.col("tb").isin(buckets))
        .filter(F.col("w").isin(list(terms)))
        .join(dl, "doc_id")
        .filter(F.col("epoch") == F.col("cur_epoch"))
        .groupBy("w", "doc_id")
        # replayed copies within the current epoch are byte-identical
        # — max(tf) collapses them; first(dl) is constant per doc
        .agg(F.max("tf").alias("tf"), F.first("dl").alias("dl"))
    )
    df_t = tf.groupBy("w").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(gen.n_docs) - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.lit(gen.avgdl)
    )
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * (k1 + 1.0) / denom), 6
            ).alias("bm25")
        )
    )
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    rnk = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(rnk)).select(
        "doc_id", "bm25", "rnk"
    )


def postings_from_index(spark, path: str) -> DataFrame:
    """The PERSISTED postings resolved to each document's newest epoch:
    (w, doc_id, tf) with exactly one row per live doc-term pair — the
    last-writer read shared by every full-corpus consumer of the index
    (``probe_bm25_index`` does the same resolution on its PRUNED slice).
    Re-extended ids contribute only their newest version's postings;
    byte-identical at-least-once replays within an epoch collapse via
    max(tf). This frame is the corpus's term-frequency aggregate — any
    corpus statistic defined over (doc, term, count) triples (TF-IDF
    vectors, DSIR importance weights, df tables) derives from it
    without ever re-tokenizing text."""
    cur = (
        spark.read.parquet(path + "/_doclen")
        .groupBy("doc_id")
        .agg(F.max("epoch").alias("cur_epoch"))
    )
    return (
        spark.read.parquet(path)
        .join(cur, "doc_id")
        .filter(F.col("epoch") == F.col("cur_epoch"))
        .groupBy("w", "doc_id")
        .agg(F.max("tf").alias("tf"))
    )


def tfidf_weights_from_index(
    spark, path: str, max_df_ratio: float = 1.0
) -> DataFrame:
    """Sparse TF-IDF document vectors derived from the PERSISTED BM25
    postings — byte-identical values to ``tfidf_weights`` on the same
    corpus, without ever touching corpus text: the stored (w, doc_id,
    tf) triples are exactly the term-frequency aggregate TF-IDF
    needs, so document-similarity joins run postings-to-postings (the
    production shape the raw-text path only models). Docs resolve to
    their newest epoch first (same last-writer read as
    ``probe_bm25_index``); ``n`` comes from the newest generation's
    ``_epochs`` row. Returns (doc_id, w, weight, norm).
    """
    n = newest_generation(spark, path, _GENERATION).n_docs
    tf = postings_from_index(spark, path)
    df_t = tf.groupBy("w").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    weighted = (
        tf.join(F.broadcast(df_t), "w")
        .filter(F.col("df") <= max_df_ratio * n)
        .withColumn("weight", F.col("tf") * F.log(F.lit(n) / F.col("df")))
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm")
    )
    vecs = weighted.join(norms, "doc_id").select(
        "doc_id", "w", "weight", "norm"
    )
    # Same bounded vecs slot as tfidf_weights (separate slot name: the
    # index-served plan must never thrash the raw-text generation).
    # The key embeds the ratio literal AND the index file snapshot
    # (path + _doclen resolved file lists), so an extend/compact that
    # lands new part files rolls the cache; ``n`` is a literal of the
    # newest generation in the plan, rolling it on a new generation too.
    (vecs,) = slot_persist("retrieval.tfidf_vecs_index", vecs, (vecs,))
    return vecs


def tfidf_topk_similar_from_index(
    spark,
    path: str,
    probe_ids: list[int],
    k: int = 5,
    max_df_ratio: float = 1.0,
) -> DataFrame:
    """``tfidf_topk_similar`` over the persisted BM25 postings: same
    output (same weights, same ranks), but the corpus is never
    re-tokenized — cost is one pass over the stored postings. The
    probe side is still bounded by ``probe_ids`` and broadcast; the
    scoring join is the same single term equi-join. Returns
    (query_doc, neighbor_doc, tfidf_cosine, rnk)."""
    if not probe_ids:
        raise ValueError(
            "tfidf_topk_similar_from_index needs at least one probe id"
        )
    vecs = tfidf_weights_from_index(spark, path, max_df_ratio)
    return _cosine_topk_from_vecs(vecs, probe_ids, k)


def compact_bm25_index(spark, path: str) -> None:
    """Maintenance for the epoch-stamped postings: every extend appends
    files, and superseded epochs (same-id re-extends, byte-identical
    replays) accrete as dead rows — probe cost becomes file-open
    latency plus stale-row filtering. Rewrite each term-bucket
    partition to (a) only each doc's NEWEST-epoch postings, collapsed
    per (w, doc_id), and (b) sorted-by-term files, through
    ``staged_partition_overwrite`` (concurrent probes always see a
    complete bucket; a bucket whose every posting was superseded is
    deleted).

    Epochs are PRESERVED, not renumbered — the per-doc max epoch in
    ``_doclen`` must keep matching the postings' stamps at every
    interleaving with a concurrent probe, so renumbering is unsafe
    without quiescing. ``_doclen`` is left as-is: it accretes one tiny
    row per doc per write, the max_by resolution already handles it,
    and it compacts on rebuild.
    """
    cur = (
        spark.read.parquet(path + "/_doclen")
        .groupBy("doc_id")
        .agg(F.max("epoch").alias("cur_epoch"))
    )
    live = (
        spark.read.parquet(path)
        .join(cur, "doc_id")
        .filter(F.col("epoch") == F.col("cur_epoch"))
        .groupBy("tb", "w", "doc_id", "epoch")
        .agg(F.max("tf").alias("tf"))
        .select("w", "doc_id", "tf", "epoch", "tb")
    )
    staged_partition_overwrite(live, path, "tb", ["tb", "w"])
