"""Similarity search over embedding columns (array<float>).

Three tiers, per the task's scale ladder:

- **brute-force cosine top-k** — the exact baseline. All math is
  JVM-side expressions: norms precomputed per row BEFORE the join (so
  the O(Q·N) pair stage computes only a dot product), dot via
  ``aggregate(zip_with(...))`` (sequential fold — deterministic),
  top-k via per-query ``row_number``. No UDF, no driver collect.
- **multi-table hyperplane LSH** — data-independent scale path. L
  independent tables of P deterministic pseudo-random hyperplanes
  (components derived from ``xxhash64``, no RNG state to ship) give
  each vector L P-bit bucket signatures; queries probe their bucket in
  each table and candidates are the union. At 100 TB (table, bucket)
  is the corpus partition key, so a probe is L partition-pruned scans —
  the ANN analogue of the reference's single-partition read
  (``server.py:98``).
- **IVF (inverted-file) probe** — data-adaptive scale path. Spherical
  k-means centroids trained with deterministic seeding (smallest
  ``xxhash64(id)`` rows) and Lloyd iterations expressed as DataFrame
  ops over a bounded sample; the corpus is assigned to its nearest
  centroid (the IVF list id — the partition key at scale), and a query
  scans only its ``nprobe`` nearest lists. On clustered real-world
  embeddings recall at nprobe/K ≪ 1 is high; on the near-random
  fixture vectors recall ≈ probed fraction (the IVF worst case — see
  ``ann_ivf_topk``'s oracle threshold).
- **product quantization (ADC + exact re-rank)** — the memory-tier
  scale path beyond int8: each vector compresses to ``m_sub`` one-byte
  codes (dim x 4 bytes → m_sub bytes), the shortlist pass scans only
  codes, and the exact float vectors are touched for the shortlist
  rows alone. ``ann_pq_topk``, ``ann_ivf_pq_topk`` and
  ``probe_ivfpq_index`` differ only in how candidate pairs are found;
  all three elect, collapse and re-rank the per-query shortlist in
  ``_shortlist_rerank``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from cassandrastack_spark.sources.io import (
    commit_generation,
    next_epoch,
    staged_partition_overwrite,
    widen_for_compute as _widen,
)

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def _add_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """``with_norm`` without the widening: for the small, broadcast
    query side of the bounded exact paths, where a repartition would
    only add a shuffle job before the broadcast."""
    as_double = F.expr(f"transform({vec_col}, x -> cast(x AS double))")
    return df.withColumn("vec", as_double).withColumn(
        "norm", F.expr("sqrt(" + DOT.format(a="vec", b="vec") + ")")
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``vec`` (double[]) and its L2 norm (computed once per row).
    Widens narrow scans first: the vector math downstream is the
    expensive per-row stage."""
    return _add_norm(_widen(df), vec_col)


def _normed_vecs(
    df: DataFrame, id_col: str, vec_col: str,
    out_id: str, out_vec: str, out_norm: str,
) -> DataFrame:
    """(out_id, out_vec, out_norm): ids, double vectors and their L2
    norms — the shared projection of the dot/norms cosine paths."""
    return with_norm(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias(out_id),
        F.col("vec").alias(out_vec),
        F.col("norm").alias(out_norm),
    )


def _unit_vecs(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str
) -> DataFrame:
    """(out_id, out_vec): ids + unit-normalized double vectors — the
    shared normalize step of the PQ family (zero vectors pass through
    unnormalized; cosine of a zero vector is 0 either way)."""
    unit = "transform(vec, x -> CASE WHEN norm > 0 THEN x / norm ELSE x END)"
    return with_norm(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias(out_id), F.expr(unit).alias(out_vec)
    )


def _topk(
    scored: DataFrame,
    score_col: str,
    k: int,
    cols=("query_id", "neighbor_id", "rank"),
) -> DataFrame:
    """Per-query top-``k`` by ``score_col`` descending, ties broken
    toward the smaller neighbor_id: adds ``rank`` and keeps ``cols``."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_query_rows: int = 1024,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank). Excludes self-pairs.
    The corpus side is the big side; the (small) query side is
    broadcast, so the plan is a broadcast nested-loop with projected
    vectors — no shuffle of the corpus.

    This is the documented exact BASELINE: cost is corpus x queries, so
    it is linear-in-corpus only while the query side stays tiny. The
    ``max_query_rows`` guard makes a misuse with a large query set fail
    loud instead of silently planning a cartesian — raise the cap
    consciously, or use the ANN paths (``hyperplane_lsh_topk`` /
    ``ann_ivf_topk``) which bucket both sides.
    """
    n_q = queries.limit(max_query_rows + 1).count()
    if n_q > max_query_rows:
        raise ValueError(
            f"cosine_topk query side exceeds max_query_rows="
            f"{max_query_rows}: the exact baseline broadcasts the query "
            f"side and scores corpus x queries pairs; use an ANN variant "
            f"(or raise the cap explicitly) for large query sets"
        )
    corpus = _normed_vecs(df, id_col, vec_col, "neighbor_id", "c_vec", "c_norm")
    # the query side is capped and broadcast whole: not widened
    q = _add_norm(queries.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    pairs = corpus.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.withColumn(
        "cosine",
        F.expr(DOT.format(a="q_vec", b="c_vec")) / (F.col("q_norm") * F.col("c_norm")),
    )
    return _topk(scored, "cosine", k, ["query_id", "neighbor_id", "cosine", "rank"])


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: ``qvec[i] =
    round(vec[i] / scale)`` with ``scale = max|vec|/127``.

    The standard memory tier for 100 TB vector corpora: 4x smaller than
    float32 (the dominant ANN cost is scan bandwidth), dot products
    become exact integer arithmetic, and the per-vector scale restores
    magnitude on scoring. All JVM higher-order expressions — one pass,
    no UDF, no shuffle. Zero vectors quantize to zeros under scale 1.
    Adds ``vec`` (double[]), ``scale``, ``qvec`` (int[]).
    """
    return _add_int8(_widen(df), vec_col)


def _add_int8(df: DataFrame, vec_col: str) -> DataFrame:
    """``quantize_int8`` without the widening (see ``_add_norm``)."""
    amax = "array_max(transform(vec, x -> abs(x)))"
    return (
        df.withColumn(
            "vec", F.expr(f"transform({vec_col}, x -> cast(x AS double))")
        )
        .withColumn(
            "scale",
            F.expr(f"CASE WHEN {amax} > 0 THEN {amax} / 127.0 ELSE 1.0 END"),
        )
        .withColumn(
            "qvec", F.expr("transform(vec, x -> cast(round(x / scale) AS int))")
        )
    )


def ann_quantized_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_query_rows: int = 1024,
) -> DataFrame:
    """Top-k neighbors scored on int8-quantized vectors:
    ``score = q_scale * c_scale * <q_int, c_int>``.

    The integer dot product is exact (|x*y| <= 127^2, sums far below
    2^53, so the double fold is exact too), making the ranking
    deterministic and DuckDB-mirrorable — the oracle recomputes the
    same quantization and dot. Same bounded-broadcast shape and guard
    as ``cosine_topk``; at scale the quantized corpus column is what
    gets scanned, cutting bandwidth 4x (re-ranking survivors against
    the float vectors is the standard accuracy tail, omitted here to
    keep the scored space self-contained).
    """
    n_q = queries.limit(max_query_rows + 1).count()
    if n_q > max_query_rows:
        raise ValueError(
            f"ann_quantized_topk query side exceeds max_query_rows="
            f"{max_query_rows}; use an ANN bucket variant or raise the cap"
        )
    corpus = quantize_int8(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("c_q"),
        F.col("scale").alias("c_s"),
    )
    q = _add_int8(queries.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q_q"),
        F.col("scale").alias("q_s"),
    )
    idot = (
        "aggregate(zip_with(c_q, q_q, (x, y) -> cast(x AS double) * y), "
        "0D, (acc, v) -> acc + v)"
    )
    pairs = corpus.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.withColumn(
        "qscore", F.expr(idot) * F.col("c_s") * F.col("q_s")
    )
    return _topk(scored, "qscore", k)


def cosine_pairs_above(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    method: str = "exact",
    blocks: int = 8,
    target_recall: float = 0.999,
    cluster_k: int = 16,
    cluster_assign: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a_id < b_id, cosine ≥ t).

    Three candidate stages, all shuffle-distributed equi-joins (never a
    BroadcastNestedLoopJoin), sharing the exact-cosine verification tail:

    - ``method="exact"`` (default): **triangle-block self-join.** Hash
      each id into one of B blocks; a vector in block b is shuffled to
      every block-pair (b, j≥b) as the left side and (i≤b, b) as the
      right, so each unordered pair of vectors meets in EXACTLY one of
      the B(B+1)/2 pair-groups. Compute stays O(N²/2) — unavoidable for
      an exact threshold this weak — but it is evenly spread across
      B(B+1)/2 equal tasks with O(N·B) shuffled rows and O(N/B) memory
      per task, the canonical distributed all-pairs layout. Raise
      ``blocks`` with the cluster (B ≈ √(2·cores)).
    - ``method="lsh"``: hyperplane-LSH bucket equality candidates
      (approximate). Per-plane agreement for a pair at the threshold
      angle θ=acos(t) is p₁ = 1 − θ/π; planes-per-table P and table
      count L are derived so (1−p₁^P)^L ≤ 1−target_recall. Only prunes
      meaningfully for genuinely-near duplicates (t ≳ 0.7, the real
      dedup regime); at weak thresholds the derived L explodes and
      "exact" is the honest plan — that regime is provably hard to
      prune (random-projection bounds), not an implementation gap.
    - ``method="cluster"``: SemDeDup-style clustered candidates
      (Abbas et al. 2023): train ``cluster_k`` deterministic
      spherical-k-means centroids (bounded sample), assign every
      vector to its ``cluster_assign`` nearest centroids, and
      candidates are pairs co-assigned to at least one list — an
      equi-join on the list id, so compute is sum of per-cluster
      squares, not the corpus square. Multi-assignment
      (``cluster_assign`` ≥ 2) recovers pairs straddling a cluster
      boundary, the classic single-assignment recall hole. Every
      candidate is exactly verified, so reported pairs are always
      TRUE pairs (precision 1); recall is the fraction of true pairs
      that share a list. At 100 TB this is the semantic-dedup
      production shape: assignment is a narrow map over the stored
      centroids, and the pair join is keyed by cluster id (AQE splits
      hot clusters).

      Pass ``centroids`` (e.g. the list stored in a persisted IVF+PQ
      index's ``_meta`` — ``build_ivfpq_index``) to SKIP the per-run
      k-means retrain and assign against those instead — the actual
      100 TB operating point, where training happened once at index
      build and every dedup pass reuses it. ``cluster_k`` is ignored
      when ``centroids`` is given (k = len(centroids)). Assignment is
      argmax of dot(centroid, vec), invariant to the query vectors'
      norms, so centroids trained on unit vectors serve raw-vector
      corpora unchanged.

    Precondition (ADVICE r16): ``id_col`` must be UNIQUE per row. The
    verification tail's joins assume it for every method, and the
    cluster branch's in-stage candidate dedup (keep the row where the
    join cid is the min shared cid) collapses multi-assignment
    duplicates of a PAIR, not duplicate ids: two input rows sharing an
    id would emit duplicate (l_id, r_id) candidates and inflate any
    count-based consumer. Dedup ids upstream (every registered caller
    feeds distinct-id frames).
    """
    if centroids is not None and method != "cluster":
        raise ValueError(
            f"centroids= only applies to method='cluster', got {method!r}"
        )
    v = _normed_vecs(df, id_col, vec_col, "id", "vec", "norm")
    if method == "lsh":
        planes, tables = _lsh_params(threshold, target_recall)
        b = lsh_buckets(v, "vec", planes, tables).select("id", "t", "bucket")
        cand = (
            b.alias("x")
            .join(b.alias("y"), on=["t", "bucket"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(
                F.col("x.id").alias("l_id"), F.col("y.id").alias("r_id")
            )
            .distinct()
        )
    elif method == "cluster":
        if centroids is not None:
            cluster_k = len(centroids)
        if cluster_assign < 1 or cluster_assign > cluster_k:
            raise ValueError(
                f"cluster_assign must be in [1, cluster_k], got "
                f"{cluster_assign}"
            )
        if centroids is None:
            centroids = ivf_train_centroids(
                v.select("id", "vec"), k_centroids=cluster_k, iters=5
            )
        cent_arr = (
            "array(" + ", ".join(
                "array(" + ", ".join(f"{x!r}D" for x in c) + ")"
                for c in centroids
            ) + ")"
        )
        sims = (
            f"transform({cent_arr}, c -> " + DOT.format(a="c", b="vec") + ")"
        )
        assigned = (
            v.withColumn("sims", F.expr(sims))
            .withColumn(
                "cids",
                F.expr(
                    "transform(slice(array_sort(transform(sims, (s, i) -> "
                    f"struct(-s AS negs, i AS i))), 1, {cluster_assign}), "
                    "p -> cast(p.i AS int))"
                ),
            )
            .withColumn("cid", F.explode("cids"))
            .select("id", "cid", "cids")
        )
        # A multi-assigned pair meets once per SHARED list; keeping only
        # the row where the join cid is the smallest shared cid dedupes
        # in-stage (each side carries its tiny cid array), instead of
        # shuffling every candidate pair again for a distinct() — with
        # cluster_assign lists per id the arrays are a few ints, while
        # the removed exchange carries the full candidate pair set.
        cand = (
            assigned.alias("x")
            .join(assigned.alias("y"), "cid")
            .filter(
                (F.col("x.id") < F.col("y.id"))
                & (
                    F.col("cid")
                    == F.array_min(F.array_intersect("x.cids", "y.cids"))
                )
            )
            .select(
                F.col("x.id").alias("l_id"), F.col("y.id").alias("r_id")
            )
        )
    elif method == "exact":
        return _triangle_block_pairs(v, threshold, blocks)
    else:
        raise ValueError(f"unknown method: {method!r} (exact|lsh|cluster)")
    left = v.select(
        F.col("id").alias("l_id"),
        F.col("vec").alias("a_vec"),
        F.col("norm").alias("a_norm"),
    )
    right = v.select(
        F.col("id").alias("r_id"),
        F.col("vec").alias("b_vec"),
        F.col("norm").alias("b_norm"),
    )
    pairs = (
        cand.join(left, "l_id")
        .join(right, "r_id")
        .select(
            F.col("l_id").alias("a_id"),
            F.col("r_id").alias("b_id"),
            "a_vec", "a_norm", "b_vec", "b_norm",
        )
    )
    return (
        pairs.withColumn(
            "cosine",
            F.expr(DOT.format(a="a_vec", b="b_vec"))
            / (F.col("a_norm") * F.col("b_norm")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
    )


def _triangle_block_pairs(
    v: DataFrame, threshold: float, blocks: int
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold as BLOCK MATRIX MULTIPLY.

    Hash each id into one of B blocks; ship block b to every pair-group
    (b, j≥b) as the left side and (i≤b, b) as the right, so each
    unordered pair of vectors meets in EXACTLY ONE of the B(B+1)/2
    groups. Each group then runs ONE BLAS matmul over its two
    (n/B × dim) matrices inside ``applyInPandas`` — Arrow batches in,
    a numpy GEMM instead of a per-pair ``aggregate(zip_with(...))``
    fold (which allocated a temp array per pair; the GEMM is the
    canonical inner loop for distributed all-pairs similarity).
    Compute stays O(N²/2) — unavoidable for an exact threshold —
    but spreads across B(B+1)/2 equal tasks with O(N·B) shuffled rows
    and O(N/B) memory per task. Raise ``blocks`` with the cluster
    (B ≈ √(2·cores)).
    """
    import pandas as pd

    B = blocks
    blk = v.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int")
    )
    a = blk.withColumn(
        "j", F.explode(F.expr(f"sequence(blk, {B - 1})"))
    ).select(
        F.lit("a").alias("side"), "id", "vec", "norm",
        (F.col("blk") * B + F.col("j")).alias("pair"),
    )
    b = blk.withColumn(
        "i", F.explode(F.expr("sequence(0, blk)"))
    ).select(
        F.lit("b").alias("side"), "id", "vec", "norm",
        (F.col("i") * B + F.col("blk")).alias("pair"),
    )
    both = a.unionByName(b)

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pair = int(pdf["pair"].iloc[0])
        i, j = divmod(pair, B)
        left = pdf[pdf["side"] == "a"]
        right = pdf[pdf["side"] == "b"]
        if left.empty or right.empty:
            return pd.DataFrame({"a_id": [], "b_id": []}).astype("int64")
        A = np.stack(left["vec"].to_numpy()) / left["norm"].to_numpy()[:, None]
        Bm = np.stack(right["vec"].to_numpy()) / right["norm"].to_numpy()[:, None]
        G = A @ Bm.T
        ai = left["id"].to_numpy()
        bi = right["id"].to_numpy()
        mask = G >= threshold
        if i == j:
            # same-block group sees each unordered pair twice: keep id order
            mask &= ai[:, None] < bi[None, :]
        r, c = np.nonzero(mask)
        return pd.DataFrame({"a_id": ai[r], "b_id": bi[c]})

    pairs = both.groupBy("pair").applyInPandas(gemm, "a_id long, b_id long")
    return pairs.select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
    )


def _lsh_params(threshold: float, target_recall: float) -> tuple:
    """Derive (planes P, tables L) for hyperplane LSH at a cosine
    threshold: deepest P whose table count stays practical, then the L
    meeting the recall target. Raises when the threshold is too weak for
    LSH to prune (the caller should use the exact path)."""
    import math

    p1 = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    for P in range(16, 0, -1):
        p_table = p1**P
        if p_table >= 1.0:
            return P, 1
        L = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_table))
        # a random pair collides in a table w.p. ~0.5^P, so candidate
        # volume ≈ L·0.5^P of all-pairs; demand ≥2x pruning or LSH is
        # strictly worse than the exact triangle-block plan.
        if L <= 64 and L * 0.5**P <= 0.5:
            return P, L
    raise ValueError(
        f"cosine threshold {threshold} is too weak for LSH to prune "
        f"(no (planes, tables) gives recall {target_recall} with fewer "
        f"candidates than the exact plan) — use method='exact'"
    )


def lsh_buckets(
    df: DataFrame,
    vec_col: str = "vec",
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Explode each vector into ``tables`` (table, bucket) rows — standard
    multi-table (OR-construction) hyperplane LSH for cosine.

    One table of P hyperplanes finds a pair at angle θ with probability
    p = (1 - θ/π)^P — too low alone (measured 3% top-5 recall on the
    fixture corpus with P=8, single table). L independent tables recover
    1-(1-p)^L. Defaults P=4, L=8 target the fixture's near-random
    vectors (top-1 cosine ≈ 0.35 → p ≈ 0.14 → recall ≈ 0.7); for real
    clustered embeddings (neighbor cosine ≥ 0.8) raise P to 8-16 for a
    much deeper prune at the same recall.

    Plane (t, p)'s j-th component is derived from ``xxhash64`` of the
    flat index — fully deterministic on any executor, no broadcast state,
    no RNG to version. bucket = Σ_p (dot(vec, plane_{t,p}) > 0) << p.
    """
    sign = (
        "transform(sequence(0, {P} - 1), p -> "
        "CASE WHEN aggregate(zip_with({v}, transform(sequence(0, {D} - 1), "
        "j -> cast(pmod(xxhash64(t * {T0} + p * {D} + j), 1001) - 500 AS double) / 500.0), "
        "(x, y) -> x * y), 0D, (acc, z) -> acc + z) > 0 THEN 1L ELSE 0L END)"
    ).format(P=planes, v=vec_col, D=dim, T0=1_000_003)
    bucket = (
        "aggregate(zip_with({s}, sequence(0, {P} - 1), (bit, p) -> shiftleft(bit, p)), "
        "0L, (acc, v) -> acc + v)"
    ).format(s=sign, P=planes)
    return (
        df.withColumn("t", F.explode(F.expr(f"sequence(0, {tables - 1})")))
        .withColumn("bucket", F.expr(bucket))
    )


def ann_lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket in each of L tables.

    Candidates = union over tables of same-(table, bucket) pairs, scored
    once (distinct before scoring). At scale, write the corpus
    partitioned by (table, bucket) so each probe is a pruned scan — the
    ANN analogue of the reference's single-partition read
    (``server.py:98``).
    """
    c_normed = _normed_vecs(df, id_col, vec_col, "neighbor_id", "c_vec", "c_norm")
    q_normed = _normed_vecs(queries, id_col, vec_col, "query_id", "q_vec", "q_norm")
    corpus_b = lsh_buckets(c_normed, "c_vec", planes, tables, dim).select(
        "neighbor_id", "t", "bucket"
    )
    q_b = lsh_buckets(q_normed, "q_vec", planes, tables, dim).select(
        "query_id", "t", "bucket"
    )
    # candidate ids from any table, deduped BEFORE the (expensive) scoring
    cand = (
        corpus_b.join(F.broadcast(q_b), on=["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(c_normed, "neighbor_id")
        .join(F.broadcast(q_normed), "query_id")
        .withColumn(
            "cosine",
            F.expr(DOT.format(a="q_vec", b="c_vec")) / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    return _topk(scored, "cosine", k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


def _training_sample(
    corpus: DataFrame,
    sample: int = 4096,
    vec_col: str = "vec",
    id_col: str = "id",
    probe: DataFrame | None = None,
    probe_cap: int = 0,
    probe_owner: str = "",
):
    """ONE distributed job: the deterministic training sample (the
    ``sample`` rows with the smallest ``xxhash64(id)`` — a seedless
    pseudo-random draw), unit-normalized, as a numpy float64 matrix.
    Shared by ``ivf_train_centroids`` and ``pq_train_codebooks`` so a
    combined IVF+PQ build pays a single sampling scan instead of two
    identical ones. Fails loud on an empty corpus (an AxisError deep
    in numpy helps nobody). Zero vectors normalize under norm 1.

    Row order is fixed on the driver: each sampled vector ships with
    its ``(xxhash64(id), id)`` draw key and the collected rows are
    sorted by it, so the matrix (and the k-means seeded from its first
    rows) never depends on the partition order of the collected frame.

    ``probe``: optional query frame of ``probe_owner`` whose row count
    (capped at ``probe_cap + 1`` — the max_query_rows guard only needs
    to know "over or under") rides the SAME action as a tagged union
    leg, so a composite builder's guard count and sample draw cost one
    job instead of two. A count over ``probe_cap`` raises before the
    empty-corpus check, matching the unfused sequence the contract
    tests pin."""
    import numpy as np

    h = F.xxhash64(F.col(id_col).cast("string"))
    samp = (
        corpus.orderBy(h, F.col(id_col))
        .limit(sample)
        .select(
            F.lit(0).alias("_leg"),
            h.alias("h"),
            F.col(id_col).alias("id"),
            F.expr(f"transform({vec_col}, x -> cast(x AS double))").alias("v"),
        )
    )
    if probe is not None:
        samp = samp.unionByName(
            probe.limit(probe_cap + 1).select(
                F.lit(1).alias("_leg"),
                *(F.lit(None).cast(f.dataType).alias(f.name)
                  for f in samp.schema.fields[1:]),
            )
        )
    rows = samp.collect()
    if sum(r._leg for r in rows) > probe_cap:
        raise ValueError(
            f"{probe_owner} query side exceeds max_query_rows={probe_cap}; "
            f"bucket (IVF/LSH) or batch the queries, or raise the cap "
            f"explicitly"
        )
    drawn = sorted((r for r in rows if r._leg == 0), key=lambda r: (r.h, r.id))
    if not drawn:
        raise ValueError(
            "ANN training needs a non-empty corpus sample; the corpus "
            "has no rows"
        )
    X = np.asarray([r.v for r in drawn], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return X / norms


def ivf_train_centroids(
    corpus: DataFrame,
    k_centroids: int = 16,
    iters: int = 5,
    sample: int = 4096,
    vec_col: str = "vec",
    id_col: str = "id",
    sample_matrix=None,
) -> list:
    """Spherical k-means centroids as a driver-side list of unit vectors.

    ONE distributed job draws the training sample (the ``sample`` rows
    with the smallest ``xxhash64(id)`` — a seedless deterministic
    pseudo-random draw); Lloyd then runs driver-side in numpy on that
    bounded matrix (sample x dim doubles, ~2 MB — the standard IVF
    build trains in memory on a sample and assigns everything
    distributed). The previous shape ran one Spark job PER Lloyd round,
    each planning a fresh K x dim literal expression: 5 sequential
    collects and 5 Janino compiles to move kilobytes. Training cost is
    bounded by ``sample`` regardless of corpus size either way; this
    version pays one job instead of ``iters + 1``.

    Deterministic end-to-end: the sample order is the hash order,
    seeds are its first ``k_centroids`` rows, numpy float64 reductions
    are run in a fixed order.

    ``sample_matrix``: a pre-collected unit-normalized matrix from
    ``_training_sample`` — when supplied, ``sample``/``vec_col``/
    ``id_col`` are ignored (no second sampling scan). Used by the
    combined IVF+PQ builders so both trainers share ONE draw.
    """
    import numpy as np

    X = (
        _training_sample(corpus, sample, vec_col, id_col)
        if sample_matrix is None
        else sample_matrix
    )
    # fewer sampled vectors than requested lists -> every vector seeds
    # its own list (k beyond that would only mint empty lists whose
    # centroids mean nothing); callers see the real list count via
    # len(result)
    k_centroids = min(k_centroids, X.shape[0])
    centroids = X[:k_centroids].copy()
    for _ in range(iters):
        sims = X @ centroids.T                      # (n, K) cosines
        cid = np.argmax(sims, axis=1)               # first max wins ties
        new = np.zeros_like(centroids)
        counts = np.bincount(cid, minlength=k_centroids)
        np.add.at(new, cid, X)
        empty = counts == 0
        new[~empty] /= counts[~empty, None]
        new[empty] = centroids[empty]               # keep empty lists' old centroid
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        new /= norms
        moved = np.abs(new - centroids).max()
        centroids = new
        if moved < 1e-12:  # converged: assignments can no longer change
            break
    return [list(map(float, c)) for c in centroids]


def ivf_assign(
    df: DataFrame, centroids: list, vec_col: str = "vec",
    literal_max_k: int = 64,
) -> DataFrame:
    """Add ``cid``: the max-cosine centroid index (the IVF list id).
    At scale, write the corpus partitioned by ``cid`` so a probe is a
    partition-pruned scan per list.

    Two physical strategies, same result (first-max tie-break):

    - K <= ``literal_max_k``: centroids inlined as a literal array and
      scored with JVM higher-order functions — zero Python, stays in
      whole-stage codegen.
    - K > ``literal_max_k``: a literal would grow the expression tree
      (and Janino compile time) linearly in K x dim, so centroids ship
      once as a numpy matrix inside an Arrow ``pandas_udf`` closure and
      each batch scores via one (batch x dim)@(dim x K) GEMM — constant
      plan size at K = 4k-64k real IVF list counts.
    """
    if len(centroids) <= literal_max_k:
        cent_arr = (
            "array(" + ", ".join(
                "array(" + ", ".join(f"{x!r}D" for x in c) + ")" for c in centroids
            ) + ")"
        )
        sims = f"transform({cent_arr}, c -> " + DOT.format(a="c", b=vec_col) + ")"
        return df.withColumn(
            "cid",
            F.expr(f"array_position({sims}, array_max({sims})) - 1").cast("int"),
        )

    import numpy as np
    import pandas as pd

    C_T = np.asarray(centroids, dtype=np.float64).T  # (dim, K)

    def _assign_fn(vs):
        # null rows propagate to null cid, matching the literal path
        # (same discipline as pq_encode/pq_decode: crossing the size
        # gate must never change null semantics)
        na = vs.isna().to_numpy()
        res = np.empty(len(vs), dtype=object)
        res[na] = None
        if (~na).any():
            X = np.asarray(vs[~na].tolist(), dtype=np.float64)  # (live, dim)
            cids = np.argmax(X @ C_T, axis=1).astype("int32")
            for i, c in zip(np.flatnonzero(~na), cids):
                res[i] = int(c)
        return pd.Series(res)

    # real annotation objects: the module's `from __future__ import
    # annotations` would otherwise leave pandas_udf unresolvable strings
    _assign_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    _assign = F.pandas_udf(_assign_fn, "int")
    return df.withColumn("cid", _assign(F.col(vec_col)))


def _elect_probes(
    q_normed: DataFrame, centroids: list, nprobe: int, q_vec: str = "q_unit"
) -> DataFrame:
    """Explode each query row into its ``nprobe`` best centroid lists:
    the frame's columns plus ``cid``, elected on ``q_vec``.
    Deterministic — centroids score as a literal array (bounded K x
    dim), ties break on the lower list index via the (-sim, i) struct
    sort."""
    cent_arr = (
        "array(" + ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in c) + ")" for c in centroids
        ) + ")"
    )
    sims = f"transform({cent_arr}, c -> " + DOT.format(a="c", b=q_vec) + ")"
    return (
        q_normed.withColumn("sims", F.expr(sims))
        .withColumn(
            "probe",
            F.explode(
                F.expr(
                    f"slice(array_sort(transform(sims, (s, i) -> "
                    f"struct(-s AS negs, i AS i))), 1, {nprobe})"
                )
            ),
        )
        .select(
            *q_normed.columns, F.col("probe.i").cast("int").alias("cid")
        )
    )


def ann_ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    k_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 5,
) -> DataFrame:
    """Approximate top-k via IVF: scan only each query's ``nprobe``
    nearest centroid lists, exact cosine within them.

    The candidate join is an equi-join on ``cid`` — at scale the corpus
    side is partition-pruned to nprobe of k_centroids lists, the IVF
    analogue of the reference's single-partition read (``server.py:98``).
    """
    c_normed = _normed_vecs(df, id_col, vec_col, "neighbor_id", "c_vec", "c_norm")
    q_normed = _normed_vecs(queries, id_col, vec_col, "query_id", "q_vec", "q_norm")
    centroids = ivf_train_centroids(
        c_normed.select(F.col("neighbor_id").alias("id"), F.col("c_vec").alias("vec")),
        k_centroids=k_centroids,
        iters=iters,
    )
    corpus_l = ivf_assign(c_normed, centroids, "c_vec")
    probes = _elect_probes(q_normed, centroids, nprobe, "q_vec")
    scored = corpus_l.join(F.broadcast(probes), "cid").filter(
        F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "cosine",
        F.expr(DOT.format(a="q_vec", b="c_vec")) / (F.col("q_norm") * F.col("c_norm")),
    )
    return _topk(scored, "cosine", k)


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed shortlist + exact re-rank
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    corpus: DataFrame,
    m_sub: int = 8,
    k_codes: int = 16,
    iters: int = 5,
    sample: int = 4096,
    vec_col: str = "vec",
    id_col: str = "id",
    sample_matrix=None,
) -> list:
    """Per-subspace k-means codebooks: ``m_sub`` lists of ``k_codes``
    centroids, each of dimension ``dim / m_sub``.

    Same build shape as ``ivf_train_centroids`` (the two are trained
    together in a real IVF-PQ index): ONE distributed job draws the
    deterministic sample (smallest ``xxhash64(id)`` rows, unit-
    normalized), then Lloyd runs per subspace driver-side in numpy on
    the bounded matrix. L2 k-means per subspace is the standard PQ
    objective (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011). Cost is bounded by ``sample``
    regardless of corpus size.

    Returns ``codebooks[j][c] = list[float]`` (length dim/m_sub).

    ``sample_matrix``: a pre-collected unit-normalized matrix from
    ``_training_sample`` — when supplied, ``sample``/``vec_col``/
    ``id_col`` are ignored (no second sampling scan). Used by the
    combined IVF+PQ builders so both trainers share ONE draw.
    """
    import numpy as np

    X = (
        _training_sample(corpus, sample, vec_col, id_col)
        if sample_matrix is None
        else sample_matrix
    )
    if X.shape[0] < k_codes:
        raise ValueError(
            f"PQ training needs >= k_codes={k_codes} sampled vectors, "
            f"got {X.shape[0]}; shrink k_codes or grow the corpus"
        )
    dim = X.shape[1]
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub={m_sub}")
    d_sub = dim // m_sub
    books = []
    for j in range(m_sub):
        S = X[:, j * d_sub : (j + 1) * d_sub]
        cents = S[:k_codes].copy()
        for _ in range(iters):
            # squared-L2 assignment via the expansion trick; fixed
            # evaluation order keeps the result deterministic
            d2 = (
                (S * S).sum(axis=1, keepdims=True)
                - 2.0 * (S @ cents.T)
                + (cents * cents).sum(axis=1)[None, :]
            )
            cid = np.argmin(d2, axis=1)
            new = np.zeros_like(cents)
            counts = np.bincount(cid, minlength=k_codes)
            np.add.at(new, cid, S)
            empty = counts == 0
            new[~empty] /= counts[~empty, None]
            new[empty] = cents[empty]
            moved = np.abs(new - cents).max()
            cents = new
            if moved < 1e-12:
                break
        books.append([list(map(float, c)) for c in cents])
    return books


# Literal-vs-Arrow cutoff for PQ codebook expressions, in total DOUBLE
# literals (m_sub x k_codes x d_sub = k_codes x dim — what actually
# sizes the expression tree; gating on cell count alone would let a
# wide-dim codebook like m_sub=8, k_codes=256, dim=1024 inline ~262k
# literals). Defaults (8 x 16 cells x dim/8 each) stay literal /
# whole-stage-codegen; production sizes (16 x 256) take the Arrow GEMM
# path — the same plan-bloat discipline `ivf_assign` applies at
# literal_max_k.
PQ_LITERAL_MAX_DOUBLES = 8192

# Composition-safety cutoff for the LITERAL encode path, in the same
# units (total double literals). Below this, a downstream predicate
# that re-inlines the argmin tree per reference stays cheap to plan;
# above it, re-inlining was measured at 310 s of DRIVER planning for a
# 1024-double tree under an `exists()` filter (the optimizer pushes
# the filter through the project, substituting the full tree into
# every predicate branch, and each branch's `array_position(d2,
# array_min(d2))` already carries d2 twice). `pq_encode` therefore
# inserts a lazy plan barrier between the two cutoffs unless the
# caller opts out (see ``compose_safe``).
PQ_COMPOSE_MAX_DOUBLES = 256


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "vec",
    literal_max_doubles: int = PQ_LITERAL_MAX_DOUBLES,
    compose_safe: bool = True,
) -> DataFrame:
    """Add ``codes`` (array<int>, length m_sub): each subvector's
    nearest codebook entry by squared L2.

    Two physical strategies, gated like ``ivf_assign``:

    - m_sub x k_codes x d_sub <= ``literal_max_doubles``: codebooks
      inlined as literal arrays and scored with JVM higher-order
      functions — zero Python, stays in whole-stage codegen (plan size
      is bounded by the gate, which counts the double literals the
      expression tree would actually carry).
    - above the gate: codebooks ship once as a numpy tensor inside an
      Arrow ``pandas_udf`` closure; each batch assigns all subspaces
      via per-subspace GEMMs — constant plan size at production
      codebook sizes (k_codes=256, m_sub=16+).

    Both paths take the first minimum on ties. Near-exact-tie
    assignments may differ between paths at the float ulp level (the
    literal path folds squared diffs left-to-right; the Arrow path uses
    the ||s||^2 - 2 s.c + ||c||^2 expansion, matching training) — both
    are valid nearest-code assignments of the same lossy code. Input
    vectors must already be unit-normalized (PQ of cosine space). Null
    input vectors propagate to null codes on BOTH paths (the Arrow path
    masks null rows before the GEMM), so crossing the size gate never
    changes null semantics.

    Composition guard (literal path): ``codes`` is an EXPRESSION, not
    data — a downstream operator that references it more than once
    (e.g. a lambda/higher-order predicate like
    ``exists(codes, ...) | size(codes) != m``) makes Catalyst
    re-inline the full argmin literal tree per reference, and
    optimizer time explodes (measured: 310 s of driver planning for a
    sub-second job at a 1024-double tree). With ``compose_safe=True``
    (the default), a literal tree larger than
    ``PQ_COMPOSE_MAX_DOUBLES`` is therefore fenced behind a LAZY
    ``localCheckpoint(eager=False)``: downstream plans see an opaque
    ``codes`` attribute (never the tree), no job runs until the first
    action, and the blocks self-release on GC (the module-family
    barrier discipline — see ``dedup.py``'s module docstring; a
    ``persist()`` barrier would accumulate in the CacheManager until
    explicitly unpersisted). Checkpoint-block caveat, shared with
    every localCheckpoint in this engine: the blocks are unreplicated
    and lineage-truncated, so losing an executor after
    materialization fails subsequent actions on the frame (retry the
    query) instead of silently recomputing; long-lived multi-action
    pipelines on preemptible clusters should materialize codes to a
    TABLE instead, as the index builders do. Engine-internal callers
    that consume
    ``codes`` exactly once and immediately materialize (the index
    builders write codes to parquet; ``ann_pq_topk`` aggregates them)
    pass ``compose_safe=False`` to keep their plans barrier-free and
    byte-identical to prior rounds. Tiny trees (<=
    ``PQ_COMPOSE_MAX_DOUBLES``) stay pure expressions either way —
    re-inlining them is cheap.
    """
    m_sub = len(codebooks)
    k_codes = len(codebooks[0])
    d_sub = len(codebooks[0][0])
    if m_sub * k_codes * d_sub <= literal_max_doubles:
        exprs = []
        for j, book in enumerate(codebooks):
            cb = (
                "array(" + ", ".join(
                    "array(" + ", ".join(f"{x!r}D" for x in c) + ")" for c in book
                ) + ")"
            )
            sub = f"slice({vec_col}, {j * d_sub + 1}, {d_sub})"
            d2 = (
                f"transform({cb}, c -> aggregate(zip_with(c, {sub}, "
                f"(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v))"
            )
            exprs.append(f"cast(array_position({d2}, array_min({d2})) - 1 AS int)")
        # null-in → null-out (not an array OF nulls), matching the
        # Arrow path exactly
        out = df.withColumn(
            "codes",
            F.when(
                F.col(vec_col).isNotNull(),
                F.expr("array(" + ", ".join(exprs) + ")"),
            ),
        )
        if compose_safe and m_sub * k_codes * d_sub > PQ_COMPOSE_MAX_DOUBLES:
            # lazy barrier: plans (no jobs) now, so downstream
            # predicates bind to an attribute instead of re-inlining
            # the argmin tree per reference (see docstring)
            out = out.localCheckpoint(eager=False)
        return out

    import numpy as np
    import pandas as pd

    B = np.asarray(codebooks, dtype=np.float64)  # (m_sub, k_codes, d_sub)
    B_sq = (B * B).sum(axis=2)                   # (m_sub, k_codes)

    def _encode_fn(vs):
        # null rows propagate (match the literal path's null semantics)
        na = vs.isna().to_numpy()
        res = np.empty(len(vs), dtype=object)
        res[na] = None
        if (~na).any():
            X = np.asarray(vs[~na].tolist(), dtype=np.float64)  # (live, dim)
            out = np.empty((X.shape[0], m_sub), dtype=np.int32)
            for j in range(m_sub):
                S = X[:, j * d_sub : (j + 1) * d_sub]
                d2 = (
                    (S * S).sum(axis=1, keepdims=True)
                    - 2.0 * (S @ B[j].T)
                    + B_sq[j][None, :]
                )
                out[:, j] = np.argmin(d2, axis=1)  # first min wins ties
            # per-slot assignment: object-array fancy assignment would
            # re-stack the row list into a 2-D array and reject it
            for i, row in zip(np.flatnonzero(~na), out):
                res[i] = row
        return pd.Series(res)

    # real annotation objects: the module's `from __future__ import
    # annotations` would otherwise leave pandas_udf unresolvable strings
    _encode_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    _encode = F.pandas_udf(_encode_fn, "array<int>")
    return df.withColumn("codes", _encode(F.col(vec_col)))


def pq_decode(
    df: DataFrame,
    codebooks: list,
    codes_col: str = "codes",
    out_col: str = "r_vec",
    literal_max_doubles: int = PQ_LITERAL_MAX_DOUBLES,
    compose_safe: bool = False,
) -> DataFrame:
    """Add ``out_col``: the reconstructed vector — the concatenation of
    each subspace's codebook row selected by that subspace's code.

    Decode is a pure gather (no arithmetic), so the two physical paths
    are bit-identical; the gate only bounds plan size, mirroring
    ``pq_encode``: literal ``element_at`` gather under the doubles
    gate, Arrow numpy fancy-index above it. Null codes decode to null
    on both paths.

    ``compose_safe`` defaults to **False** here (unlike ``pq_encode``,
    where the planning blowup was actually measured): the single-
    reference decode-then-rank pattern is the overwhelmingly common
    one, and the ``localCheckpoint`` barrier would MATERIALIZE
    corpus-sized reconstructed floats (dim doubles per row) into
    executor block storage on first action — defeating the
    decode-on-scan layout by default. Pass ``compose_safe=True`` only
    when downstream predicates reference ``out_col`` MANY times over a
    literal gather tree above ``PQ_COMPOSE_MAX_DOUBLES`` (each
    reference re-inlines the codebook literals into the plan).
    """
    m_sub = len(codebooks)
    k_codes = len(codebooks[0])
    d_sub = len(codebooks[0][0])
    if m_sub * k_codes * d_sub <= literal_max_doubles:
        flat = (
            f"flatten(transform({codes_col}, (c, j) -> element_at("
            + "array("
            + ", ".join(
                "array(" + ", ".join(
                    "array(" + ", ".join(f"{x!r}D" for x in c) + ")" for c in book
                ) + ")"
                for book in codebooks
            )
            + "), j + 1)[c]))"
        )
        out = df.withColumn(out_col, F.expr(flat))
        if compose_safe and m_sub * k_codes * d_sub > PQ_COMPOSE_MAX_DOUBLES:
            out = out.localCheckpoint(eager=False)
        return out

    import numpy as np
    import pandas as pd

    B = np.asarray(codebooks, dtype=np.float64)  # (m_sub, k_codes, d_sub)

    def _decode_fn(cs):
        na = cs.isna().to_numpy()
        res = np.empty(len(cs), dtype=object)
        res[na] = None
        if (~na).any():
            A = np.asarray(cs[~na].tolist(), dtype=np.int64)  # (live, m_sub)
            out = np.concatenate(
                [B[j][A[:, j]] for j in range(m_sub)], axis=1
            )
            for i, row in zip(np.flatnonzero(~na), out):
                res[i] = row
        return pd.Series(res)

    _decode_fn.__annotations__ = {"cs": pd.Series, "return": pd.Series}
    _decode = F.pandas_udf(_decode_fn, "array<double>")
    return df.withColumn(out_col, _decode(F.col(codes_col)))


def ann_pq_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m_sub: int = 8,
    k_codes: int = 16,
    shortlist: int = 32,
    iters: int = 5,
    max_query_rows: int = 1024,
) -> DataFrame:
    """Approximate top-k via product quantization: ADC shortlist over
    the compressed codes, exact cosine re-rank of the shortlist only.

    The production memory tier beyond int8: the shortlist scan touches
    ``m_sub`` bytes per vector (64-dim float32 → 8 bytes, 32x), and the
    full-precision vectors are read for ``shortlist`` rows per query,
    not the corpus. ADC score = dot(q, reconstruction(x)) — computed
    here by decoding each corpus row's codes to the reconstructed
    vector (``pq_decode``: literal JVM gather at small codebooks, Arrow
    gather above ``PQ_LITERAL_MAX_DOUBLES`` — no K-proportional plan
    bloat at production sizes), then the shared DOT fold against the
    broadcast query side. Re-rank (``_shortlist_rerank``) joins the
    float vectors back on the shortlist ids (equi-join, AQE-sized) and
    re-scores exactly, which restores the ranking quality the lossy
    codes gave up.

    Deterministic end-to-end (sample draw, Lloyd order, fold order) —
    same recall-invariant oracle pattern as IVF/LSH.
    """
    c_normed = _unit_vecs(df, id_col, vec_col, "neighbor_id", "c_unit")
    q_normed = _unit_vecs(queries, id_col, vec_col, "query_id", "q_unit")
    train = c_normed.select(
        F.col("neighbor_id").alias("id"), F.col("c_unit").alias("vec")
    )
    # guard count + training-sample draw fused into ONE construction
    # job (the _training_sample probe leg)
    sample_x = _training_sample(
        train, probe=queries, probe_cap=max_query_rows,
        probe_owner="ann_pq_topk",
    )
    books = pq_train_codebooks(
        train,
        m_sub=m_sub,
        k_codes=k_codes,
        iters=iters,
        sample_matrix=sample_x,
    )
    # compressed corpus: (neighbor_id, codes). At scale this is the
    # table that lives in memory / gets scanned; floats stay in cold
    # storage keyed by id.
    codes = pq_encode(
        c_normed, books, "c_unit", compose_safe=False
    ).select("neighbor_id", "codes")
    # decode-on-scan: reconstructed vector = concat of codebook rows
    # selected by each code — pq_decode gates literal gather vs Arrow
    # on codebook size (bit-identical either way; decode is a pure
    # gather)
    decoded = pq_decode(
        codes, books, "codes", "r_vec", compose_safe=False
    )
    pairs = decoded.join(
        F.broadcast(q_normed), F.col("neighbor_id") != F.col("query_id")
    )
    return _shortlist_rerank(pairs, c_normed, shortlist, k)


def _shortlist_rerank(
    pairs: DataFrame,
    c_floats: DataFrame,
    shortlist: int,
    k: int,
    on_missing_corpus: str | None = None,
    cols=("query_id", "neighbor_id", "rank"),
) -> DataFrame:
    """The PQ family's filter-then-refine tail: ADC-score ``pairs``
    (query_id, neighbor_id, q_unit, r_vec — r_vec the PQ
    reconstruction), keep each query's top ``shortlist``, collapse
    replayed ids, fetch exact unit floats from ``c_floats``
    (neighbor_id, c_unit) and return the exact top ``k`` as ``cols``
    (which may include ``cosine``).

    ``q_unit`` rides the shortlist window from the one query frame the
    ADC scored, so ranking and re-rank can never read two evaluations
    of a nondeterministic query input, and the plan joins the query
    side once.

    An id coded more than once (an index extend replayed after a
    crash, or a direct caller re-extending an id) yields duplicate
    pairs; without the collapse the duplicate would surface as TWO
    result rows for one neighbor. It is bounded by queries x
    ``shortlist`` rows, so it is cheap; duplicates may still consume
    shortlist slots (a recall nibble, never a wrong score — the
    re-rank fetches the current floats by id).

    ``on_missing_corpus``: None when ``c_floats`` is the frame that
    was coded (every id has floats); otherwise ``c_floats`` is a
    caller's corpus that must cover every indexed id, and a
    shortlisted id without floats raises in-plan ("raise") or is
    dropped ("skip") — see ``probe_ivfpq_index``."""
    short = _topk(
        pairs.withColumn("adc", F.expr(DOT.format(a="q_unit", b="r_vec"))),
        "adc", shortlist, ["query_id", "neighbor_id", "q_unit"],
    ).dropDuplicates(["query_id", "neighbor_id"])
    how = "left" if on_missing_corpus == "raise" else "inner"
    joined = short.join(c_floats, "neighbor_id", how)
    if on_missing_corpus == "skip":
        joined = joined.filter(F.col("c_unit").isNotNull())
    cosine = F.expr(DOT.format(a="q_unit", b="c_unit"))
    if on_missing_corpus == "raise":
        cosine = F.when(
            F.assert_true(
                F.col("c_unit").isNotNull(),
                F.concat(
                    F.lit(
                        "probe_ivfpq_index: indexed id absent from the "
                        "supplied corpus (floats missing for re-rank): "
                    ),
                    F.col("neighbor_id").cast("string"),
                ),
            ).isNull(),
            cosine,
        )
    return _topk(joined.withColumn("cosine", cosine), "cosine", k, cols)


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "cosine",
    max_pool: int = 256,
) -> DataFrame:
    """Maximal Marginal Relevance diversified re-rank (Carbonell &
    Goldstein 1998): from each query's candidate pool, greedily select
    ``k`` documents maximizing ``lam * relevance(d) − (1 − lam) *
    max_{s ∈ selected} cos(d, s)`` — the second stage of two-stage
    retrieval that stops a RAG context window (or a dedup-aware
    sampler) from filling with k near-copies of the same document.

    ``candidates`` is any first-stage result with (query_id,
    neighbor_id, ``rel_col``) — exact ``cosine_topk`` here, an
    ANN/index probe at scale. Returns (query_id, neighbor_id,
    mmr_rank, mmr_score) with mmr_score the objective at selection
    time (step 1 has no diversity term: score = lam * rel).
    Deterministic: ties break to the smaller neighbor_id.

    Scale shape: the ONLY corpus-sized work is the id equi-join
    attaching candidate vectors; the greedy loop runs per query GROUP
    inside one Arrow batch over a pool bounded by the first stage
    (guarded at ``max_pool`` — the quadratic pairwise-cosine matrix is
    pool², never corpus²). 100 TB changes the first stage, not this.
    """
    import numpy as np
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    pool = candidates.select(
        "query_id", "neighbor_id", F.col(rel_col).alias("rel")
    )
    # id columns are caller-typed (bigint here, string/UUID doc ids
    # elsewhere) — derive the Arrow output schema from the actual
    # input types instead of hardcoding long (r9 ADVICE)
    qid_t = pool.schema["query_id"].dataType.simpleString()
    nid_t = pool.schema["neighbor_id"].dataType.simpleString()
    out_schema = (
        f"query_id {qid_t}, neighbor_id {nid_t}, "
        "mmr_rank int, mmr_score double"
    )
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    # LEFT join so a candidate id missing from the corpus (stale first
    # stage vs a rewritten corpus, wrong id_col) arrives with a null
    # vector and fails LOUD below — an inner join would silently
    # shrink the pool and return different top-k, inconsistent with
    # the max_pool / lam guards
    g = pool.join(vecs, "neighbor_id", "left")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_pool:
            raise ValueError(
                f"mmr_rerank pool for query {pdf['query_id'].iloc[0]} "
                f"has {n} candidates > max_pool={max_pool}: cap the "
                "first stage (its k IS the pool bound), or raise "
                "max_pool consciously — the pairwise matrix is pool²"
            )
        missing = pdf["cv"].isna()
        if missing.any():
            lost = sorted(pdf.loc[missing, "neighbor_id"].tolist())[:5]
            raise ValueError(
                f"mmr_rerank: candidate ids {lost} for query "
                f"{pdf['query_id'].iloc[0]} have no vector in the "
                "corpus frame — the first stage and corpus disagree "
                "(stale index vs rewritten corpus, or wrong id_col)"
            )
        # null relevance would become NaN below and silently poison the
        # greedy argmax (NaN comparisons) — fail as loud as the
        # missing-vector and max_pool guards do (r9 ADVICE)
        null_rel = pdf["rel"].isna()
        if null_rel.any():
            bad = sorted(pdf.loc[null_rel, "neighbor_id"].tolist())[:5]
            raise ValueError(
                f"mmr_rerank: candidate ids {bad} for query "
                f"{pdf['query_id'].iloc[0]} carry a null {rel_col!r} — "
                "the first stage must supply a relevance score for "
                "every candidate"
            )
        ids = pdf["neighbor_id"].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        X = np.asarray(pdf["cv"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0  # zero vectors: cos defined as 0
        U = X / norms[:, None]
        sims = U @ U.T
        avail = list(range(n))
        out_ids, out_scores = [], []
        for _ in range(min(k, n)):
            if out_ids:
                sel_idx = [int(np.where(ids == i)[0][0]) for i in out_ids]
                pen = sims[np.ix_(avail, sel_idx)].max(axis=1)
            else:
                pen = np.zeros(len(avail))
            score = lam * rel[avail] - (1.0 - lam) * pen
            best = min(
                range(len(avail)), key=lambda i: (-score[i], ids[avail[i]])
            )
            out_ids.append(ids[avail[best]])
            out_scores.append(float(score[best]))
            del avail[best]
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": out_ids,
                "mmr_rank": np.arange(1, len(out_ids) + 1, dtype=np.int32),
                "mmr_score": out_scores,
            }
        )

    return g.groupBy("query_id").applyInPandas(fn, out_schema)


def ann_ivf_pq_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    k_centroids: int = 16,
    nprobe: int = 4,
    m_sub: int = 8,
    k_codes: int = 16,
    shortlist: int = 32,
    iters: int = 5,
    max_query_rows: int = 1024,
) -> DataFrame:
    """IVF + PQ composite — the production ANN shape (FAISS "IVFx,PQy"):
    IVF pruning bounds WHICH vectors are touched, PQ compression bounds
    the BYTES per touched vector, and an exact float re-rank of the
    per-query shortlist restores ranking quality.

    Per query: (1) probe the ``nprobe`` nearest of ``k_centroids``
    lists — at scale the codes table is partitioned by ``cid``, so this
    is a partition-pruned scan like ``probe_ivf_index``; (2) ADC-score
    only the probed lists' CODES via decode-on-scan (``pq_decode``,
    literal/Arrow gated); (3) fetch float vectors for the
    ``shortlist`` ids alone and re-rank exactly. Cost per query ≈
    (corpus/k_centroids) x nprobe rows x m_sub bytes — both axes of
    the scan shrink, which neither tier achieves alone.

    PQ encodes the raw unit vectors, not per-list residuals (FAISS's
    ``by_residual=false`` variant): residual encoding would need a
    per-list codebook join in the hot scan, and on unit-normalized
    cosine corpora the accuracy gap is small relative to the exact
    re-rank tail. Documented trade, not an omission. Deterministic
    end-to-end like the IVF and PQ paths it composes.
    """
    c_normed = _unit_vecs(df, id_col, vec_col, "neighbor_id", "c_unit")
    q_normed = _unit_vecs(queries, id_col, vec_col, "query_id", "q_unit")
    train = c_normed.select(
        F.col("neighbor_id").alias("id"), F.col("c_unit").alias("vec")
    )
    # one sampling scan feeds both trainers (they draw the identical
    # deterministic sample; collecting it twice doubled the training
    # I/O), and the max_query_rows guard count rides the SAME job as a
    # tagged union leg — one construction action where there were two
    sample_x = _training_sample(
        train, probe=queries, probe_cap=max_query_rows,
        probe_owner="ann_ivf_pq_topk",
    )
    centroids = ivf_train_centroids(
        train, k_centroids=k_centroids, iters=iters, sample_matrix=sample_x
    )
    books = pq_train_codebooks(
        train, m_sub=m_sub, k_codes=k_codes, iters=iters,
        sample_matrix=sample_x,
    )
    # the compressed, list-partitioned corpus: (cid, neighbor_id, codes)
    # — the table that is scanned; floats stay cold, fetched by id.
    # Materialized eagerly: stacking the IVF-assignment literals AND
    # the PQ-encode literals AND the decode gather in ONE plan
    # multiplies codegen/compile cost superlinearly (~40 s constant at
    # the default literal sizes, measured); the checkpoint splits it
    # into two ordinary plans (~2 s) — and mirrors production, where
    # the codes table IS materialized (build_ivfpq_index).
    codes = (
        pq_encode(
            ivf_assign(c_normed, centroids, "c_unit"), books, "c_unit",
            compose_safe=False,
        )
        .select("cid", "neighbor_id", "codes")
        .localCheckpoint(eager=True)
    )
    decoded = pq_decode(
        codes, books, "codes", "r_vec", compose_safe=False
    )
    # queries elect their nprobe best lists (q_unit is already unit so
    # dot = cosine)
    probes = _elect_probes(q_normed, centroids, nprobe)
    pairs = decoded.join(F.broadcast(probes), "cid").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _shortlist_rerank(pairs, c_normed, shortlist, k)


# ---------------------------------------------------------------------------
# persisted IVF index — the materialized scale path
# ---------------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_centroids: int = 16,
    iters: int = 5,
) -> None:
    """Materialize the IVF layout the in-memory path only models:
    the corpus written to ``path`` PARTITIONED BY its IVF list id
    (``cid``), plus the trained centroids as a 1-row parquet under
    ``path/_centroids`` (Spark-written — works on any Hadoop-resolvable
    scheme, no local-FS assumption).

    This is the production shape: train once, assign once, lay the
    corpus out by list id; every later query is a partition-pruned
    probe of its ``nprobe`` directories (``probe_ivf_index``), the ANN
    analogue of the reference's single-partition read (server.py:98).
    Rebuild cadence is a data-drift decision, like any index.
    """
    c = _normed_vecs(corpus, id_col, vec_col, "neighbor_id", "c_vec", "c_norm")
    centroids = ivf_train_centroids(
        c.select(F.col("neighbor_id").alias("id"), F.col("c_vec").alias("vec")),
        k_centroids=k_centroids,
        iters=iters,
    )
    spark = corpus.sparkSession
    (
        ivf_assign(c, centroids, "c_vec")
        .repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(path)
    )
    spark.createDataFrame(
        [(centroids,)], "centroids array<array<double>>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_centroids")


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index: read the stored centroids (bounded
    K x dim), compute each query's ``nprobe`` nearest lists, and scan
    ONLY those ``cid=`` directories — the filter is a partition filter
    on the index layout, so the physical scan touches nprobe/K of the
    corpus (plan-asserted in tests/test_llm_ops.py). Scoring and top-k
    match ``ann_ivf_topk`` exactly."""
    centroids = (
        spark.read.parquet(path + "/_centroids").head().centroids
    )
    centroids = [list(c) for c in centroids]
    q_normed = _normed_vecs(queries, id_col, vec_col, "query_id", "q_vec", "q_norm")
    # materialized once: the partition-prune list and the broadcast
    # join side must come from the SAME evaluation (see
    # probe_ivfpq_index for the failure mode this prevents)
    probes = _elect_probes(q_normed, centroids, nprobe, "q_vec").localCheckpoint(
        eager=True
    )
    probed_cids = sorted({r.cid for r in probes.select("cid").distinct().collect()})
    corpus_l = spark.read.parquet(path).filter(F.col("cid").isin(probed_cids))
    scored = corpus_l.join(F.broadcast(probes), "cid").filter(
        F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "cosine",
        F.expr(DOT.format(a="q_vec", b="c_vec")) / (F.col("q_norm") * F.col("c_norm")),
    )
    return _topk(scored, "cosine", k)


def _write_codes(
    vecs: DataFrame, path: str, id_col: str, vec_col: str,
    centroids: list, books: list, epoch: int, mode: str,
) -> None:
    """Assign and encode ``vecs`` with the given training, write the
    codes under ``epoch``, then commit the generation: the one write
    path of the IVF+PQ index (build: generation 0, ``overwrite``;
    extend: ``append``)."""
    c_normed = _unit_vecs(vecs, id_col, vec_col, "neighbor_id", "c_unit")
    (
        pq_encode(
            ivf_assign(c_normed, centroids, "c_unit"), books, "c_unit",
            compose_safe=False,
        )
        .select(
            "cid", "neighbor_id", "codes",
            F.lit(epoch).cast("long").alias("epoch"),
        )
        .repartition("cid")
        .write.mode(mode)
        .partitionBy("cid")
        .parquet(path)
    )
    commit_generation(vecs.sparkSession, path, epoch, mode)


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_centroids: int = 16,
    m_sub: int = 8,
    k_codes: int = 16,
    iters: int = 5,
) -> None:
    """Materialize the IVF+PQ layout ``ann_ivf_pq_topk`` only models:
    the corpus's PQ CODES (not its floats) written to ``path``
    partitioned by IVF list id, plus centroids AND codebooks as a 1-row
    parquet under ``path/_meta``.

    This is the 100 TB vector-serving shape: the index stores ``m_sub``
    bytes per vector (64-dim float32 → 8 bytes, 32x), a probe is
    ``nprobe`` partition-pruned directory scans over codes, and the
    full-precision vectors never leave the source table — the re-rank
    tail fetches them by id for the shortlist alone
    (``probe_ivfpq_index``). Train once, assign once; rebuild cadence
    is a data-drift decision, like the plain IVF index.

    Build, extend, ``_meta`` and the ``epoch`` stamp on each code row
    follow the persisted-index lifecycle (``sources/io.py``) — the same
    last-writer protocol as the BM25 postings: compaction resolves a
    same-list re-extended id to its NEWEST codes (``max_by(codes,
    epoch)``) instead of a lexicographic ``max`` that could keep stale
    codes forever. On disk the constant-per-file column RLE-encodes to
    ~nothing; probes don't read it (shortlist election tolerates
    pre-compaction duplicates, and the re-rank fetches floats from the
    CORPUS, so scores are stale-proof either way — see
    ``probe_ivfpq_index``).
    """
    train = _unit_vecs(corpus, id_col, vec_col, "id", "vec")
    # one sampling scan feeds both trainers (they draw the identical
    # deterministic sample; collecting it twice doubled the training I/O)
    sample_x = _training_sample(train)
    centroids = ivf_train_centroids(
        train, k_centroids=k_centroids, iters=iters, sample_matrix=sample_x
    )
    books = pq_train_codebooks(
        train, m_sub=m_sub, k_codes=k_codes, iters=iters,
        sample_matrix=sample_x,
    )
    _write_codes(
        corpus, path, id_col, vec_col, centroids, books, 0, "overwrite"
    )
    corpus.sparkSession.createDataFrame(
        [(centroids, books)],
        "centroids array<array<double>>, "
        "codebooks array<array<array<double>>>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_meta")


def extend_ivfpq_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a persisted IVF+PQ index as the next
    generation, using the STORED centroids and codebooks — no retrain,
    no corpus re-read: the write half of the vector-ingest loop,
    mirroring ``extend_dedup_index``. Cost ∝ the batch (one assign +
    encode pass over the new rows, one append into their ``cid=``
    partitions). Retrain on drift by rebuilding, like the other
    persisted indexes.

    Crash anywhere inside the extend and the replay is safe (lifecycle:
    ``sources/io.py``): before the ``_epochs`` row commits, the replay
    re-lands byte-identical codes at the SAME epoch; after it, one
    generation higher — collapsible either way. A same-id re-extend
    with a CHANGED vector supersedes the old codes at compaction
    (``compact_ivfpq_index`` keeps ``max_by(codes, epoch)``).
    """
    spark = new_vecs.sparkSession
    meta = spark.read.parquet(path + "/_meta").head()
    centroids = [list(c) for c in meta.centroids]
    books = [[list(c) for c in book] for book in meta.codebooks]
    _write_codes(
        new_vecs, path, id_col, vec_col, centroids, books,
        next_epoch(spark, path), "append",
    )


def probe_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 32,
    include_score: bool = False,
    on_missing_corpus: str = "raise",
    allowed: DataFrame | None = None,
    allowed_id_col: str | None = None,
    allowed_query_col: str | None = None,
) -> DataFrame:
    """Query a persisted IVF+PQ index: elect each query's ``nprobe``
    lists from the stored centroids, partition-prune the codes scan to
    those ``cid=`` directories, ADC-score via decode-on-scan, then
    fetch float vectors FROM THE SOURCE CORPUS for the per-query
    ``shortlist`` ids only and re-rank exactly. Results match the
    in-memory ``ann_ivf_pq_topk`` at the same parameters (identical
    deterministic training); the physical scan touches nprobe/K of the
    codes — at m_sub bytes per vector — and |queries| x shortlist rows
    of floats, never the corpus's float column at large.
    ``include_score`` adds the exact re-rank ``cosine`` column (the
    streaming near-dup gate thresholds on it).

    ``allowed``: optional FILTERED-ANN candidate set (a frame of ids;
    ``allowed_id_col`` names its id column, default ``id_col``) —
    metadata-restricted retrieval (license-allowed, language subset,
    eval split) over the same physical index. The restriction applies
    BEFORE ADC ranking via one semi-join on the id, so every returned
    neighbor satisfies the filter and shortlist slots are never
    wasted on filtered-out vectors; recall within the allowed subset
    matches an unfiltered probe of a subset-only index at the same
    nprobe (same lists scanned, same re-rank).

    ``allowed_query_col``: when set, ``allowed`` is PER-QUERY — a
    (query, candidate-id) pair frame (``allowed_query_col`` names the
    query column) and each query ranks only its own allowed ids: the
    restriction class where the predicate depends on the anchor
    itself (label-mismatch hard-negative mining, per-tenant
    visibility, leave-one-group-out eval), which a global id set
    cannot express. The semi-join then keys on (query_id,
    neighbor_id) and applies AFTER the probe election attaches
    query_id but still BEFORE ADC ranking, so shortlist slots are
    never wasted per query. At scale the pair frame is itself a join
    of the metadata column against the (bounded) anchor set — never
    materialized corpus-wide per anchor beyond that join's output.

    Contract: ``corpus`` must contain a float vector for EVERY id the
    index holds — the index stores codes only. A shortlisted id with
    no float row raises (in-plan assertion) rather than silently
    returning fewer than ``k`` neighbors. ``on_missing_corpus="skip"``
    relaxes that to dropping the floatless shortlist rows — ONLY for
    callers whose write protocol legitimately opens an
    indexed-but-floats-not-yet-landed window and knows those ids:
    ``ingest_vectors`` extends the index BEFORE appending accepted
    floats (the reverse order would replay into a permanent recall
    hole), so a batch replayed after a crash between the two writes
    probes with a corpus that lacks exactly the crashed batch's own
    ids — under "raise" the replay would wedge the stream forever.
    """
    if on_missing_corpus not in ("raise", "skip"):
        raise ValueError(
            f"on_missing_corpus must be 'raise' or 'skip', "
            f"got {on_missing_corpus!r}"
        )
    if allowed is None and (
        allowed_query_col is not None or allowed_id_col is not None
    ):
        # a restriction column without a restriction frame is a caller
        # bug — running UNRESTRICTED here would silently hand a
        # hard-negative miner same-label "negatives"; fail loud like
        # the on_missing_corpus guard above
        raise ValueError(
            "probe_ivfpq_index: allowed_query_col/allowed_id_col set "
            "but allowed is None — pass the allowed frame, or drop "
            "the column arguments for an unrestricted probe"
        )
    meta = spark.read.parquet(path + "/_meta").head()
    centroids = [list(c) for c in meta.centroids]
    books = [[list(c) for c in book] for book in meta.codebooks]
    q_normed = _unit_vecs(queries, id_col, vec_col, "query_id", "q_unit")
    # materialize the election ONCE: the pruned cid list and the join
    # side below both read this checkpoint, so they cannot disagree
    # even for a nondeterministic `queries` input (and the query-side
    # probe work isn't paid twice)
    probes = _elect_probes(q_normed, centroids, nprobe).localCheckpoint(
        eager=True
    )
    probed = sorted({r.cid for r in probes.select("cid").distinct().collect()})
    codes = spark.read.parquet(path).filter(F.col("cid").isin(probed))
    if allowed is not None and allowed_query_col is not None:
        per_query_allowed = allowed.select(
            F.col(allowed_query_col).alias("query_id"),
            F.col(allowed_id_col or id_col).alias("neighbor_id"),
        ).distinct()
    elif allowed is not None:
        # FILTERED ANN over the persisted index: restrict candidates
        # BEFORE ADC ranking, so all k results satisfy the predicate
        # and filtered-out vectors never consume shortlist slots (the
        # post-filter alternative silently returns < k under selective
        # filters). One semi-join keyed on the id — at scale `allowed`
        # is the license/language/split id set, itself a pruned scan.
        codes = codes.join(
            allowed.select(
                F.col(allowed_id_col or id_col).alias("neighbor_id")
            ).distinct(),
            "neighbor_id",
            "semi",
        )
    decoded = pq_decode(
        codes, books, "codes", "r_vec", compose_safe=False
    )
    pairs = decoded.join(F.broadcast(probes), "cid").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    if allowed is not None and allowed_query_col is not None:
        # per-query pre-filter: after the election attached query_id,
        # still BEFORE ADC ranking — shortlist slots are never wasted
        # on a pair the caller's per-anchor predicate excludes
        pairs = pairs.join(
            per_query_allowed, ["query_id", "neighbor_id"], "semi"
        )
    c_floats = _unit_vecs(corpus, id_col, vec_col, "neighbor_id", "c_unit")
    cols = ["query_id", "neighbor_id", "rank"] + (
        ["cosine"] if include_score else []
    )
    return _shortlist_rerank(
        pairs, c_floats, shortlist, k, on_missing_corpus, cols
    )


def compact_ivfpq_index(spark, path: str) -> None:
    """Small-file + replay-duplicate maintenance for the IVF+PQ codes
    index: every ``extend_ivfpq_index`` appends a few files per
    ``cid=`` partition, and the extend->marker crash window can land a
    batch's codes twice. Rewrite each list partition to one sorted
    file set with codes collapsed per (cid, neighbor_id) by NEWEST
    epoch (``max_by(codes, epoch)`` — the BM25 postings' last-writer
    rule): a byte-identical replay collapses exactly (same epoch, same
    bytes), and a same-id re-extend with a CHANGED vector that lands
    in the SAME list keeps the new generation's codes, never the stale
    ones a lexicographic ``max(codes)`` could elect forever. Commits
    through ``staged_partition_overwrite``, so concurrent probes always
    see a complete list.

    Scope, documented: a same-id re-extend with a CHANGED vector can
    assign the id to a DIFFERENT list; the two rows then live in two
    partitions and within-list collapsing cannot merge them (cross-
    partition moves are rebuild territory). That state stays
    correct at probe time regardless: ``probe_ivfpq_index`` collapses
    duplicate ids in the shortlist and re-ranks on the CORPUS floats,
    so only shortlist ELECTION ever sees the stale list's codes (a
    recall nibble, never a wrong score).
    """
    live = (
        spark.read.parquet(path)
        .groupBy("cid", "neighbor_id")
        .agg(
            F.expr("max_by(codes, epoch)").alias("codes"),
            F.max("epoch").alias("epoch"),
        )
        .select("cid", "neighbor_id", "codes", "epoch")
    )
    staged_partition_overwrite(live, path, "cid", ["cid", "neighbor_id"])


def max_cosine_vs_refs(
    df: DataFrame,
    refs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_ref_rows: int = 65536,
) -> DataFrame:
    """For every corpus row, its single nearest vector in a BOUNDED
    reference set: ``(id_col, ref_id, cosine)`` with ``ref_id`` the
    argmax reference (ties broken toward the smallest ref id —
    deterministic on both engines, in the id type's own ordering —
    string ids stay strings) and ``cosine`` the max similarity.
    An empty reference set yields an empty frame (nothing to be near),
    and degenerate vectors — zero-norm (all-zero / empty) or carrying
    a NaN or Infinity component (norm = NaN resp. Inf) — are dropped
    on both sides: they have no finite direction, and aborting a
    100 TB job on one degenerate embedding is the wrong failure mode;
    a dropped corpus row gets no verdict row (anti-join the output to
    list them).

    This is the semantic-decontamination primitive: the reference set
    is an eval/benchmark suite's embeddings (bounded by construction,
    like the n-gram decontam family's eval gram set), the corpus is
    the unbounded training side, and downstream thresholds
    ``cosine >= t`` flag train docs that are near-duplicates of eval
    content in EMBEDDING space — catching paraphrases and format
    shifts the n-gram probes (``decontam_ngram_overlap`` /
    ``decontam_bloom_probe``) structurally miss.

    Spark shape at 100 TB: the reference side broadcasts (the
    documented bounded-BNL pattern of ``cosine_topk``, guarded by
    ``max_ref_rows`` — misuse with an unbounded ref set fails loud);
    the corpus side is scanned ONCE, scored map-side, and reduced by
    a map-side-combinable ``max(struct(...))`` groupBy, so the one
    shuffle carries exactly one row per corpus vector — never the
    corpus x refs pair stream. Contrast ``cosine_topk``, which windows
    per QUERY; this reduces per CORPUS ROW, the direction
    decontamination needs.
    """
    n_r = refs.limit(max_ref_rows + 1).count()
    if n_r > max_ref_rows:
        raise ValueError(
            f"max_cosine_vs_refs reference side exceeds max_ref_rows="
            f"{max_ref_rows}: the exact path broadcasts the refs and "
            "scores corpus x refs pairs; shrink the reference set (or "
            "raise the cap consciously) — an unbounded ref set needs "
            "an ANN path instead"
        )
    # zero-norm (all-zero / empty) vectors have no direction and no
    # cosine: drop them on BOTH sides rather than abort the whole job
    # at the division under ANSI mode (review r14 — degenerate
    # embeddings from failed embedding calls are exactly what an
    # unbounded training crawl contains). NaN and Infinity components
    # are the same degeneracy (norm = NaN resp. Inf; Spark orders NaN
    # ABOVE every double, so `norm > 0` alone passes both through and
    # the NaN cosine — NaN directly, or Inf/Inf — then satisfies
    # downstream `cosine >= t` flags, ADVICE r14 + review r15). The
    # single `norm < inf` bound drops both (NaN < inf is false under
    # Spark's NaN ordering), matching histogram_fixed's and the sample
    # builders' non-finite discipline. A dropped corpus row simply
    # gets no verdict; callers needing the list anti-join the output.
    def _finite_dir(v: DataFrame, norm: str) -> DataFrame:
        return v.filter((F.col(norm) > 0) & (F.col(norm) < F.lit(float("inf"))))

    corpus = _finite_dir(
        _normed_vecs(df, id_col, vec_col, "_cid", "c_vec", "c_norm"), "c_norm"
    )
    r = _finite_dir(
        _normed_vecs(refs, id_col, vec_col, "_rid", "r_vec", "r_norm"), "r_norm"
    )
    cos = F.expr(DOT.format(a="c_vec", b="r_vec")) / (
        F.col("c_norm") * F.col("r_norm")
    )
    scored = corpus.crossJoin(F.broadcast(r)).select(
        "_cid", "_rid", cos.alias("cosine")
    )
    # argmax via lexicographic struct MIN: smallest -cosine == highest
    # cosine first, then the SMALLEST ref id in the id's OWN ordering —
    # one map-side-combinable agg that preserves the ref id's type
    # (review r14: the old -ref_id negation silently cast string ids
    # to doubles and crashed on non-numeric ids; cosine_topk accepts
    # string ids, so this must too)
    best = scored.groupBy("_cid").agg(
        F.min(
            F.struct(
                (-F.col("cosine")).alias("_neg_cos"),
                F.col("_rid").alias("ref_id"),
                F.col("cosine").alias("cosine"),
            )
        ).alias("_b")
    )
    return best.select(
        F.col("_cid").alias(id_col),
        F.col("_b.ref_id").alias("ref_id"),
        F.col("_b.cosine").alias("cosine"),
    )
