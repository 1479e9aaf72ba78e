"""Document deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the whole point — a 100 TB corpus cannot be pairwise
compared):

- **exact**: hash-groupBy on a content digest — one shuffle on the
  digest, map-side combinable. Never ``dropDuplicates`` on the raw text
  column (shuffling full documents); shuffle the 32-byte digest instead.
- **ngram-jaccard**: candidate pairs come from an inverted index
  (explode shingles → self-join on shingle), so only documents sharing
  ≥1 shingle ever meet; the join key is a shingle hash, not the text.
  Exact verification divides intersection by union of distinct-shingle
  counts — pure integer math, deterministic across engines.
- **minhash-lsh**: 64 hash functions via the two-hop family
  ``h_s(x) = xxhash64(s, xxhash64(x))`` — each shingle string is hashed
  ONCE, then the per-seed family mixes the resulting 8-byte longs (~4x
  cheaper than re-hashing variable-length strings per seed; signatures
  from the old one-hop ``xxhash64(seed, shingle)`` family are NOT
  compatible). All JVM built-ins computed as array_min over materialized
  shingle arrays — a pure narrow map stage, no explode/shuffle; banded
  16×4; candidate pairs join only within (band, signature) buckets, and
  only candidate docs are exploded for exact verification — the
  standard sub-quadratic LSH plan.

- **simhash**: 64-bit fingerprint via an Arrow-batched pandas UDF
  (bit-twiddling that Spark expressions can't vectorize well); near-dups
  via 4×16-bit band buckets (pigeonhole: hamming ≤ 3 ⇒ ≥1 identical
  band), then exact hamming verification with ``bit_count(a XOR b)``.

Intermediates (shingle sets, candidates, banded signatures) are
materialized with ``localCheckpoint(eager=True)`` rather than
``persist()``: same Catalyst barrier (prevents CollapseProject from
re-inlining the expensive construction into every consumer — measured
30x), but the blocks self-release when the DataFrame is
garbage-collected instead of accumulating in the CacheManager for the
session lifetime (repeated calls leaked cache under persist()).
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from cassandrastack_spark.llm._slots import slot_persist
from cassandrastack_spark.sources.io import (
    staged_partition_overwrite,
    widen_for_compute as _widen,
)

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def with_shingles(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Add ``shingles``: distinct k-word shingles of the text (JVM-side).

    Built via an explicit SQL subquery boundary so the ``split`` runs
    once per row — inlining it into the transform lambda would recompute
    the full tokenization per shingle (CollapseProject duplicates the
    alias into the lambda; measured 30x slower at sf0.1).
    """
    cols = ", ".join(f"`{c}`" for c in df.columns)
    df.createOrReplaceTempView("_shingle_in")
    return df.sparkSession.sql(
        f"""
        SELECT {cols},
               array_distinct(transform(
                   sequence(0, greatest(size(words) - {k}, 0)),
                   i -> concat_ws(' ', slice(words, i + 1, {k})))) AS shingles
        FROM (SELECT {cols}, split(`{{t}}`, ' ') AS words FROM _shingle_in)
        """.replace("{t}", text_col)
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingles array<string>) — one row per doc, distinct shingles.

    Callers that consume this more than once should materialize it
    (``localCheckpoint(eager=True)``): the barrier makes downstream
    lambdas read the built arrays instead of re-inlining the shingle
    construction (CollapseProject would otherwise re-evaluate the full
    tokenization inside every consumer — measured 30x slower), and the
    blocks self-release on GC, unlike ``persist()`` which accumulates
    in the CacheManager until explicitly unpersisted.
    """
    return with_shingles(_widen(df.select(id_col, text_col)), text_col, k).select(
        F.col(id_col).alias("id"), "shingles"
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) rows, distinct per document — the inverted-index /
    signature base. Shingle construction happens exactly once per doc."""
    return shingle_sets(df, id_col, text_col, k).select(
        "id", F.explode("shingles").alias("shingle")
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical documents by md5 digest; keep the smallest id as
    canonical. Returns (text_hash, keep_id, n_dups)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index candidates)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Pairs (a_id, b_id, jaccard) with shingle-set Jaccard ≥ threshold.

    Candidate generation uses PREFIX FILTERING (the AllPairs/PPJoin
    family): order every doc's shingles by global document frequency,
    rarest first, and index only the first ``|d| - ceil(t*|d|) + 1``
    of them. Exactness: two sets with Jaccard ≥ t overlap in ≥
    ``ceil(t*max(|a|,|b|))`` elements, so skipping the last
    ``ceil(t*|d|) - 1`` of each (in ONE shared global order) cannot
    skip every shared element — every qualifying pair still collides
    on ≥1 indexed shingle. Hot shingles (stopword runs — the skew
    killer in a plain inverted-index self-join) sort LAST and fall out
    of the prefixes, so the self-join's key distribution is bounded by
    construction instead of delegated to AQE skew splitting.

    Verification recomputes exact Jaccard from the FULL shingle sets of
    candidate docs only — |A∪B| = |A|+|B|-shared, pure integer math.
    """
    # every stage downstream of shingling works on 8-byte xxhash64
    # shingle hashes (cheaper joins, array ops, shuffles); the raw
    # string arrays are kept ONLY for the final exact re-check. Hash
    # collisions can only ADD candidates / inflate the first-pass
    # shared-count upper bound — the string-array re-check makes the
    # output exact up to an in-pair 64-bit collision (p ≈ 1e-16).
    sh = (
        shingle_sets(df, id_col, text_col, k)
        .withColumn("hx", F.expr("transform(shingles, s -> xxhash64(s))"))
        .localCheckpoint(eager=True)
    )
    inv = sh.select("id", F.explode("hx").alias("h"))
    doc_freq = inv.groupBy("h").agg(F.count("*").alias("df"))
    # per-doc (df, h) list → sort rarest-first as one array op → slice
    # the prefix. One shuffle (groupBy id) instead of a doc_freq-join +
    # sizes-join + window sort chain. df=1 shingles can't form pairs
    # and are dropped first (still exact: shared shingles have df >= 2,
    # and overlap >= t*|A| >= t*|A'| keeps the prefix lemma valid on
    # the reduced sets).
    n_prefix = "cast(size(ss) - ceil({t}D * size(ss)) + 1 AS int)".format(
        t=threshold
    )
    # sort key packs (df, h) into ONE long — df in the high bits, the
    # low 32 bits of the hash below it — so the per-doc rarest-first
    # sort is a primitive array_sort (no struct comparator codegen).
    # Still a globally consistent shingle order; the 32-bit truncation
    # only merges buckets (extra candidates, removed by verification).
    prefix = (
        inv.join(doc_freq.filter(F.col("df") > 1), "h")
        .groupBy("id")
        .agg(
            F.collect_list(
                F.expr("df * 4294967296L + (h & 4294967295L)")
            ).alias("ss")
        )
        .select(
            "id",
            F.size("ss").alias("sz"),
            F.posexplode(
                F.expr(f"slice(array_sort(ss), 1, {n_prefix})")
            ).alias("pos", "h"),
        )
        # materialized once: the self-join otherwise rebuilds the whole
        # inverted-index -> doc_freq -> sort-slice chain PER SIDE (the
        # planner does not reuse the exchange across the x/y aliases)
        .localCheckpoint(eager=True)
    )
    # PPJoin positional filter. Both docs' token lists follow ONE global
    # (df, hash) order, so the globally-first shared token has the
    # minimal position on BOTH sides simultaneously (min(x.pos) and
    # min(y.pos) below refer to the same token), and every other shared
    # token sits strictly after it on both sides. Hence
    #   overlap <= 1 + min(|A| - posA, |B| - posB)        (1-based pos)
    # while jaccard >= t requires overlap >= t/(1+t) * (|A|+|B|).
    # Candidates whose first collision happens too late — exactly the
    # random pairs meeting only on common shingles, which sort LAST in
    # the rarest-first order — are pruned BEFORE the shingle arrays are
    # attached, which is where the verification cost lives. Sizes here
    # are the df>1-reduced sizes: shared tokens all have df >= 2, so the
    # reduced overlap equals the full overlap and the reduced-size alpha
    # is a lower bound of the full-size alpha — the filter stays exact.
    # The comparison is kept in multiplied-out integer-ish form (no
    # ceil) with an epsilon so float rounding can only ADD candidates.
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), on="h")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(
            F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id")
        )
        .agg(
            F.min(F.col("x.pos")).alias("ia"),
            F.min(F.col("y.pos")).alias("jb"),
            F.first(F.col("x.sz")).alias("sza"),
            F.first(F.col("y.sz")).alias("szb"),
        )
        .filter(
            (1 + F.least(F.col("sza") - (F.col("ia") + 1),
                         F.col("szb") - (F.col("jb") + 1)))
            * (1.0 + threshold)
            >= threshold * (F.col("sza") + F.col("szb")) - 1e-9
        )
        .select("a_id", "b_id")
    )
    # verification: first on the hashed arrays — an upper bound on
    # jaccard (collisions inflate shared), so filtering on it loses no
    # qualifying pair — then exactly on the string arrays. Both sides'
    # (hx, shingles) ride ONE join pair: the split form (hash join pair
    # + string join pair) shuffled the same sh bytes through FOUR joins
    # (the string joins attach the full table regardless of which rough
    # rows survive); merged, it is two joins for identical bytes, and
    # the exact re-check still only runs on hash-check survivors (the
    # UB filter precedes it in the same stage).
    a_side = sh.select(
        F.col("id").alias("a_id"),
        F.col("hx").alias("a_h"),
        F.col("shingles").alias("a_s"),
    )
    b_side = sh.select(
        F.col("id").alias("b_id"),
        F.col("hx").alias("b_h"),
        F.col("shingles").alias("b_s"),
    )
    return (
        cand.join(a_side, "a_id")
        .join(b_side, "b_id")
        .withColumn("shared_ub", F.size(F.array_intersect("a_h", "b_h")))
        .filter(
            F.col("shared_ub")
            / (F.size("a_h") + F.size("b_h") - F.col("shared_ub"))
            >= threshold
        )
        .withColumn("shared", F.size(F.array_intersect("a_s", "b_s")))
        .withColumn(
            "jaccard",
            F.col("shared")
            / (F.size("a_s") + F.size("b_s") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH
# ---------------------------------------------------------------------------


def minhash_from_sets(sets: DataFrame, num_hashes: int = 64) -> DataFrame:
    """(id, minhash array<bigint>) from (id, shingles array) rows —
    hash family h_s(x) = xxhash64(s, xxhash64(x)).

    Each shingle STRING is hashed exactly once (``hx``); the per-seed
    family then mixes the resulting 8-byte longs, which is ~4x cheaper
    than re-hashing variable-length strings ``num_hashes`` times. Both
    hops are JVM built-ins — no explode, no shuffle, no UDF; signature
    computation is a pure narrow map stage, embarrassingly parallel at
    any scale. Feed it a PERSISTED ``shingle_sets`` output so the lambda
    reads built arrays (see shingle_sets docstring).
    """
    sig = (
        f"transform(sequence(0, {num_hashes - 1}), "
        f"s -> array_min(transform(hx, h -> xxhash64(s, h))))"
    )
    return sets.select(
        "id",
        F.expr("transform(shingles, x -> xxhash64(x))").alias("hx"),
    ).select("id", F.expr(sig).alias("minhash"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """(id, minhash array<bigint>) straight from documents."""
    return minhash_from_sets(
        shingle_sets(df, id_col, text_col, k).localCheckpoint(eager=True),
        num_hashes,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via banded MinHash, verified with exact Jaccard.

    bands=16, rows=4 → S-curve threshold ≈ (1/16)^(1/4) ≈ 0.5. Candidate
    generation joins only within (band, band_signature) buckets — the
    inverted-index shuffle is on 8-byte signatures, never on documents.
    """
    rows = num_hashes // bands
    # ONE shingle-set table feeds both the signatures and the
    # verification tail; persisted so neither consumer re-runs the
    # shingling (the single most expensive stage).
    sh = shingle_sets(df, id_col, text_col, k).localCheckpoint(eager=True)
    sigs = minhash_from_sets(sh, num_hashes)
    banded = sigs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b AS band, xxhash64(concat_ws(',', slice(minhash, b * {rows} + 1, {rows}))) AS sig))"
            )
        ).alias("bs"),
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    # Candidate pairs are tiny (band collisions only) but expensive to
    # derive — materialize so the banding pipeline runs once (the
    # self-join reads the banded table through two aliases, and the
    # verification tail joins cand twice).
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "sig"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # exact verification: attach each side's cached shingle array with
    # ONE join pair and intersect in-row — the same tail shape as
    # ngram_jaccard_pairs. The former inverted-index count (semi-join
    # to candidate docs, explode, two joins on the shingle STRING, a
    # pair groupBy, then two size joins — six shuffling ops) moved the
    # same shingle bytes row-per-shingle instead of row-per-doc; shared
    # counts and sizes are identical (shingle arrays are distinct per
    # doc by construction). No forced broadcast hints — AQE sees the
    # candidate-side size at runtime and picks broadcasts.
    a_side = sh.select(F.col("id").alias("a_id"), F.col("shingles").alias("a_s"))
    b_side = sh.select(F.col("id").alias("b_id"), F.col("shingles").alias("b_s"))
    return (
        cand.join(a_side, "a_id")
        .join(b_side, "b_id")
        .withColumn("shared", F.size(F.array_intersect("a_s", "b_s")))
        .withColumn(
            "jaccard",
            F.col("shared")
            / (F.size("a_s") + F.size("b_s") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_lsh_pairs_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between an incoming BATCH and an existing CORPUS —
    the production incremental-ingest shape: a crawl drop is deduped
    against the already-accepted corpus without ever joining the corpus
    to itself.

    The candidate join is batch-bands x corpus-bands on (band, sig):
    cost scales with |batch| x collision rate, not |corpus|^2. At 100 TB
    the corpus band table is the persisted dedup INDEX, partitioned by
    (band, sig) — each batch signature probes a pruned bucket, the
    MinHash analogue of the reference's single-partition read
    (server.py:98); only the small batch side is (re)hashed per drop.
    Returns (batch_id, corpus_id, jaccard) verified exact on the full
    shingle sets, like ``minhash_lsh_pairs``.
    """
    def _banded(df: DataFrame, side: str):
        # ONE banding implementation for the whole module
        # (_banded_signatures) — three hand-copies would have to stay
        # byte-identical or index probes would stop matching stored rows
        sh = shingle_sets(df, id_col, text_col, k).localCheckpoint(eager=True)
        banded = _banded_signatures(
            None, id_col, text_col, k, num_hashes, bands, sets=sh
        ).withColumnRenamed("id", f"{side}_id")
        return sh, banded

    c_sh, c_banded = _banded(corpus, "corpus")
    b_sh, b_banded = _banded(batch, "batch")
    cand = (
        b_banded.join(c_banded, on=["band", "sig"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    b_arr = b_sh.select(F.col("id").alias("batch_id"), F.col("shingles").alias("b_s"))
    c_arr = c_sh.select(F.col("id").alias("corpus_id"), F.col("shingles").alias("c_s"))
    return (
        cand.join(b_arr, "batch_id")
        .join(c_arr, "corpus_id")
        .withColumn("shared", F.size(F.array_intersect("b_s", "c_s")))
        .withColumn(
            "jaccard",
            F.col("shared") / (F.size("b_s") + F.size("c_s") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


# Worker-lifetime cache: word -> ±1 bit-vector (int16[64], index i is
# bit i of the md5-derived 64-bit word hash). Vocabularies repeat
# heavily across documents, so the cache turns the per-word inner loop
# into one numpy lookup + vector add.
_WORD_VECS: dict[str, "np.ndarray"] = {}

import numpy as np  # noqa: E402


def _word_vec(w: str) -> "np.ndarray":
    v = _WORD_VECS.get(w)
    if v is None:
        h = hashlib.md5(w.encode()).digest()[:8]
        bits = np.unpackbits(
            np.frombuffer(h[::-1], dtype=np.uint8), bitorder="little"
        )
        v = bits.astype(np.int16) * 2 - 1
        _WORD_VECS[w] = v
    return v


@pandas_udf(LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens, md5-based word hashes
    (deterministic across processes — no PYTHONHASHSEED dependence).
    Bit i of the result is the sign of the count-weighted sum of bit i
    over all word hashes. Vectorized: per doc one int32[64] accumulate
    over cached per-word ±1 vectors."""
    out = np.empty(len(texts), dtype=np.int64)
    for j, t in enumerate(texts):
        counts: dict[str, int] = {}
        for w in (t or "").split(" "):
            counts[w] = counts.get(w, 0) + 1
        acc = np.zeros(64, dtype=np.int32)
        for w, c in counts.items():
            acc += _word_vec(w) * np.int16(c) if c != 1 else _word_vec(w)
        v = int(np.packbits(acc > 0, bitorder="little").view("<u8")[0])
        out[j] = v - (1 << 64) if v >= (1 << 63) else v  # to signed 64-bit
    return pd.Series(out, dtype="int64")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming.

    Pigeonhole banding: split the 64-bit fingerprint into 4 16-bit
    bands; hamming ≤ 3 ⇒ at least one band identical, so candidates
    join on (band, band_value) and only candidates pay the exact
    ``bit_count(xor)`` check.
    """
    sigs = _widen(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), _simhash64(F.col(text_col)).alias("sh")
    )
    banded = sigs.select(
        "id",
        "sh",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> "
                "struct(b AS band, shiftright(sh, b * 16) & 65535 AS bval))"
            )
        ).alias("bb"),
    ).select("id", "sh", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    # Materialize the (tiny) banded signatures: the self-join below
    # would otherwise evaluate the fingerprint UDF once per join side —
    # the Python stage is the whole cost of this operator. localCheckpoint
    # self-releases on GC (persist() leaked across repeated calls).
    banded = banded.localCheckpoint(eager=True)
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(y, on=["band", "bval"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a_id"),
            F.col("y.id").alias("b_id"),
            F.bit_count(F.col("x.sh").bitwiseXOR(F.col("y.sh"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# duplicate clustering (connected components)
# ---------------------------------------------------------------------------


def dedup_components(
    pairs: DataFrame,
    max_iter: int = 20,
    algorithm: str = "auto",
    switch_after: int = 4,
) -> DataFrame:
    """(id, component) — connected components of a duplicate-pair graph,
    component = smallest member id. The step after pair generation in a
    dedup pipeline: pairs chain (a~b, b~c), and keep-one-per-component
    needs the transitive closure, not the pairs.

    Three modes, identical results:

    - ``auto`` (default): min-label propagation — one join + one agg
      per round, O(diameter) rounds — which is optimal for real
      duplicate clusters (stars/short chains, 2-4 rounds). If it has
      NOT converged after ``switch_after`` rounds, the graph has deep
      chains (e.g. boilerplate drifting one shingle per doc): contract
      every current label class to one node and finish with
      large-star/small-star on the (much smaller) contracted graph.
      Shallow graphs never pay the star rounds; pathological graphs
      get the O(log n) guarantee on a contracted input.
    - ``star``: alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14) from
      round one — converges in O(log n) rounds independent of
      diameter; two groupBy-min + join steps per round.
    - ``label``: pure min-label propagation, for A/B.

    Contraction is label-preserving: label classes are keyed by real
    node ids that include each component's minimum, so star's minimum
    over contracted nodes IS the component minimum. All modes
    checkpoint per round so lineage stays flat instead of growing
    exponentially.
    """
    if algorithm == "star":
        return _components_star(pairs, max_iter)
    # Materialize the edge list ONCE: every propagation round joins
    # against it, and `changed` adds a second action per round — without
    # the checkpoint each of those re-runs the entire upstream
    # pair-generation pipeline (shingling + prefix join + verification),
    # turning O(diameter) rounds into O(diameter) full recomputes.
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .localCheckpoint(eager=True)
    )
    id_type = edges.schema["src"].dataType
    labels = None
    for rnd in range(max_iter):
        if labels is None:
            # round 1 needs no label join: label(u) == u, so the
            # propagated row for edge (src, dst) is just (dst, src),
            # and the identity rows need no pre-distinct (the groupBy
            # collapses duplicates; min is unaffected). One shuffle,
            # zero joins, no initial-labels checkpoint job.
            own = edges.select(
                F.col("src").alias("id"),
                F.col("src").alias("comp"),
                F.col("src").alias("own"),
            )
            prop = edges.select(
                F.col("dst").alias("id"),
                F.col("src").alias("comp"),
                F.lit(None).cast(id_type).alias("own"),
            )
        else:
            own = labels.select(
                "id", "comp", F.col("comp").alias("own")
            )
            prop = edges.join(labels, edges.src == labels.id).select(
                F.col("dst").alias("id"),
                "comp",
                F.lit(None).cast(id_type).alias("own"),
            )
        # `own` rides through the aggregate (each id has exactly one
        # non-null own row, its previous label), so convergence is read
        # off the SAME action that materializes the round: an observed
        # metric (CollectMetrics) on the frame the eager checkpoint
        # computes — the changed-count arrives with the checkpoint job
        # and the separate filter-scan count action per round is gone
        # (one job per round instead of two; the metric aggregates
        # during execution, costing no extra pass). `comp != own` is
        # never null here: every id has an identity/own row by
        # symmetrized-edge construction, so the null-skipping sum
        # equals the old filter-count exactly; an all-null/empty frame
        # sums to None = converged, matching the old count() == 0.
        obs = Observation()
        new_labels = (
            own.union(prop)
            .groupBy("id")
            .agg(
                F.min("comp").alias("comp"),
                F.first("own", ignorenulls=True).alias("own"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("comp") != F.col("own")).cast("long")
                ).alias("n_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = obs.get["n_changed"] or 0
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
        if algorithm == "auto" and rnd + 1 >= switch_after:
            # deep graph: contract label classes and finish with the
            # diameter-independent star algorithm on the smaller graph
            lab_src = labels.withColumnRenamed("id", "src")
            lab_dst = labels.select(
                F.col("id").alias("dst"), F.col("comp").alias("comp_dst")
            )
            contracted = (
                edges.join(lab_src, "src")
                .join(lab_dst, "dst")
                .select(F.col("comp").alias("a_id"), F.col("comp_dst").alias("b_id"))
                .filter(F.col("a_id") != F.col("b_id"))
                .distinct()
            )
            resolved = _components_star(contracted, max_iter)
            return (
                labels.join(
                    resolved.withColumnRenamed("id", "comp"), "comp", "left"
                )
                .select(
                    "id",
                    F.coalesce("component", "comp").alias("component"),
                )
            )
    return labels.select("id", F.col("comp").alias("component"))


def _components_star(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Invariant (per the paper): the edge set always connects the same
    components; large-star hangs every node's larger neighbors onto the
    neighborhood minimum, small-star re-hangs the smaller ones — the
    composition squares the rate at which trees flatten, so the
    fixpoint (a star per component, every node → component min) arrives
    in O(log n) rounds regardless of diameter.
    """
    edges = (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _swap(e):
        return e.select(F.col("v").alias("u"), F.col("u").alias("v"))

    def large_star(e):
        sym = e.union(_swap(e))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e):
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        joined = oriented.join(mins, "u")
        rewired = joined.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edge = joined.select(F.col("u"), F.col("m").alias("v")).distinct()
        return (
            rewired.union(self_edge)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def signature(e) -> tuple:
        # one action: (|E|, order-independent content hash) — a
        # deterministic fixpoint detector without a set-difference join
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    sig = signature(edges)
    for _ in range(max_iter):
        # the fixpoint signature rides the checkpoint action as an
        # observed metric (the dedup_components convergence pattern):
        # one job per round materializes the new edge set AND delivers
        # (|E|, content hash) — the separate signature action is gone
        obs = Observation()
        edges = (
            small_star(large_star(edges))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        vals = obs.get
        new_sig = (vals["n"], vals["h"])
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint: every edge is (node, component-min); roots label themselves
    roots = edges.select(F.col("v").alias("id"), F.col("v").alias("component"))
    nodes = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return nodes.union(roots).distinct()


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Pairs (a_id, b_id, containment) with shingle-set containment
    ``|A ∩ B| / min(|A|, |B|)`` ≥ threshold.

    Containment is the asymmetric near-dup measure Jaccard misses: a
    short document wholly quoted inside a long one scores low Jaccard
    (the union is big) but containment 1.0 — the boilerplate /
    quotation / version-prefix case in corpus dedup.

    Candidate generation is the inverted-index equi-join over distinct
    shingles (a pair must share ≥1 shingle to have containment > 0);
    verification is exact integer math from the shared-count. Prefix
    filtering does NOT soundly apply to containment (the pruning bound
    depends on the SMALLER set, unknown at index time), so at scale the
    join-key distribution is bounded with ``max_df``: shingles seen in
    more than ``max_df`` docs are dropped from the index (a documented
    recall trade on stopword runs — pairs sharing ONLY ultra-common
    shingles are below any useful threshold anyway). Only 8-byte ids
    and shingle strings shuffle; document text never does.
    """
    sets = shingle_sets(df, id_col, text_col, k).localCheckpoint(eager=True)
    sizes = sets.select("id", F.size("shingles").alias("n_sh"))
    inv = sets.select("id", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        hot = (
            inv.groupBy("shingle")
            .count()
            .filter(F.col("count") > max_df)
            .select("shingle")
        )
        inv = inv.join(hot, "shingle", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("a_id"), F.col("n_sh").alias("a_n"))
    sb = sizes.select(F.col("id").alias("b_id"), F.col("n_sh").alias("b_n"))
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "containment", F.col("shared") / F.least("a_n", "b_n")
        )
        .filter(F.col("containment") >= threshold)
        .select("a_id", "b_id", "containment")
    )


# ---------------------------------------------------------------------------
# paragraph-level dedup (span dedup with document reassembly)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
) -> DataFrame:
    """Span-level exact dedup with document reassembly (the CCNet/Dolma
    paragraph-dedup shape: drop repeated paragraphs corpus-wide, keep
    each document's surviving paragraphs in original order).

    The testdata corpus has no newlines, so a "paragraph" here is a
    fixed ``span_words``-word span; on real corpora pass the
    newline-split instead — the plan is identical.

    Returns one row per input document:
    ``(doc_id, n_spans, n_kept, text_deduped)`` where ``text_deduped``
    rejoins the surviving spans with a single space (empty string when
    every span of the document appeared earlier in the corpus).

    Scale design: the global first-occurrence winner per span digest is
    ``min(struct(id, pos))`` grouped ON THE DIGEST ONLY — document text
    never rides the skew-prone digest shuffle (a boilerplate span
    repeated a billion times carries only (id, pos) pairs, and the
    min-struct aggregate is map-side combinable, so the hot digest
    arrives pre-reduced). Winners re-join the span table on
    ``(id, pos)`` — a uniform key — to pick up the text, and reassembly
    is one groupBy on the id. Three shuffles total, none carrying text
    on a skewed key.
    """
    docs = _widen(df.select(id_col, text_col))
    spans = docs.selectExpr(
        f"`{id_col}` AS id",
        f"split(`{text_col}`, ' ') AS words",
    ).selectExpr(
        "id",
        f"posexplode(transform(sequence(0, CAST(ceil(size(words) / {span_words}.0) AS INT) - 1),"
        f" i -> concat_ws(' ', slice(words, i * {span_words} + 1, {span_words}))))"
        " AS (pos, para)",
    )
    spans = spans.localCheckpoint(eager=True)
    winners = (
        spans.select(F.md5("para").alias("h"), F.struct("id", "pos").alias("at"))
        .groupBy("h")
        .agg(F.min("at").alias("at"))
        .select(F.col("at.id").alias("id"), F.col("at.pos").alias("pos"))
    )
    kept = spans.join(winners, ["id", "pos"])
    totals = spans.groupBy("id").agg(F.count("*").alias("n_spans"))
    rebuilt = kept.groupBy("id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda x: x["para"],
            ),
            " ",
        ).alias("text_deduped"),
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        )
    )


# ---------------------------------------------------------------------------
# persisted MinHash band index — the production incremental-dedup loop
# ---------------------------------------------------------------------------


def _banded_signatures(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    sets: DataFrame | None = None,
) -> DataFrame:
    """(id, band, sig) rows — the LSH bucket addresses of every doc.

    THE single banding implementation: build/extend/probe and the
    in-memory incremental path all route through here, so stored rows
    and probe signatures can never drift apart. Pass ``sets`` (a
    persisted ``shingle_sets`` output) when the caller also needs the
    shingle arrays for a verification tail."""
    rows = num_hashes // bands
    sh = (
        sets
        if sets is not None
        else shingle_sets(df, id_col, text_col, k).localCheckpoint(eager=True)
    )
    return (
        minhash_from_sets(sh, num_hashes)
        .select(
            "id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), b -> "
                    f"struct(b AS band, xxhash64(concat_ws(',', "
                    f"slice(minhash, b * {rows} + 1, {rows}))) AS sig))"
                )
            ).alias("bs"),
        )
        .select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    )


def _write_bands(
    docs: DataFrame, path: str, id_col: str, text_col: str, mode: str,
    k: int, num_hashes: int, bands: int,
) -> None:
    """Write ``docs``' band rows under ``path``: the one write path of
    the band index (build: ``overwrite``; extend: ``append``)."""
    (
        _banded_signatures(docs, id_col, text_col, k, num_hashes, bands)
        .repartition("band")
        .sortWithinPartitions("band", "sig")
        .write.mode(mode)
        .partitionBy("band")
        .parquet(path)
    )


def build_dedup_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """Materialize the corpus's MinHash band index at ``path``: (id,
    band, sig) rows partitioned by ``band``, plus the hash-family
    parameters as a 1-row parquet under ``path/_meta`` so probes use
    the identical family. Build, extend and ``_meta`` follow the
    persisted-index lifecycle (``sources/io.py``); the band index has
    no epochs, since a doc's band rows never change.

    The production incremental-dedup loop this enables: the corpus is
    shingled and hashed ONCE; each incoming crawl drop probes the
    stored buckets (``probe_dedup_index``) and accepted docs append
    their band rows (``extend_dedup_index``) — no corpus re-hash, no
    corpus x corpus join, ever. The index stores 16 x 16-byte rows per
    document regardless of document size; at 100 TB of text that is a
    ~tens-of-GB index, and (band, sig) is its natural sort/bucket key.
    """
    _write_bands(corpus, path, id_col, text_col, "overwrite", k, num_hashes, bands)
    corpus.sparkSession.createDataFrame(
        [(k, num_hashes, bands)], "k int, num_hashes int, bands int"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_meta")


def extend_dedup_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append accepted documents' band rows to the index — the write
    half of the ingest loop. Uses the stored hash-family parameters."""
    meta = new_docs.sparkSession.read.parquet(path + "/_meta").head()
    _write_bands(new_docs, path, id_col, text_col, "append", **meta.asDict())


def probe_dedup_index(
    batch: DataFrame,
    path: str,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup an incoming batch against the PERSISTED index: only the
    batch is shingled/hashed; candidates come from a batch-bands x
    stored-bands equi-join on (band, sig); the exact-Jaccard verify
    tail joins text back from the corpus store for candidate ids only.
    Returns (batch_id, corpus_id, jaccard) — identical semantics to
    ``minhash_lsh_pairs_incremental``, minus the corpus re-hash."""
    spark = batch.sparkSession
    meta = spark.read.parquet(path + "/_meta").head()
    b_sh = shingle_sets(batch, id_col, text_col, meta.k).localCheckpoint(eager=True)
    # the ONE banding implementation — must be byte-identical to what
    # build/extend wrote, which sharing _banded_signatures guarantees
    b_banded = _banded_signatures(
        None, id_col, text_col, meta.k, meta.num_hashes, meta.bands, sets=b_sh
    ).withColumnRenamed("id", "batch_id")
    stored = spark.read.parquet(path).select(
        F.col("id").alias("corpus_id"), "band", "sig"
    )
    # no self-id filter on purpose: a batch doc whose id is ALREADY in
    # the index (a replayed micro-batch, or a recycled id space) must
    # surface as a match — identical semantics to
    # minhash_lsh_pairs_incremental, and what makes the streaming
    # ingest loop replay-safe
    cand = (
        b_banded.join(stored, on=["band", "sig"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    cand_corpus = cand.select(F.col("corpus_id").alias(id_col)).distinct()
    c_sh = shingle_sets(
        corpus.join(cand_corpus, id_col, "left_semi"), id_col, text_col, meta.k
    )
    b_arr = b_sh.select(F.col("id").alias("batch_id"), F.col("shingles").alias("b_s"))
    c_arr = c_sh.select(F.col("id").alias("corpus_id"), F.col("shingles").alias("c_s"))
    return (
        cand.join(b_arr, "batch_id")
        .join(c_arr, "corpus_id")
        .withColumn("shared", F.size(F.array_intersect("b_s", "c_s")))
        .withColumn(
            "jaccard",
            F.col("shared") / (F.size("b_s") + F.size("c_s") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )


def compact_dedup_index(spark, path: str) -> None:
    """Small-file maintenance for the band index: every ``extend``
    appends a few files per band, and a drop-every-hour pipeline
    accretes thousands — probe cost then becomes file-open latency, not
    I/O. Rewrite each band partition into sorted files through
    ``staged_partition_overwrite``, the commit protocol of
    ``storage.py compact()``, so concurrent probes always see a
    complete index. Band count is fixed, so driver work is bounded;
    run it on the compaction cadence, like the store."""
    idx = spark.read.parquet(path)
    staged_partition_overwrite(idx, path, "band", ["band", "sig"])


def corpus_snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-processing decision table between two corpus
    snapshots: (doc_id, old_digest, new_digest, status) with status ∈
    added | removed | changed | unchanged. ``added``/``changed`` rows
    are what the pipeline re-tokenizes, re-embeds, and re-indexes
    (``extend_*``); ``removed`` rows are what compaction retires — at
    100 TB this diff is WHY the persisted indexes have extend/compact
    paths instead of rebuild-every-snapshot.

    One full-outer equi-join on the id over md5 digests: only
    (id, 32-byte digest) pairs ride the shuffle, never document text —
    the same digest discipline as ``exact_dedup``. NULL text digests
    as the empty string (a NULL-text doc is a real, diffable row).
    """
    o = old.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("old_digest"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("new_digest"),
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        "old_digest",
        "new_digest",
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
) -> DataFrame:
    """Exact duplicated-substring removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr pass): every token run of length >= ``min_len`` that
    occurs more than once in the corpus is removed from ALL BUT its
    first occurrence. Returns (doc_id, clean_text, n_removed) for
    every input document (a fully-duplicated document comes back with
    empty text).

    Window-hash formulation, equivalent to the suffix-array variant
    at the same threshold: hash every ``min_len``-token window; a
    duplicated run of m >= min_len tokens contributes exactly its
    m - min_len + 1 duplicated windows, whose spans UNION back to the
    whole run — so removing every non-first occurrence of every
    duplicated window removes exactly the duplicated runs. First
    occurrence is global (doc_id, pos) order, deterministic.

    Spark-first scale shape (vs the single-node suffix array, which
    needs the corpus in one address space):

    - windows are a narrow map over each doc's token array (one md5
      per position — no shuffle), shared by two consumers through a
      lazily-persisted, LRU-evictable cache (one row per corpus token
      position while live — the storage bill of not running the
      tokenize+md5 pass twice; see the slot comment below);
    - the ONLY content-keyed shuffle is the window-hash aggregate,
      and it partial-aggregates map-side with constant per-key state
      (count + min(doc, pos)) — a boilerplate window repeated across
      millions of docs arrives at its reducer as one row per map
      partition, not one per occurrence;
    - the removed window starts are grouped per document (one list
      per doc that lost anything; its size follows the duplicated
      mass, not corpus mass) and left-joined back to the documents
      on doc_id — the uniform key;
    - the rebuild is per document, inside the row: the kept indices
      are ``array_except`` of all indices and the removed spans
      (hash-based, linear in document length), mapped back to words.
      No step explodes, joins or shuffles at token level, so a corpus
      with nothing duplicated pays only the window pass and the
      window-hash aggregate.

    Caching contract: the token/window intermediates are cached per
    (corpus, min_len) in a single slot keyed by plan identity + the
    resolved file snapshot (``_slots.slot_persist``). Rewrites that
    land new part files roll the cache automatically; an in-place
    byte-rewrite preserving every filename/size/mtime does not —
    write snapshots to new directories, or call
    ``slot_release("dedup.substring_dedup")`` after such a rewrite.
    """
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    L = int(min_len)
    # `d` feeds two consumers (windows and the per-document rebuild)
    # and `win` two (the hash stats and the removal probe) — shared
    # lineage is not shared execution, so without these the dominant
    # tokenize+md5 pass runs twice and the corpus is re-read three
    # times per action. Both go through the single-slot persist
    # (lazy — plan-only consumers never execute the corpus-sized
    # window materialization an eager checkpoint used to force at
    # frame-construction time; LRU-evictable, unlike checkpoint
    # blocks; and the slot unpersists the previous corpus's
    # generation, so repeated calls can't accumulate CacheManager
    # entries).
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("words"),
    )
    # (doc_id, pos, h): md5 of each L-token window, pos 1-based; docs
    # shorter than L contribute no windows (and are never removed from)
    win = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(words) >= {L} THEN "
                f"transform(sequence(1, size(words) - {L} + 1), "
                f"i -> md5(concat_ws(' ', slice(words, i, {L})))) "
                "ELSE array() END"
            )
        ).alias("p0", "h"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    # keyed on `win` (its plan carries both the corpus AND min_len —
    # keying on `d` alone would wrongly reuse windows across min_len)
    d, win = slot_persist("dedup.substring_dedup", win, (d, win))
    stats = win.groupBy("h").agg(
        F.count("*").alias("n"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    remove = (
        win.join(stats.filter(F.col("n") > 1), "h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    # one list of removed window starts per document: its size follows
    # the duplicated mass, not the corpus, and the only shuffle it adds
    # is keyed by doc_id over the removed windows alone
    starts = remove.groupBy("doc_id").agg(
        F.collect_list("pos").alias("starts")
    )
    # rebuild inside the row: drop every index a removed window covers.
    # array_except is hash-based, so this is linear in document length
    # (a per-token exists(starts, ...) probe would be quadratic); docs
    # with nothing removed keep their token array as is
    kept = F.expr(
        "CASE WHEN starts IS NULL THEN words ELSE transform("
        "array_except(sequence(1, size(words)), "
        f"flatten(transform(starts, p -> sequence(p, p + {L - 1})))), "
        "i -> element_at(words, i)) END"
    )
    return (
        d.join(starts, "doc_id", "left")
        .select("doc_id", "words", kept.alias("kept"))
        .select(
            "doc_id",
            # a NULL-text doc has NULL words and NULL kept: concat_ws
            # gives '' and the coalesced sizes give n_removed 0, so
            # every input document comes back and n_removed is never
            # NULL
            F.concat_ws(" ", "kept").alias("clean_text"),
            (
                F.coalesce(F.size("words"), F.lit(0))
                - F.coalesce(F.size("kept"), F.lit(0))
            ).cast("bigint").alias("n_removed"),
        )
    )
