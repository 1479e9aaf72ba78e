"""Validation for the operators the DuckDB gate can only rows-check:
hash-family dedup (MinHash-LSH, SimHash), approximate ANN recall,
HyperLogLog error bounds, and the multimodal mapInPandas plumbing.

Each asserts the property the algorithm is supposed to have, against an
exact reference computed on the same data.
"""

import pytest

from pyspark.sql import functions as F

from cassandrastack_spark.llm.dedup import (
    dedup_components,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from cassandrastack_spark.llm.multimodal import extract_features
from cassandrastack_spark.llm.simsearch import (
    _lsh_params,
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_pairs_above,
    cosine_topk,
    ivf_assign,
    ivf_train_centroids,
)
from cassandrastack_spark.plans.guardrails import plan_lints
from cassandrastack_spark import schemas

SF = "/root/testdata/sf0.001"


def _frame_reads(df, frame) -> int:
    """How many times ``df``'s optimized plan reads ``frame``, a
    ``createDataFrame`` frame (one RDD-backed leaf)."""

    def rdd_ids(d):
        leaves = d._jdf.queryExecution().optimizedPlan().collectLeaves()
        return [
            leaves.apply(i).rdd().id()
            for i in range(leaves.size())
            if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
        ]

    (leaf,) = rdd_ids(frame)
    return rdd_ids(df).count(leaf)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_minhash_lsh_finds_high_jaccard_pairs(docs):
    """MinHash-LSH (16x4 bands, S-curve midpoint ~0.5) must find every
    pair with true Jaccard >= 0.7 (P[miss] = (1-s^4)^16 < 0.02% there)
    and report the EXACT jaccard for each pair it emits (the verify tail
    recomputes it)."""
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    lsh = {
        (r.a_id, r.b_id): r.jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.2).collect()
    }
    must_find = {p for p, j in exact.items() if j >= 0.7}
    assert must_find, "fixture should contain near-duplicate pairs"
    missed = must_find - set(lsh)
    assert not missed, f"LSH missed high-similarity pairs: {missed}"
    for p, j in lsh.items():
        assert p in exact, f"LSH emitted pair {p} not in exact set"
        assert abs(exact[p] - j) < 1e-12, "verification must be exact jaccard"


def test_simhash_pairs_have_low_hamming_and_similar_text(docs):
    rows = simhash_pairs(docs).collect()
    assert rows, "fixture should contain simhash near-dups"
    assert all(r.hamming <= 3 for r in rows)
    # simhash-close pairs must overwhelmingly be truly similar documents:
    # every emitted pair here should also clear a loose exact-jaccard bar.
    exact = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(docs, threshold=0.15).collect()
    }
    hits = sum(1 for r in rows if (r.a_id, r.b_id) in exact)
    assert hits / len(rows) >= 0.8, "simhash precision collapsed"


def test_ann_lsh_recall_against_exact(emb):
    """Bucketed ANN trades recall for a ~2^planes candidate reduction;
    on the fixture its top-5 must overlap exact top-5 by >= 40% for the
    queries it can answer (same-bucket neighbors exist)."""
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, q, k=5).collect()
    approx = ann_lsh_topk(emb, q, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    got_sets = {}
    for r in approx:
        got_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[qid] & got) / len(exact_sets[qid])
        for qid, got in got_sets.items()
    ]
    assert recalls, "ANN returned nothing"
    assert sum(recalls) / len(recalls) >= 0.4, (
        f"mean recall {sum(recalls)/len(recalls):.2f} too low"
    )


def test_cosine_pairs_triangle_block_matches_quadratic(emb):
    """The distributed triangle-block plan must (a) produce exactly the
    all-pairs result the naive quadratic join would, for several block
    counts (partition-boundary coverage), and (b) never plan a
    BroadcastNestedLoopJoin — the scale guardrail the block design
    exists for."""
    v = emb.select("vec_id", "embedding")
    a = v.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = v.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    dot = (
        "aggregate(zip_with(transform(ea, x -> cast(x as double)), "
        "transform(eb, x -> cast(x as double)), (x, y) -> x * y), "
        "0D, (acc, v) -> acc + v)"
    )
    norm = lambda c: f"sqrt(aggregate(zip_with(transform({c}, x -> cast(x as double)), transform({c}, x -> cast(x as double)), (x, y) -> x * y), 0D, (acc, v) -> acc + v))"
    naive = sorted(
        (r.a_id, r.b_id)
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(F.expr(f"{dot} / ({norm('ea')} * {norm('eb')}) >= 0.42"))
        .collect()
    )
    assert naive, "fixture should contain qualifying pairs"
    for blocks in (1, 3, 8):
        out = cosine_pairs_above(emb, threshold=0.42, blocks=blocks)
        got = sorted((r.a_id, r.b_id) for r in out.collect())
        assert got == naive, f"blocks={blocks} diverged from quadratic"
    lints = plan_lints(cosine_pairs_above(emb, threshold=0.42), execute=True)
    assert not lints["has_bnl_join"], "triangle-block path planned a BNLJ"


def test_dedup_components_transitive_closure(spark):
    """Chained pairs must collapse into one component labeled by the
    smallest member; disjoint pairs stay separate. Covers a chain long
    enough to need several propagation rounds."""
    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5 (needs ~4 rounds), island 10-11, singleton pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (21, 20)],
        "a_id int, b_id int",
    )
    got = {r.id: r.component for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_ivf_recall_and_determinism(emb):
    """IVF probe must beat the probed-fraction recall floor and be
    fully reproducible (deterministic seeding + Lloyd iterations)."""
    q = emb.filter(F.col("vec_id") < 10)
    exact, approx = {}, {}
    for r in cosine_topk(emb, q, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ann_ivf_topk(emb, q, k=5).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact[qid] & approx.get(qid, set())) / len(exact[qid])
        for qid in exact
    ]
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.4, f"IVF mean recall {mean:.2f} under floor"
    # determinism: centroids from two independent trainings are identical
    v = emb.select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> cast(x AS double))").alias("vec"),
    )
    c1 = ivf_train_centroids(v, k_centroids=8, iters=2)
    c2 = ivf_train_centroids(v, k_centroids=8, iters=2)
    assert c1 == c2, "IVF training must be deterministic"
    # every corpus row lands in exactly one list, all lists in range
    cids = ivf_assign(v, c1).select("cid").distinct().collect()
    assert all(0 <= r.cid < 8 for r in cids)


def test_lsh_params_derivation():
    """Derived (P, L) must meet the recall target analytically and
    refuse thresholds where LSH cannot prune."""
    import math

    for t in (0.95, 0.9, 0.8, 0.7):
        P, L = _lsh_params(t, 0.999)
        p1 = 1.0 - math.acos(t) / math.pi
        assert (1.0 - p1**P) ** L <= 1.0 - 0.999 + 1e-12
        assert L <= 64
        # candidate volume must beat the exact plan by >= 2x
        assert L * 0.5**P <= 0.5
    # weak thresholds (the random-pair regime) must refuse, not emit a
    # worse-than-quadratic plan
    for t in (0.1, 0.42):
        with pytest.raises(ValueError):
            _lsh_params(t, 0.999)


def test_approx_count_distinct_error_bound(spark):
    e = spark.read.parquet(f"{SF}/events.parquet")
    both = (
        e.agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        ).head()
    )
    rel_err = abs(both.approx - both.exact) / both.exact
    assert rel_err <= 0.05, f"HLL(rsd=0.01) off by {rel_err:.2%}"


def test_multimodal_feature_extraction_plumbing(spark):
    media = spark.createDataFrame(
        [
            (1, "image", b"\x89PNG fake bytes", "image/png", 64, 64, None),
            (2, "audio", b"RIFF fake wav" * 200, "audio/wav", None, None, 3000),
            (3, "video", b"\x00\x00ftyp fake mp4" * 500, "video/mp4", 640, 480, 10000),
            (4, "image", None, "image/png", 0, 0, None),
        ],
        schemas.MEDIA,
    )
    out = extract_features(media).collect()
    by_id = {r.media_id: r for r in out}
    assert len(out) == 4
    assert by_id[1].feat_dim == 512 and by_id[1].frames_sampled == 1
    assert by_id[2].feat_dim == 128 and by_id[2].frames_sampled >= 1
    assert by_id[3].feat_dim == 768 and by_id[3].frames_sampled > 1
    assert by_id[4].n_bytes == 0 and by_id[4].sha256 == ""
    assert by_id[1].n_bytes == len(b"\x89PNG fake bytes")
    # determinism: same payload -> same fake features (the stub contract)
    again = {r.media_id: r for r in extract_features(media).collect()}
    assert all(again[i].feat_mean == by_id[i].feat_mean for i in by_id)


def test_multimodal_resize_and_frame_sample(spark):
    """resize_images: images get the w*h*3 fake bitmap, non-images pass
    through. sample_frames: flatMap shape — one row per derived frame,
    deterministic per-frame payloads, non-videos dropped."""
    import hashlib

    from cassandrastack_spark.llm.multimodal import resize_images, sample_frames

    vid = b"\x00\x00ftyp fake mp4" * 300  # ~4.2 KiB -> 4 frames
    media = spark.createDataFrame(
        [
            (1, "image", b"\x89PNG fake bytes", "image/png", 64, 64, None),
            (2, "video", vid, "video/mp4", 640, 480, 10000),
            (3, "audio", b"RIFF", "audio/wav", None, None, 100),
        ],
        schemas.MEDIA,
    )
    resized = {r.media_id: r for r in resize_images(media, 16, 16).collect()}
    assert len(resized[1].payload) == 16 * 16 * 3
    assert resized[1].width == 16 and resized[1].height == 16
    assert bytes(resized[1].payload[:32]) == hashlib.sha256(
        b"\x89PNG fake bytes"
    ).digest()
    assert bytes(resized[2].payload) == vid, "non-image must pass through"

    frames = sample_frames(media, every_ms=500).collect()
    assert {r.media_id for r in frames} == {2}, "only videos produce frames"
    assert len(frames) == len(vid) // 1024
    f0 = min(frames, key=lambda r: r.frame_idx)
    assert f0.ts_ms == 0
    assert bytes(f0.payload) == hashlib.sha256(vid + b"0").digest()


def test_bpe_pretokenizer_and_hash_split(spark):
    """bpe_tokens follows the GPT-2 pretokenizer shape (contractions
    split, leading-space attachment, symbol runs); corpus_split_hash is
    deterministic and ~80/10/10."""
    from pyspark.sql import functions as F

    from cassandrastack_spark.functions.text import bpe_token_count, bpe_tokens

    df = spark.createDataFrame(
        [("it's rain-proof, 42mm!",)], "text string"
    ).select(
        bpe_tokens("text").alias("toks"),
        bpe_token_count("text").alias("n"),
    )
    row = df.head()
    assert row.toks == [
        "it", "'s", " rain", "-", "proof", ",", " 42", "mm", "!",
    ]
    assert row.n == 9

    # hash split: same doc_id -> same split on every invocation, and the
    # split is a pure function of doc_id (no RNG, no partition order)
    from cassandrastack_spark.queries import load_all

    q = load_all()["corpus_split_hash"].fn
    a = {r.doc_id: r.split for r in q(spark, "/root/testdata/sf0.001").collect()}
    b = {r.doc_id: r.split for r in q(spark, "/root/testdata/sf0.001").collect()}
    assert a == b
    frac_train = sum(1 for s in a.values() if s == "train") / len(a)
    assert 0.6 < frac_train < 0.95


def test_cosine_topk_rejects_large_query_side(emb):
    """The exact-cosine baseline is allowlisted as a BroadcastNestedLoop
    only while the query side stays tiny; a large query set must fail
    loud instead of silently planning a corpus x queries cartesian."""
    queries = emb.limit(10)
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk(emb, queries, k=3, max_query_rows=5)
    # within the cap the baseline still runs
    got = cosine_topk(emb, queries.limit(2), k=3, max_query_rows=5)
    assert got.count() == 6


def test_ivf_assign_udf_path_matches_literal(emb):
    """ivf_assign has two physical strategies (inlined-literal expression
    for small K, Arrow GEMM pandas_udf for large K); both must assign the
    same list ids with the same first-max tie-break."""
    from cassandrastack_spark.llm.simsearch import with_norm

    vecs = with_norm(emb.limit(200).select("vec_id", "embedding"), "embedding")
    corpus = vecs.select("vec_id", F.col("vec"))
    centroids = ivf_train_centroids(
        corpus.select(F.col("vec_id").alias("id"), "vec"), k_centroids=8, iters=3
    )
    lit = ivf_assign(corpus, centroids, "vec", literal_max_k=64)
    udf = ivf_assign(corpus, centroids, "vec", literal_max_k=1)  # force GEMM path
    a = {r.vec_id: r.cid for r in lit.collect()}
    b = {r.vec_id: r.cid for r in udf.collect()}
    assert a == b


def test_int8_quantization_error_bound_and_topk_guard(emb):
    """Symmetric int8 quantization: every reconstructed component is
    within scale/2 of the original, qvec stays in [-127, 127], and the
    quantized top-k enforces the same query-side cap as the exact
    baseline."""
    from cassandrastack_spark.llm.simsearch import ann_quantized_topk, quantize_int8

    qd = quantize_int8(emb.limit(100).select("vec_id", "embedding"))
    bad = qd.filter(
        F.expr("exists(qvec, q -> abs(q) > 127)")
        | F.expr("exists(zip_with(vec, qvec, (x, q) -> abs(x - q * scale)), "
                 "e -> e > scale / 2 + 1e-12)")
    ).count()
    assert bad == 0
    with pytest.raises(ValueError, match="max_query_rows"):
        ann_quantized_topk(emb, emb.limit(10), k=3, max_query_rows=5)


def test_components_star_matches_label_propagation(spark):
    """Large-star/small-star must produce exactly the same components
    as min-label propagation, including on the pathological case it
    exists for: a long chain (diameter >> log n)."""
    import pyspark.sql.functions as SF

    chain = [(i, i + 1) for i in range(60)]           # one 61-node path
    stars = [(100 + 10 * k, 100 + 10 * k + j) for k in range(3) for j in (1, 2, 3)]
    pairs = spark.createDataFrame(chain + stars, "a_id long, b_id long")
    star = {(r.id, r.component) for r in dedup_components(pairs, algorithm="star").collect()}
    label = {(r.id, r.component)
             for r in dedup_components(pairs, max_iter=100, algorithm="label").collect()}
    assert star == label
    # chain collapses to min 0; each star to its hub
    comps = dict(star)
    assert all(comps[i] == 0 for i in range(61))
    assert comps[123] == 120 and comps[101] == 100


def test_components_auto_escalates_on_deep_chain(spark):
    """auto mode: shallow graphs converge in label-prop rounds; a deep
    chain triggers contraction + star and still yields exact minima."""
    chain = [(i, i + 1) for i in range(120)]
    pairs = spark.createDataFrame(chain, "a_id long, b_id long")
    comps = {r.id: r.component
             for r in dedup_components(pairs, algorithm="auto", switch_after=3).collect()}
    assert len(comps) == 121 and set(comps.values()) == {0}


def test_containment_catches_quoted_subdocument(spark):
    """A short doc fully quoted inside a long one: containment ~1.0
    while Jaccard stays below a useful threshold — the asymmetric case
    this measure exists for. max_df capping drops stopword shingles
    without losing the pair."""
    from cassandrastack_spark.llm.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long_ = ("intro words here " + short + " and then a very long tail "
             + " ".join(f"w{i}" for i in range(60)))
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "unrelated content entirely different")],
        "doc_id long, text string",
    )
    got = {(r.a_id, r.b_id): r.containment
           for r in ngram_containment_pairs(docs, threshold=0.9).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 0.9 and (1, 3) not in got
    # same result with a df cap high enough to keep discriminative shingles
    capped = {(r.a_id, r.b_id)
              for r in ngram_containment_pairs(docs, threshold=0.9, max_df=10).collect()}
    assert (1, 2) in capped


def test_paragraph_dedup_reassembles_surviving_spans(spark):
    from cassandrastack_spark.llm.dedup import paragraph_dedup

    rows = [
        # doc 1: spans A B
        (1, "a b c", None),
        # doc 2: first span identical to doc 1's (span_words=3), second unique
        (2, "a b c x y z", None),
        # doc 3: fully duplicate of doc 1 -> loses everything
        (3, "a b c", None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, span_words=3).collect()
    }
    assert out[1]["n_spans"] == 1 and out[1]["n_kept"] == 1
    assert out[1]["text_deduped"] == "a b c"
    # doc 2 keeps only its unique second span
    assert out[2]["n_spans"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_deduped"] == "x y z"
    # doc 3 lost its only span to doc 1
    assert out[3]["n_spans"] == 1 and out[3]["n_kept"] == 0
    assert out[3]["text_deduped"] == ""


def test_pq_recall_shortlist_and_guard(spark, docs, emb):
    """Product quantization: the ADC shortlist + exact re-rank must
    reach mean recall@5 >= 0.4 vs exact on the near-random fixture (PQ's
    worst case), be deterministic across runs, read the query side
    once (the query vector rides the shortlist into the re-rank), and
    reject an unbounded query side like the other broadcast-shaped
    scorers."""
    from cassandrastack_spark.llm.simsearch import ann_pq_topk

    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, q, k=5).collect()
    }
    got1 = {(r.query_id, r.neighbor_id) for r in ann_pq_topk(emb, q, k=5).collect()}
    got2 = {(r.query_id, r.neighbor_id) for r in ann_pq_topk(emb, q, k=5).collect()}
    assert got1 == got2, "PQ pipeline must be deterministic"
    assert len(got1 & exact) / len(exact) >= 0.4
    q_local = spark.createDataFrame(q.collect(), q.schema)
    assert _frame_reads(ann_pq_topk(emb, q_local, k=5), q_local) == 1
    with pytest.raises(ValueError, match="max_query_rows"):
        ann_pq_topk(emb, emb.limit(10), k=3, max_query_rows=5)


def test_pq_encode_codes_shape(emb):
    """pq_encode emits m_sub codes per vector, each in [0, k_codes)."""
    from cassandrastack_spark.llm.simsearch import (
        pq_encode,
        pq_train_codebooks,
        with_norm,
    )

    c = with_norm(emb.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("id"),
        F.expr(
            "transform(vec, x -> CASE WHEN norm > 0 THEN x / norm ELSE x END)"
        ).alias("vec"),
    )
    books = pq_train_codebooks(c, m_sub=8, k_codes=16, sample=256)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    # materialize BEFORE the validity predicates: `codes` is a literal
    # argmin expression tree on the small-codebook path, and a filter
    # referencing it re-inlines that tree per predicate branch — the
    # optimizer then spends MINUTES on a plan whose execution takes
    # 0.5s (measured: 310s unmaterialized vs <1s checkpointed). The
    # product paths never hit this (they aggregate/join on codes, not
    # lambda-predicate them); see the pq_encode docstring note.
    enc = pq_encode(c, books, "vec").localCheckpoint(eager=True)
    bad = enc.filter(
        (F.size("codes") != 8)
        | F.exists("codes", lambda x: (x < 0) | (x >= 16))
    ).count()
    assert bad == 0


def test_pq_encode_composes_into_predicates_fast(emb):
    """The r7 footgun, now guarded at the source: composing DEFAULT
    (compose_safe=True) pq_encode output into a lambda predicate
    WITHOUT materializing first must plan in seconds — the lazy
    localCheckpoint barrier hands downstream plans an opaque `codes`
    attribute instead of the literal argmin tree (unguarded, the same
    filter re-inlined the 1024-double tree per predicate branch and
    planning alone took 310 s). Codes must equal the barrier-free
    engine path bit-for-bit."""
    import time

    from cassandrastack_spark.llm.simsearch import (
        PQ_COMPOSE_MAX_DOUBLES,
        pq_encode,
        pq_train_codebooks,
        with_norm,
    )

    c = with_norm(emb.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("id"),
        F.expr(
            "transform(vec, x -> CASE WHEN norm > 0 THEN x / norm ELSE x END)"
        ).alias("vec"),
    )
    books = pq_train_codebooks(c, m_sub=8, k_codes=16, sample=256)
    assert 8 * 16 * 8 > PQ_COMPOSE_MAX_DOUBLES, (
        "fixture codebook must exceed the compose gate or the test "
        "exercises nothing"
    )
    t0 = time.perf_counter()
    enc = pq_encode(c, books, "vec")  # default compose_safe=True
    bad = enc.filter(
        (F.size("codes") != 8)
        | F.exists("codes", lambda x: (x < 0) | (x >= 16))
    ).count()
    elapsed = time.perf_counter() - t0
    assert bad == 0
    assert elapsed < 10, (
        f"composed predicate over guarded pq_encode took {elapsed:.1f}s "
        "— the plan barrier regressed"
    )
    # barrier changes the PLAN only: codes match the engine-internal
    # barrier-free path exactly
    guarded = {r.id: tuple(r.codes) for r in enc.select("id", "codes").collect()}
    raw = {
        r.id: tuple(r.codes)
        for r in pq_encode(c, books, "vec", compose_safe=False)
        .localCheckpoint(eager=True)
        .select("id", "codes")
        .collect()
    }
    assert guarded == raw


def test_pq_large_codebook_takes_arrow_path(emb):
    """Production-size codebooks (k_codes=256, m_sub=16 — the sizes the
    PQ paper uses) must NOT inline literals: the encode/decode plans go
    through Arrow (constant plan size), codes stay valid, and decode is
    bit-identical across both physical paths on a small codebook."""
    from cassandrastack_spark.llm.simsearch import (
        pq_decode,
        pq_encode,
        pq_train_codebooks,
        with_norm,
    )

    c = with_norm(emb.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("id"),
        F.expr(
            "transform(vec, x -> CASE WHEN norm > 0 THEN x / norm ELSE x END)"
        ).alias("vec"),
    )
    books = pq_train_codebooks(c, m_sub=16, k_codes=256, sample=500)
    assert len(books) == 16 and all(len(b) == 256 for b in books)

    enc = pq_encode(c, books, "vec")
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, (
        "k_codes=256 x m_sub=16 must take the Arrow path:\n" + plan[:2000]
    )
    # no K-proportional literal tree: a literal 16x256x4 codebook would
    # be ~16k double literals; the Arrow plan stays small
    assert len(plan) < 20_000, f"plan bloated to {len(plan)} chars"
    bad = enc.filter(
        (F.size("codes") != 16)
        | F.exists("codes", lambda x: (x < 0) | (x >= 256))
    ).count()
    assert bad == 0

    dec = pq_decode(enc.select("id", "codes"), books, "codes", "r_vec")
    dplan = dec._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in dplan
    row = dec.orderBy("id").select("r_vec").head()
    assert len(row.r_vec) == 64

    # decode parity: on a small codebook the literal and Arrow decode
    # paths must be bit-identical (pure gather, no arithmetic)
    small = pq_train_codebooks(c, m_sub=8, k_codes=16, sample=256)
    enc_s = pq_encode(c, small, "vec").select("id", "codes")
    lit = {
        r.id: tuple(r.r_vec)
        for r in pq_decode(enc_s, small, literal_max_doubles=8192).collect()
    }
    arrow = {
        r.id: tuple(r.r_vec)
        for r in pq_decode(enc_s, small, literal_max_doubles=0).collect()
    }
    assert lit == arrow

    # compose_safe=True (non-default since r9) must stay semantics-
    # neutral: the lazy localCheckpoint fence above the compose gate
    # changes plan shape only. `small` (8x16x8 = 1024 doubles) exceeds
    # PQ_COMPOSE_MAX_DOUBLES=256, so the fence actually engages.
    from cassandrastack_spark.llm.simsearch import PQ_COMPOSE_MAX_DOUBLES

    assert 8 * 16 * 8 > PQ_COMPOSE_MAX_DOUBLES
    fenced = {
        r.id: tuple(r.r_vec)
        for r in pq_decode(
            enc_s, small, literal_max_doubles=8192, compose_safe=True
        ).collect()
    }
    assert fenced == lit


def test_incremental_minhash_matches_restricted_exact(docs):
    """Batch-vs-corpus incremental MinHash must find exactly the
    qualifying (batch, corpus) pairs of the full exact pair set — no
    corpus x corpus self-join, no lost cross pairs."""
    from cassandrastack_spark.llm.dedup import minhash_lsh_pairs_incremental

    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
        if r.jaccard >= 0.7
    }
    want = {
        (a, b) if a % 10 == 7 else (b, a)
        for (a, b) in exact
        if (a % 10 == 7) != (b % 10 == 7)
    }
    got = {
        (r.batch_id, r.corpus_id): r.jaccard
        for r in minhash_lsh_pairs_incremental(
            corpus, batch, threshold=0.7
        ).collect()
    }
    assert set(got) == want
    for (b, c), j in got.items():
        full = exact.get((b, c)) or exact.get((c, b))
        assert abs(j - full) < 1e-12, "verify tail must report exact jaccard"


def test_persisted_ivf_index_prunes_and_matches(spark, emb, tmp_path):
    """The materialized IVF layout: build once (corpus partitioned by
    list id + stored centroids), probe later — results must equal the
    in-memory ann_ivf_topk (same deterministic training), and the probe
    scan must be PARTITION-PRUNED to the probed cid directories."""
    from cassandrastack_spark.llm.simsearch import (
        ann_ivf_topk,
        build_ivf_index,
        probe_ivf_index,
    )

    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path)
    q = emb.filter(F.col("vec_id") < 10)
    got = probe_ivf_index(spark, path, q, k=5)
    want = ann_ivf_topk(emb, q, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan, plan
    # the probe reads a strict subset of the 16 list directories
    import re as _re
    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cid" in pf, plan


def test_persisted_dedup_index_loop(docs, tmp_path):
    """The materialized ingest loop: build the band index from the
    corpus, probe a batch (only the batch is hashed) — pairs must equal
    the rehash-everything incremental path; accepted docs then EXTEND
    the index and a duplicate of one of them is caught by the next
    probe."""
    from cassandrastack_spark.llm.dedup import (
        build_dedup_index,
        extend_dedup_index,
        minhash_lsh_pairs_incremental,
        probe_dedup_index,
    )

    spark = docs.sparkSession
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    path = str(tmp_path / "dedup_index")
    build_dedup_index(corpus, path)

    got = {
        (r.batch_id, r.corpus_id): r.jaccard
        for r in probe_dedup_index(batch, path, corpus, threshold=0.7).collect()
    }
    want = {
        (r.batch_id, r.corpus_id): r.jaccard
        for r in minhash_lsh_pairs_incremental(
            corpus, batch, threshold=0.7
        ).collect()
    }
    assert got == want

    # ingest loop: batch accepted -> extend index; an exact duplicate of
    # a batch doc arrives next drop and must hit it via the STORED rows
    extend_dedup_index(batch, path)
    one = batch.orderBy("doc_id").limit(1)
    dup = one.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    all_docs = docs.union(dup)
    hits = probe_dedup_index(dup, path, all_docs, threshold=0.99).collect()
    src_id = one.head().doc_id
    assert any(r.corpus_id == src_id and r.jaccard == 1.0 for r in hits), hits


def test_compact_dedup_index_preserves_probes(docs, tmp_path):
    """After N extend() appends, compacting the band index must shrink
    the file count per band and leave probe results identical."""
    from cassandrastack_spark.llm.dedup import (
        build_dedup_index,
        compact_dedup_index,
        extend_dedup_index,
        probe_dedup_index,
    )

    spark = docs.sparkSession
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    path = str(tmp_path / "idx")
    build_dedup_index(corpus.filter(F.col("doc_id") % 3 == 0), path)
    extend_dedup_index(corpus.filter(F.col("doc_id") % 3 == 1), path)
    extend_dedup_index(corpus.filter(F.col("doc_id") % 3 == 2), path)

    before = {
        (r.batch_id, r.corpus_id)
        for r in probe_dedup_index(batch, path, corpus, threshold=0.7).collect()
    }
    import glob
    n_files_before = len(glob.glob(f"{path}/band=*/*.parquet"))
    compact_dedup_index(spark, path)
    n_files_after = len(glob.glob(f"{path}/band=*/*.parquet"))
    assert n_files_after < n_files_before
    after = {
        (r.batch_id, r.corpus_id)
        for r in probe_dedup_index(batch, path, corpus, threshold=0.7).collect()
    }
    assert after == before


def test_pq_training_rejects_tiny_corpus(spark):
    """Review-fix regression: fewer sampled vectors than k_codes must
    fail with a clear message, not a numpy shape error."""
    from cassandrastack_spark.llm.simsearch import pq_train_codebooks

    tiny = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(5)], "id long, vec array<double>"
    )
    with pytest.raises(ValueError, match="k_codes"):
        pq_train_codebooks(tiny, k_codes=16, sample=256)


def test_training_sample_independent_of_partitioning(spark, emb):
    """The training matrix (whose first rows seed k-means) is the same
    whatever the corpus's partitioning, with or without the fused
    query-count leg; an oversized query side is reported before an
    empty corpus."""
    import numpy as np

    from cassandrastack_spark.llm.simsearch import _training_sample

    train = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    q = emb.filter(F.col("vec_id") < 4)
    want = _training_sample(train, sample=64)
    for frame in (train.repartition(7), train.coalesce(1)):
        assert np.array_equal(_training_sample(frame, sample=64), want)
        got = _training_sample(
            frame, sample=64, probe=q, probe_cap=4, probe_owner="t"
        )
        assert np.array_equal(got, want)
    empty = train.limit(0)
    with pytest.raises(ValueError, match="max_query_rows"):
        _training_sample(empty, probe=q, probe_cap=3, probe_owner="t")
    with pytest.raises(ValueError, match="no rows"):
        _training_sample(empty, probe=q, probe_cap=4, probe_owner="t")


def test_pq_paths_propagate_null_vectors_identically(spark):
    """Round-4 advice regression: crossing the PQ size gate must not
    change null handling — the Arrow encode/decode paths emit null for
    null input rows (no task crash), and the literal paths emit null
    (not an array OF nulls), so both physical strategies agree."""
    from cassandrastack_spark.llm.simsearch import pq_decode, pq_encode

    books = [
        [[0.0] * 4, [1.0] * 4],
        [[0.5] * 4, [2.0] * 4],
    ]  # m_sub=2, k_codes=2, d_sub=4 -> 16 doubles
    df = spark.createDataFrame(
        [(1, [0.1] * 8), (2, None), (3, [0.9] * 8)],
        "id int, vec array<double>",
    )
    lit = {
        r.id: r.codes
        for r in pq_encode(df, books, "vec", literal_max_doubles=1024).collect()
    }
    arr = {
        r.id: r.codes
        for r in pq_encode(df, books, "vec", literal_max_doubles=0).collect()
    }
    assert lit == arr, f"{lit} != {arr}"
    assert arr[2] is None and arr[1] is not None and arr[3] is not None

    codes = pq_encode(df, books, "vec", literal_max_doubles=0).select(
        "id", "codes"
    )
    dl = {
        r.id: None if r.r_vec is None else tuple(r.r_vec)
        for r in pq_decode(codes, books, literal_max_doubles=1024).collect()
    }
    da = {
        r.id: None if r.r_vec is None else tuple(r.r_vec)
        for r in pq_decode(codes, books, literal_max_doubles=0).collect()
    }
    assert dl == da
    assert da[2] is None and da[1] is not None


def test_ivf_pq_composite_recall_determinism_and_guard(spark, emb):
    """IVF+PQ composite: deterministic across runs, recall@5 within the
    compound envelope (>= 0.35 on the near-random fixture; bounded
    above by IVF's own recall at the same nprobe), candidates only from
    probed lists, the query side read once, and the same
    unbounded-query guard as the other broadcast-shaped scorers."""
    from cassandrastack_spark.llm.simsearch import (
        ann_ivf_pq_topk,
        ann_ivf_topk,
    )

    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, q, k=5).collect()
    }
    got1 = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_pq_topk(emb, q, k=5, shortlist=64).collect()
    }
    got2 = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_pq_topk(emb, q, k=5, shortlist=64).collect()
    }
    assert got1 == got2, "IVF+PQ pipeline must be deterministic"
    q_local = spark.createDataFrame(q.collect(), q.schema)
    assert _frame_reads(ann_ivf_pq_topk(emb, q_local, k=5), q_local) == 1
    recall = len(got1 & exact) / len(exact)
    assert recall >= 0.35, f"composite recall {recall}"
    # compound approximation cannot beat its IVF stage by construction
    # when the PQ shortlist is a strict subset of the probed lists --
    # sanity: with an exhaustive shortlist the composite reduces to IVF
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(emb, q, k=5).collect()
    }
    exhaustive = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_pq_topk(
            emb, q, k=5, shortlist=10**6
        ).collect()
    }
    # scoring arithmetic differs at the ulp level (unit-vector dot vs
    # dot/norms), so exact set equality would be tie-fragile; >=90%
    # overlap still catches a wrong-list probe or a broken re-rank
    overlap = len(exhaustive & ivf) / len(ivf)
    assert overlap >= 0.9, (
        f"exhaustive-shortlist composite should reduce to plain IVF "
        f"(same lists probed, exact re-rank): overlap {overlap}"
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        ann_ivf_pq_topk(emb, emb.limit(10), k=3, max_query_rows=5)


def test_persisted_ivfpq_index_prunes_and_matches(spark, emb, tmp_path):
    """The materialized IVF+PQ layout: build once (CODES partitioned by
    list id, centroids + codebooks in _meta — floats never copied into
    the index), probe later — results must equal the in-memory
    ann_ivf_pq_topk at the same parameters (same deterministic
    training), and the codes scan must be PARTITION-PRUNED to the
    probed cid directories."""
    from cassandrastack_spark.llm.simsearch import (
        ann_ivf_pq_topk,
        build_ivfpq_index,
        probe_ivfpq_index,
    )

    path = str(tmp_path / "ivfpq_index")
    build_ivfpq_index(emb, path)
    q = emb.filter(F.col("vec_id") < 10)
    got = probe_ivfpq_index(spark, path, q, emb, k=5)
    want = ann_ivf_pq_topk(emb, q, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan, plan
    # the index stores codes only (plus the write-generation stamp) —
    # no float vector column on disk
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {
        "neighbor_id", "codes", "epoch", "cid"
    }, stored.columns


def test_extend_ivfpq_index_makes_new_vectors_reachable(spark, emb, tmp_path):
    """The vector-ingest loop: extend appends new vectors' codes using
    the STORED training (no retrain), and an extended vector is
    immediately reachable — probing with an identical vector under a
    fresh query id returns the extended id as top-1 (cosine exactly
    1.0 beats every non-identical candidate)."""
    from cassandrastack_spark.llm.simsearch import (
        build_ivfpq_index,
        extend_ivfpq_index,
        probe_ivfpq_index,
    )

    base = emb.filter(F.col("vec_id") < 480)
    batch = emb.filter(F.col("vec_id") >= 480)
    n_batch = batch.count()
    assert n_batch > 0
    path = str(tmp_path / "ivfpq_grow")
    build_ivfpq_index(base, path)
    before = spark.read.parquet(path).count()
    extend_ivfpq_index(batch, path)
    after = spark.read.parquet(path).count()
    assert after == before + n_batch
    # identical vectors under offset ids: top-1 must be the extended row
    probe_q = batch.withColumn("vec_id", F.col("vec_id") + 10_000)
    got = probe_ivfpq_index(spark, path, probe_q, emb, k=1)
    hits = {r.query_id - 10_000: r.neighbor_id for r in got.collect()}
    assert len(hits) == n_batch
    assert all(q == n for q, n in hits.items()), hits


def test_ivf_assign_paths_propagate_null_vectors_identically(spark):
    """Same null-parity discipline as PQ: ivf_assign's Arrow path
    (K > literal_max_k) must emit null cid for null vectors, like the
    literal path — not crash the task."""
    from cassandrastack_spark.llm.simsearch import ivf_assign

    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    df = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, None), (3, [-0.2, 0.8])],
        "id int, vec array<double>",
    )
    lit = {r.id: r.cid for r in ivf_assign(df, cents, "vec", literal_max_k=64).collect()}
    arr = {r.id: r.cid for r in ivf_assign(df, cents, "vec", literal_max_k=0).collect()}
    assert lit == arr, f"{lit} != {arr}"
    assert arr[2] is None and arr[1] == 0 and arr[3] == 1


def test_probe_ivfpq_index_raises_on_corpus_missing_indexed_id(
    spark, emb, tmp_path
):
    """Review regression (round 6): the index stores CODES only; the
    re-rank fetches floats from the caller-supplied corpus. When a
    shortlisted indexed id has no float row there (index built from a
    superset, or floats not yet landed), the probe must fail LOUD —
    the old inner join silently shrank results below k."""
    from cassandrastack_spark.llm.simsearch import (
        build_ivfpq_index,
        probe_ivfpq_index,
    )

    path = str(tmp_path / "ivfpq_shortfall")
    build_ivfpq_index(emb, path)
    # identical vector under an offset id → vec_id 7 is guaranteed
    # shortlisted (cosine exactly 1.0); drop its float row
    probe_q = emb.filter(F.col("vec_id") == 7).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    holey = emb.filter(F.col("vec_id") != 7)
    with pytest.raises(Exception, match="absent from the supplied corpus"):
        probe_ivfpq_index(spark, path, probe_q, holey, k=1).collect()
    # the full corpus still succeeds and ranks the twin top-1
    got = probe_ivfpq_index(spark, path, probe_q, emb, k=1).collect()
    assert [r.neighbor_id for r in got] == [7]


def test_probe_election_single_evaluation(spark, emb, tmp_path):
    """Review regression (round 6): probe_ivf_index / probe_ivfpq_index
    materialize the probe election ONCE (localCheckpoint) so the
    partition-prune cid list and the broadcast join side always come
    from the same evaluation — a nondeterministic query source could
    otherwise elect different lists on the two passes and silently
    drop candidates. Exercised via a query source with a volatile
    column (rand) alongside the vector: results must be complete and
    identical across repeated probes."""
    from cassandrastack_spark.llm.simsearch import (
        build_ivf_index,
        probe_ivf_index,
    )

    path = str(tmp_path / "ivf_volatile")
    build_ivf_index(emb, path)
    q = emb.filter(F.col("vec_id") < 8).withColumn("noise", F.rand())
    runs = [
        sorted(map(tuple, probe_ivf_index(spark, path, q, k=5).collect()))
        for _ in range(2)
    ]
    assert runs[0] == runs[1]
    assert len({r[0] for r in runs[0]}) == 8, "every query keeps k hits"


def test_ann_recall_curves_monotone_vs_exact(spark):
    """Recall-curve gate (round 6): the per-config invariants elsewhere
    pin ONE operating point; this sweep pins the SHAPE — recall@10 vs
    the exact baseline must be non-decreasing along each tuning axis
    (nprobe for IVF and IVF+PQ, m_sub for PQ), so a future PQ/IVF edit
    cannot silently trade recall for speed. Non-decreasing is exact for
    IVF (more probes = superset of candidate lists); for PQ/IVF+PQ it
    is an empirical property of the deterministic trainers on the
    sf0.01 embeddings, re-measured and floored here (numbers in
    BENCH_NOTES.md "ANN recall curves")."""
    from cassandrastack_spark.llm.simsearch import (
        ann_ivf_pq_topk,
        ann_pq_topk,
    )

    emb10 = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).cache()
    queries = emb10.filter(F.col("vec_id") < 16)
    truth: dict = {}
    for r in cosine_topk(emb10, queries, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    n_truth = sum(len(t) for t in truth.values())

    def recall(df):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / n_truth

    ivf = [
        recall(ann_ivf_topk(emb10, queries, k=10, k_centroids=16, nprobe=p))
        for p in (1, 2, 4, 8)
    ]
    pq_ = [
        recall(ann_pq_topk(emb10, queries, k=10, m_sub=m))
        for m in (4, 8, 16)
    ]
    ivfpq = [
        recall(
            ann_ivf_pq_topk(
                emb10, queries, k=10, k_centroids=16, nprobe=p, m_sub=8
            )
        )
        for p in (1, 2, 4, 8)
    ]
    for name, curve in (("ivf", ivf), ("pq", pq_), ("ivfpq", ivfpq)):
        assert all(
            a <= b + 1e-9 for a, b in zip(curve, curve[1:])
        ), f"{name} recall curve not monotone: {curve}"
    # floors at the rich end of each curve (measured w/ margin: ivf
    # nprobe=8 -> .762, pq m_sub=16 -> .775, ivfpq nprobe=8 -> .475)
    assert ivf[-1] >= 0.70, ivf
    assert pq_[-1] >= 0.70, pq_
    assert ivfpq[-1] >= 0.40, ivfpq
    emb10.unpersist()


def test_bm25_rank_orders_by_relevance_and_caps_df(spark):
    """bm25_rank property check on a constructed corpus: with equal
    doc length, more query-term occurrences rank strictly higher; a
    longer doc with the same tf ranks below the shorter one (length
    normalization); docs without any query term never appear."""
    from cassandrastack_spark.llm.retrieval import bm25_rank

    rows = [
        (1, "vector vector vector pad pad pad"),
        (2, "vector vector stream pad pad pad"),
        (3, "vector pad pad pad pad pad"),
        (4, "vector pad pad pad pad pad pad pad pad pad pad pad"),
        (5, "noise noise noise noise noise noise"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_rank(docs, ["vector", "stream"], k=10).collect()
    order = [r.doc_id for r in got]
    assert 5 not in order, "no query term -> no row"
    assert order.index(2) < order.index(3), "two distinct terms beat one"
    assert order.index(3) < order.index(4), (
        "same tf, longer doc ranks lower (length normalization)"
    )
    assert [r.rnk for r in got] == list(range(1, len(got) + 1))
    with pytest.raises(ValueError, match="at least one query term"):
        bm25_rank(docs, [])


def test_tfidf_topk_similar_excludes_self_and_respects_df_cap(spark):
    """tfidf_topk_similar: the probe never matches itself, an exact
    textual twin is the top neighbor with cosine 1.0, and max_df_ratio
    drops corpus-wide terms (the 100 TB density lever) — with the cap
    at 0.9 the term shared by ALL docs stops contributing and the
    unrelated doc drops out entirely."""
    from cassandrastack_spark.llm.retrieval import tfidf_topk_similar

    rows = [
        (1, "alpha beta gamma common"),
        (2, "alpha beta gamma common"),       # exact twin of 1
        (3, "alpha beta delta common"),       # partial overlap
        (4, "zeta eta theta common"),         # only the stopword-ish term
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = tfidf_topk_similar(docs, [1], k=3).collect()
    assert all(r.neighbor_doc != 1 for r in got)
    top = min(got, key=lambda r: r.rnk)
    assert top.neighbor_doc == 2 and abs(top.tfidf_cosine - 1.0) < 1e-6
    capped = tfidf_topk_similar(docs, [1], k=3, max_df_ratio=0.9).collect()
    assert {r.neighbor_doc for r in capped} == {2, 3}, (
        "'common' (df=4/4 > 0.9) must stop linking doc 4 to the probe"
    )


def test_persisted_bm25_index_prunes_and_matches(spark, docs, tmp_path):
    """The persisted BM25 index must (a) return EXACTLY what bm25_rank
    computes on the same corpus (shared formula; df derived from the
    stored postings is exact), (b) partition-prune the postings scan
    to the query terms' buckets, and (c) after extend_bm25_index the
    probe must equal bm25_rank on the extended corpus — the appended
    postings, lengths, and refreshed (n_docs, avgdl) scalars all
    participate."""
    import re as _re

    from cassandrastack_spark.llm.retrieval import (
        bm25_rank,
        build_bm25_index,
        extend_bm25_index,
        probe_bm25_index,
    )

    path = str(tmp_path / "bm25_idx")
    terms = ["vector", "stream", "join"]
    build_bm25_index(docs, path)
    got = probe_bm25_index(spark, path, terms, k=15)
    want = bm25_rank(docs, terms, k=15)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tb" in plan, plan
    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "tb" in pf, plan

    # extend with docs that shift avgdl and term stats, incl. a new
    # top-ranking doc (dense in one query term, short)
    new = spark.createDataFrame(
        [
            (90_001, "vector vector vector vector"),
            (90_002, "stream join stream join stream pad pad pad"),
            (90_003, "noise only no query terms here at all"),
        ],
        ["doc_id", "text"],
    )
    extend_bm25_index(new, path)
    full = docs.select("doc_id", "text").unionByName(new)
    got2 = probe_bm25_index(spark, path, terms, k=15)
    want2 = bm25_rank(full, terms, k=15)
    rows2 = [tuple(r) for r in got2.collect()]
    assert rows2 == [tuple(r) for r in want2.collect()]
    wide = {r.doc_id for r in probe_bm25_index(spark, path, terms, k=600).collect()}
    assert 90_001 in wide and 90_002 in wide, "new docs must be reachable"
    assert 90_003 not in wide, "doc without query terms never scores"
    with pytest.raises(ValueError, match="at least one query term"):
        probe_bm25_index(spark, path, [])


def test_pagerank_distribution_weights_and_dangling(spark):
    """pagerank invariants on a constructed graph: ranks form a
    distribution (sum 1) even WITH a dangling node, edge weights steer
    mass (3:1 out-weights -> strictly higher rank downstream), a pure
    sink still accumulates rank, and the fixed-iteration run is
    deterministic across invocations."""
    from cassandrastack_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [
            ("a", "b", 3.0),
            ("a", "c", 1.0),
            ("b", "a", 1.0),
            ("c", "a", 1.0),
            ("a", "sink", 1.0),   # sink has NO out-edges (dangling)
        ],
        ["src", "dst", "w"],
    )
    r1 = {r.node: r.rank for r in pagerank(edges, weight_col="w").collect()}
    r2 = {r.node: r.rank for r in pagerank(edges, weight_col="w").collect()}
    assert r1 == r2, "fixed-iteration pagerank must be deterministic"
    assert abs(sum(r1.values()) - 1.0) < 1e-9, r1
    assert set(r1) == {"a", "b", "c", "sink"}
    assert r1["b"] > r1["c"], "3x edge weight must pull more mass"
    assert all(v > 0 for v in r1.values()), "dangling node keeps rank"
    # unweighted: b and c become symmetric
    ru = {r.node: r.rank for r in pagerank(edges).collect()}
    assert abs(ru["b"] - ru["c"]) < 1e-12
    with pytest.raises(ValueError, match="damping"):
        pagerank(edges, damping=1.5)


def test_pagerank_tol_early_exit_and_zero_weight_nodes(spark):
    """Round-7 hardening: (a) tol= early exit must terminate before
    the iteration cap on a converged graph and land within tol of the
    fixed-iteration ranks; (b) a node whose ONLY edges carry zero/
    null weight still gets a rank row (it is dangling, not dropped) —
    the node universe comes from the unfiltered edge list."""
    from cassandrastack_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [
            ("a", "b", 2.0),
            ("b", "a", 1.0),
            ("a", "c", 1.0),
            ("c", "a", 1.0),
        ],
        ["src", "dst", "w"],
    )
    fixed = {
        r.node: r.rank
        for r in pagerank(edges, weight_col="w", iters=40).collect()
    }
    early = {
        r.node: r.rank
        for r in pagerank(
            edges, weight_col="w", iters=40, tol=1e-7
        ).collect()
    }
    assert set(early) == set(fixed)
    assert all(abs(early[n] - fixed[n]) < 1e-6 for n in fixed), (
        fixed,
        early,
    )
    with pytest.raises(ValueError, match="tol"):
        pagerank(edges, weight_col="w", tol=0.0)

    # zero-weight-only node: x -> y with w=0 (plus null weight y -> x).
    # Both x and y must appear in the result as dangling nodes; ranks
    # still sum to 1 over the FULL node universe.
    ez = spark.createDataFrame(
        [
            ("a", "b", 1.0),
            ("b", "a", 1.0),
            ("x", "y", 0.0),
            ("y", "x", None),
        ],
        ["src", "dst", "w"],
    )
    rz = {r.node: r.rank for r in pagerank(ez, weight_col="w").collect()}
    assert set(rz) == {"a", "b", "x", "y"}, (
        "zero/null-weight-only nodes must keep a rank row"
    )
    assert abs(sum(rz.values()) - 1.0) < 1e-9, rz
    assert rz["x"] > 0 and rz["y"] > 0
    assert rz["a"] > rz["x"], "mass-bearing nodes outrank pure-dangling"


def test_extend_bm25_same_id_reextend_is_last_writer(spark, tmp_path):
    """The same-id contract (round-7 ADVICE): re-extending an indexed
    doc_id with DIFFERENT text must be a clean overwrite — the probe
    ranks the corpus as if only the newest version ever existed (old
    version's terms stop matching; no tf merge across versions)."""
    from cassandrastack_spark.llm.retrieval import (
        bm25_rank,
        build_bm25_index,
        extend_bm25_index,
        probe_bm25_index,
    )

    v1 = spark.createDataFrame(
        [
            (1, "vector vector vector pad"),
            (2, "stream join pad pad"),
            (3, "noise noise noise noise"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "bm25_lw")
    build_bm25_index(v1, path)
    # doc 1 rewritten: drops 'vector' entirely, now about 'stream'
    v2_doc1 = spark.createDataFrame(
        [(1, "stream stream pad pad pad")], ["doc_id", "text"]
    )
    extend_bm25_index(v2_doc1, path)
    current = spark.createDataFrame(
        [
            (1, "stream stream pad pad pad"),
            (2, "stream join pad pad"),
            (3, "noise noise noise noise"),
        ],
        ["doc_id", "text"],
    )
    for terms in (["vector"], ["stream", "join"], ["vector", "stream"]):
        got = [
            tuple(r)
            for r in probe_bm25_index(spark, path, terms, k=10).collect()
        ]
        want = [
            tuple(r) for r in bm25_rank(current, terms, k=10).collect()
        ]
        assert got == want, (terms, got, want)
    # the old version must not linger: 'vector' now matches nothing
    assert probe_bm25_index(spark, path, ["vector"], k=10).count() == 0


def test_slot_persist_bounds_cached_generations(spark):
    """The r7 persist() swaps must not accumulate CacheManager entries
    across repeated calls (Python GC never releases them): alternating
    tfidf_weights / substring_dedup between two corpora N times must
    hold persistent-RDD count at its single-call level — the slot
    unpersists the previous generation when the key rolls — and
    same-corpus re-calls must REUSE the cached frames, not re-persist.
    Results stay correct across every roll."""
    from cassandrastack_spark.llm.dedup import substring_dedup
    from cassandrastack_spark.llm.retrieval import tfidf_topk_similar

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    corpus_a = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i} " * 3) for i in range(6)],
        ["doc_id", "text"],
    )
    corpus_b = spark.createDataFrame(
        [(i, f"epsilon zeta eta theta word{i % 3} " * 3) for i in range(6)],
        ["doc_id", "text"],
    )
    base = n_persistent()
    first = sorted(map(tuple, tfidf_topk_similar(corpus_a, [1], k=2).collect()))
    after_one = n_persistent()
    for _ in range(3):
        tfidf_topk_similar(corpus_b, [1], k=2).count()
        assert sorted(
            map(tuple, tfidf_topk_similar(corpus_a, [1], k=2).collect())
        ) == first, "slot roll must not change results"
    assert n_persistent() <= after_one, (
        f"tfidf slot leaked cache: {base} -> {after_one} -> {n_persistent()}"
    )

    base_sub = n_persistent()
    sub_first = sorted(
        map(tuple, substring_dedup(corpus_a, min_len=3).collect())
    )
    after_sub = n_persistent()
    for _ in range(3):
        substring_dedup(corpus_b, min_len=3).count()
        assert sorted(
            map(tuple, substring_dedup(corpus_a, min_len=3).collect())
        ) == sub_first
    assert n_persistent() <= after_sub, (
        f"substring slot leaked cache: {base_sub} -> {after_sub} -> "
        f"{n_persistent()}"
    )


def test_embedding_covariance_matches_numpy(spark, emb):
    """embedding_covariance must equal numpy's exact population
    covariance on the same rows (the mapInPandas partial-moment path
    vs a single-machine reference), be symmetric, and have a PSD
    diagonal."""
    import numpy as np

    from cassandrastack_spark.llm.embstats import embedding_covariance

    x = np.asarray(
        [r.embedding for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    want = np.cov(x, rowvar=False, bias=True)
    got_rows = embedding_covariance(emb, "embedding").collect()
    dim = x.shape[1]
    assert len(got_rows) == dim * dim
    got = np.zeros((dim, dim))
    for r in got_rows:
        got[r.i][r.j] = r.cov
    assert np.allclose(got, want, atol=1e-9), np.abs(got - want).max()
    assert np.allclose(got, got.T, atol=1e-12)
    assert (np.diag(got) >= -1e-12).all()


def test_embedding_moments_reject_element_nulls_and_ragged(spark):
    """Null/NaN ELEMENTS inside a vector and ragged lengths must fail
    loud (silent NaN would poison every covariance entry while the
    per-entry-null-skipping SQL oracle kept returning numbers);
    whole-null vectors are skipped."""
    from cassandrastack_spark.llm.embstats import embedding_covariance

    schema = "vec_id long, embedding array<double>"
    with_null_elem = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, None])], schema
    )
    with pytest.raises(Exception, match="null/NaN element"):
        embedding_covariance(with_null_elem, "embedding").collect()
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0])], schema
    )
    with pytest.raises(Exception, match="ragged"):
        embedding_covariance(ragged, "embedding").collect()
    with_null_row = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [3.0, 4.0])], schema
    )
    got = embedding_covariance(with_null_row, "embedding").collect()
    assert len(got) == 4  # 2x2 — null ROW skipped, not poisoned


def test_pca_project_recovers_principal_axes(spark, emb):
    """pca_train/pca_project: orthonormal basis, descending
    eigenvalues matching numpy's (sign-fixed) eigendecomposition, and
    projected coordinates whose covariance is diag(top-k eigenvalues).
    A supplied basis must reproduce the self-trained projection, and
    null vectors project to null."""
    import numpy as np

    from cassandrastack_spark.llm.embstats import pca_project, pca_train

    k = 4
    mean, comps, eigvals = pca_train(emb, k)
    w = np.asarray(comps)
    assert np.allclose(w @ w.T, np.eye(k), atol=1e-9), "not orthonormal"
    assert all(
        eigvals[i] >= eigvals[i + 1] - 1e-12 for i in range(k - 1)
    ), eigvals

    x = np.asarray(
        [r.embedding for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    cov = np.cov(x, rowvar=False, bias=True)
    ew, evec = np.linalg.eigh(cov)
    order = np.argsort(ew)[::-1][:k]
    assert np.allclose(eigvals, ew[order], atol=1e-9)
    ref = evec[:, order].T
    for i in range(k):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i][j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(w, ref, atol=1e-6), "axes differ from numpy"

    got = {
        r.vec_id: np.asarray(r.pc)
        for r in pca_project(emb, k).select("vec_id", "pc").collect()
    }
    p = np.stack([got[i] for i in sorted(got)])
    pcov = np.cov(p, rowvar=False, bias=True)
    assert np.allclose(pcov, np.diag(eigvals), atol=1e-8), (
        "projected covariance must be diag(eigenvalues)"
    )

    # stored-basis path == self-trained path; null vector -> null
    reproj = {
        r.vec_id: np.asarray(r.pc)
        for r in pca_project(emb, k, mean=mean, components=comps)
        .select("vec_id", "pc")
        .collect()
    }
    assert all(np.allclose(got[i], reproj[i]) for i in got)
    with_null = emb.select("vec_id", "embedding").unionByName(
        emb.sparkSession.createDataFrame(
            [(99_999, None)], emb.select("vec_id", "embedding").schema
        )
    )
    row = (
        pca_project(with_null, k, mean=mean, components=comps)
        .filter(F.col("vec_id") == 99_999)
        .head()
    )
    assert row.pc is None


def test_tfidf_from_index_matches_from_scratch(spark, docs, tmp_path):
    """tfidf_weights_from_index / tfidf_topk_similar_from_index must
    reproduce the raw-text path exactly (weights AND ranks) from the
    persisted postings alone — the production shape where document
    similarity never re-tokenizes the corpus — including after an
    extend and under a df cap."""
    from cassandrastack_spark.llm.retrieval import (
        build_bm25_index,
        extend_bm25_index,
        tfidf_topk_similar,
        tfidf_topk_similar_from_index,
        tfidf_weights,
        tfidf_weights_from_index,
    )

    path = str(tmp_path / "bm25_tfidf")
    base = docs.select("doc_id", "text")
    build_bm25_index(base, path)

    def _rows(df):
        return sorted(
            (r.doc_id, r.w, round(r.weight, 9), round(r.norm, 9))
            for r in df.collect()
        )

    assert _rows(tfidf_weights_from_index(spark, path)) == _rows(
        tfidf_weights(base)
    )
    got = tfidf_topk_similar_from_index(spark, path, [1, 2, 3], k=5)
    want = tfidf_topk_similar(base, [1, 2, 3], k=5)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
    new = spark.createDataFrame(
        [(90_011, "vector stream vector join pad"),
         (90_012, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    extend_bm25_index(new, path)
    full = base.unionByName(new)
    got2 = tfidf_topk_similar_from_index(
        spark, path, [1, 90_011], k=5, max_df_ratio=0.9
    )
    want2 = tfidf_topk_similar(full, [1, 90_011], k=5, max_df_ratio=0.9)
    assert sorted(tuple(r) for r in got2.collect()) == sorted(
        tuple(r) for r in want2.collect()
    )
    with pytest.raises(ValueError, match="at least one probe id"):
        tfidf_topk_similar_from_index(spark, path, [])


def test_indexed_retrieval_queries_match_from_scratch_twins(spark):
    """The persisted-index registry queries must return EXACTLY what
    their from-scratch twins return at the same sf_dir — the
    composition guarantee behind sharing the twins' oracles: the BM25
    probe is exact by construction, the full-width IVF+PQ probe's
    exact re-rank recovers brute-force cosine, and TF-IDF from stored
    postings reproduces the raw-text floats."""
    from cassandrastack_spark.queries import REGISTRY, load_all

    load_all()
    sf = SF
    for indexed, scratch in [
        ("text_tfidf_sim_indexed", "text_tfidf_sim_topk"),
        ("ann_hybrid_rrf_indexed", "ann_hybrid_rrf_topk"),
        # r10 twins: MMR over the probe first stage, hard negatives
        # via the per-query allowed set, kNN vote over probe 5-NN
        ("ann_mmr_rerank_indexed", "ann_mmr_rerank_topk"),
        ("embedding_hard_negatives_indexed", "embedding_hard_negatives"),
        (
            "embedding_knn_label_agreement_indexed",
            "embedding_knn_label_agreement",
        ),
        # r12 twin: DSIR weights from the stored postings + a narrow
        # (doc_id, lang) label join — corpus text never read
        ("corpus_dsir_weights_indexed", "corpus_dsir_weights"),
    ]:
        got = REGISTRY[indexed].fn(spark, sf)
        want = REGISTRY[scratch].fn(spark, sf)
        assert got.columns == want.columns, (indexed, got.columns)
        assert sorted(tuple(r) for r in got.collect()) == sorted(
            tuple(r) for r in want.collect()
        ), indexed


def test_compact_bm25_index_drops_superseded_epochs(spark, tmp_path):
    """compact_bm25_index: after a same-id re-extend plus a replayed
    (duplicate) extend, compaction must physically drop superseded-
    epoch and duplicate postings rows while every probe stays
    byte-identical to the pre-compaction answer (== bm25_rank on the
    current corpus)."""
    from cassandrastack_spark.llm.retrieval import (
        bm25_rank,
        build_bm25_index,
        compact_bm25_index,
        extend_bm25_index,
        probe_bm25_index,
    )

    v1 = spark.createDataFrame(
        [
            (1, "vector vector vector pad"),
            (2, "stream join pad pad"),
            (3, "noise noise noise noise"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "bm25_cmp")
    build_bm25_index(v1, path)
    rewrite = spark.createDataFrame(
        [(1, "stream stream pad pad pad")], ["doc_id", "text"]
    )
    extend_bm25_index(rewrite, path)
    newdoc = spark.createDataFrame(
        [(4, "vector join vector pad")], ["doc_id", "text"]
    )
    extend_bm25_index(newdoc, path)
    extend_bm25_index(newdoc, path)  # replayed extend (epoch-bumped copy)
    # SAME-epoch duplicate: a crash between the postings append and
    # the _epochs commit replays at the SAME epoch (the newest
    # committed generation + 1), so the batch's postings land twice
    # under one stamp — simulate by re-appending the newest epoch's
    # postings rows directly
    idx_now = spark.read.parquet(path)
    cur_max = idx_now.agg(F.max("epoch")).head()[0]
    (
        idx_now.filter(F.col("epoch") == cur_max)
        .select("w", "doc_id", "tf", "epoch", "tb")
        .write.mode("append")
        .partitionBy("tb")
        .parquet(path)
    )
    current = spark.createDataFrame(
        [
            (1, "stream stream pad pad pad"),
            (2, "stream join pad pad"),
            (3, "noise noise noise noise"),
            (4, "vector join vector pad"),
        ],
        ["doc_id", "text"],
    )

    def probe_all():
        return {
            t: [
                tuple(r)
                for r in probe_bm25_index(spark, path, [t], k=10).collect()
            ]
            for t in ("vector", "stream", "join", "pad")
        }

    before = probe_all()
    n_rows_before = spark.read.parquet(path).count()
    compact_bm25_index(spark, path)
    after = probe_all()
    assert after == before
    for t in ("vector", "stream", "join"):
        want = [
            tuple(r) for r in bm25_rank(current, [t], k=10).collect()
        ]
        assert after[t] == want, (t, after[t], want)
    # physically: one row per live (w, doc_id), superseded epochs gone
    idx = spark.read.parquet(path)
    n_rows_after = idx.count()
    assert n_rows_after < n_rows_before, (n_rows_before, n_rows_after)
    assert (
        idx.groupBy("w", "doc_id").count().filter("count > 1").count() == 0
    ), "compaction must leave one postings row per (w, doc_id)"
    # doc 1's old 'vector' posting must be physically gone, and doc
    # 4's replay duplicate collapsed
    assert idx.filter("doc_id = 1 AND w = 'vector'").count() == 0


def test_compact_bm25_index_deletes_fully_superseded_bucket(spark, tmp_path):
    """A term bucket whose every posting was superseded is gone after
    compact_bm25_index, not left holding stale files."""
    import os

    from cassandrastack_spark.llm.retrieval import (
        build_bm25_index,
        compact_bm25_index,
        extend_bm25_index,
        probe_bm25_index,
    )

    path = str(tmp_path / "bm25_reclaim")
    build_bm25_index(
        spark.createDataFrame([(1, "old"), (2, "kept")], ["doc_id", "text"]),
        path, n_term_buckets=16,
    )
    extend_bm25_index(
        spark.createDataFrame([(1, "kept")], ["doc_id", "text"]), path
    )

    def bucket(term):
        return spark.range(1).select(
            F.pmod(F.hash(F.lit(term)), F.lit(16))
        ).head()[0]

    stale = os.path.join(path, f"tb={bucket('old')}")
    assert bucket("old") != bucket("kept") and os.path.isdir(stale), (
        "fixture: 'old' must sit alone in its bucket"
    )
    compact_bm25_index(spark, path)
    assert not os.path.exists(stale)
    got = probe_bm25_index(spark, path, ["kept", "old"], k=10).collect()
    assert sorted(r.doc_id for r in got) == [1, 2]


def test_extends_leave_meta_files_unchanged(spark, tmp_path):
    """_meta is write-once: extend_bm25_index and extend_fuzzy_index
    leave its file listing as the build wrote it (the IVF-PQ twin is
    pinned in test_compact_ivfpq_index_keeps_newest_generation_codes)."""
    import os

    from cassandrastack_spark.llm.retrieval import (
        build_bm25_index,
        extend_bm25_index,
    )
    from cassandrastack_spark.operators.fuzzy import (
        build_fuzzy_index,
        extend_fuzzy_index,
    )

    def listing(path):
        meta = os.path.join(path, "_meta")
        return sorted(
            (name, os.stat(os.path.join(meta, name)).st_mtime_ns)
            for name in os.listdir(meta)
        )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], ["doc_id", "text"]
    )
    bm25 = str(tmp_path / "bm25_meta")
    build_bm25_index(docs, bm25)
    before = listing(bm25)
    extend_bm25_index(
        spark.createDataFrame([(3, "c d e")], ["doc_id", "text"]), bm25
    )
    assert listing(bm25) == before

    names = spark.createDataFrame(
        [(1, "smith"), (2, "jones")], "id long, name string"
    )
    fuzzy = str(tmp_path / "fuzzy_meta")
    build_fuzzy_index(names, fuzzy, "id", "name")
    before = listing(fuzzy)
    extend_fuzzy_index(
        spark.createDataFrame([(3, "smyth")], "id long, name string"),
        fuzzy, "id", "name",
    )
    assert listing(fuzzy) == before


def test_probe_ivfpq_index_collapses_duplicate_indexed_ids(spark, tmp_path):
    """A vector id indexed twice (replayed extend — the crash window
    the epoch markers narrow but cannot close) must surface at most
    ONCE per query in probe results, with distinct ranks across
    distinct neighbors."""
    from cassandrastack_spark.llm.simsearch import (
        build_ivfpq_index,
        extend_ivfpq_index,
        probe_ivfpq_index,
    )

    rows = [
        (i, [float(i == j) + 0.1 * ((i * 7 + j) % 3) for j in range(8)])
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "ivfpq_dup")
    build_ivfpq_index(emb, path, k_centroids=2, m_sub=4, k_codes=4)
    dup = emb.filter(F.col("vec_id").isin([3, 5]))
    extend_ivfpq_index(dup, path)  # replayed extend: ids 3, 5 now twice
    q = emb.filter(F.col("vec_id") == 0)
    got = probe_ivfpq_index(
        spark, path, q, emb, k=8, nprobe=2, shortlist=64
    ).collect()
    neighbors = [r.neighbor_id for r in got]
    assert len(neighbors) == len(set(neighbors)), (
        f"duplicate indexed id must not duplicate result rows: {neighbors}"
    )
    assert sorted(r.rank for r in got) == list(range(1, len(got) + 1))


def test_compact_ivfpq_index_collapses_replays_and_preserves_probes(
    spark, tmp_path
):
    """compact_ivfpq_index: after replayed extends the codes index
    holds duplicate rows; compaction must collapse to one row per
    (cid, neighbor_id) while probes stay identical."""
    from cassandrastack_spark.llm.simsearch import (
        build_ivfpq_index,
        compact_ivfpq_index,
        extend_ivfpq_index,
        probe_ivfpq_index,
    )

    rows = [
        (i, [float(i == j) + 0.05 * ((i * 5 + j) % 4) for j in range(8)])
        for i in range(10)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "ivfpq_cmp")
    build_ivfpq_index(emb, path, k_centroids=2, m_sub=4, k_codes=4)
    extra = spark.createDataFrame(
        [(20, [0.3] * 8), (21, [0.1, 0.9] + [0.0] * 6)],
        ["vec_id", "embedding"],
    )
    extend_ivfpq_index(extra, path)
    extend_ivfpq_index(extra, path)  # replayed extend
    full = emb.unionByName(extra)
    q = emb.filter(F.col("vec_id") == 0)
    before = sorted(
        tuple(r)
        for r in probe_ivfpq_index(
            spark, path, q, full, k=6, nprobe=2, shortlist=64
        ).collect()
    )
    assert spark.read.parquet(path).count() == 14  # 10 + 2x2
    compact_ivfpq_index(spark, path)
    idx = spark.read.parquet(path)
    assert idx.count() == 12, "one row per indexed id after compaction"
    assert (
        idx.groupBy("cid", "neighbor_id").count().filter("count > 1").count()
        == 0
    )
    after = sorted(
        tuple(r)
        for r in probe_ivfpq_index(
            spark, path, q, full, k=6, nprobe=2, shortlist=64
        ).collect()
    )
    assert after == before


def test_compact_ivfpq_index_keeps_newest_generation_codes(spark, tmp_path):
    """Last-writer compaction: a same-list re-extend of an id with a
    CHANGED vector must leave the NEW generation's codes after
    compaction, not whichever codes sort lexicographically higher.
    Two ids swap vectors (X: A->B, Y: B->A) so whichever array
    compares greater, a `max(codes)` compaction would keep a stale
    row for one of them; `max_by(codes, epoch)` keeps both fresh."""
    from cassandrastack_spark.llm.simsearch import (
        build_ivfpq_index,
        compact_ivfpq_index,
        extend_ivfpq_index,
    )

    from cassandrastack_spark.llm.simsearch import probe_ivfpq_index

    vec_a = [1.0, 0.9, 0.8, 0.7, 0.0, 0.0, 0.0, 0.0]
    vec_b = [0.0, 0.0, 0.0, 0.0, 0.7, 0.8, 0.9, 1.0]
    filler = [
        (i, [0.5 + 0.1 * ((i + j) % 3) for j in range(8)]) for i in range(6)
    ]
    emb = spark.createDataFrame(
        filler + [(10, vec_a), (11, vec_b)], ["vec_id", "embedding"]
    )
    path = str(tmp_path / "ivfpq_lw")
    # k_centroids=1: a single list, so the re-extend lands in the SAME
    # cid partition — the exact case the lexicographic max got wrong
    build_ivfpq_index(emb, path, k_centroids=1, m_sub=4, k_codes=4)
    swapped = spark.createDataFrame(
        [(10, vec_b), (11, vec_a)], ["vec_id", "embedding"]
    )
    extend_ivfpq_index(swapped, path)
    epochs = {r.epoch for r in spark.read.parquet(path + "/_epochs").collect()}
    assert epochs == {0, 1}, (
        f"extend must append the new write generation to _epochs: {epochs}"
    )
    # _meta is write-once: immutable under extends, so concurrent
    # probes never see a delete-rewrite window and a crashed extend
    # can never leave the index meta-less (which would route the next
    # ingest batch into a whole-index rebuild-overwrite)
    assert set(
        spark.read.parquet(path + "/_meta").columns
    ) == {"centroids", "codebooks"}
    raw = spark.read.parquet(path)
    newest = {
        r.neighbor_id: tuple(r.codes)
        for r in raw.filter("epoch = 1 AND neighbor_id IN (10, 11)").collect()
    }
    oldest = {
        r.neighbor_id: tuple(r.codes)
        for r in raw.filter("epoch = 0 AND neighbor_id IN (10, 11)").collect()
    }
    assert newest and oldest[10] != newest[10] and oldest[11] != newest[11], (
        "fixture must change each id's codes across generations"
    )
    # epoch-parity contract (r8 verdict ask): compaction must preserve
    # the max_by(codes, epoch) election end to end — probe answers are
    # identical before and after, and the _epochs sidecar stays
    # consistent so the NEXT extend stamps a fresh generation.
    corpus = emb.filter(~F.col("vec_id").isin(10, 11)).unionByName(swapped)
    q = emb.filter(F.col("vec_id") == 0)
    before_probe = sorted(
        tuple(r)
        for r in probe_ivfpq_index(
            spark, path, q, corpus, k=6, nprobe=1, shortlist=64
        ).collect()
    )
    compact_ivfpq_index(spark, path)
    idx = spark.read.parquet(path)
    assert (
        idx.groupBy("cid", "neighbor_id").count().filter("count > 1").count()
        == 0
    )
    kept = {
        r.neighbor_id: (tuple(r.codes), r.epoch)
        for r in idx.filter("neighbor_id IN (10, 11)").collect()
    }
    assert kept[10] == (newest[10], 1) and kept[11] == (newest[11], 1), (
        f"compaction kept stale codes: {kept}"
    )
    after_probe = sorted(
        tuple(r)
        for r in probe_ivfpq_index(
            spark, path, q, corpus, k=6, nprobe=1, shortlist=64
        ).collect()
    )
    assert after_probe == before_probe, (
        "probe answers must be identical across compaction"
    )
    epochs_after = {
        r.epoch for r in spark.read.parquet(path + "/_epochs").collect()
    }
    assert epochs_after == {0, 1}, (
        "compaction must leave the append-only _epochs sidecar intact: "
        f"{epochs_after}"
    )
    extend_ivfpq_index(swapped, path)  # replay AFTER compaction
    epochs_post = {
        r.epoch for r in spark.read.parquet(path + "/_epochs").collect()
    }
    assert epochs_post == {0, 1, 2}, (
        "post-compaction extend must stamp the next generation: "
        f"{epochs_post}"
    )
    post_probe = sorted(
        tuple(r)
        for r in probe_ivfpq_index(
            spark, path, q, corpus, k=6, nprobe=1, shortlist=64
        ).collect()
    )
    assert post_probe == before_probe, (
        "a byte-identical replay after compaction must not change probes"
    )


def test_pagerank_personalized_reset_concentrates_mass(spark):
    """Personalized PageRank: a reset distribution pinned to one seed
    must (a) keep ranks a distribution, (b) rank the seed and its
    downstream neighborhood above their uniform-reset ranks, (c) give
    zero-reset nodes rank only via links (an unreachable, no-reset
    node gets 0), and (d) an explicitly-uniform reset must match the
    default path within float tolerance."""
    from cassandrastack_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [
            ("a", "b", 1.0),
            ("b", "c", 1.0),
            ("c", "a", 1.0),
            ("d", "a", 1.0),   # d points INTO the cycle; nothing points to d
        ],
        ["src", "dst", "w"],
    )
    uniform = {
        r.node: r.rank for r in pagerank(edges, weight_col="w").collect()
    }
    seed = spark.createDataFrame([("a", 1.0)], ["node", "weight"])
    pers = {
        r.node: r.rank
        for r in pagerank(edges, weight_col="w", reset=seed).collect()
    }
    assert set(pers) == {"a", "b", "c", "d"}
    assert abs(sum(pers.values()) - 1.0) < 1e-9, pers
    assert pers["a"] > uniform["a"], "seed gains teleport mass"
    assert pers["d"] == 0.0, (
        "no reset weight + no in-links => rank exactly 0"
    )
    assert pers["b"] > pers["c"], (
        "one hop from the seed must outrank two hops (cycle a->b->c)"
    )
    assert pers["b"] > 0 and pers["c"] > 0
    # explicit uniform reset ~= default path
    uni = spark.createDataFrame(
        [(n, 1.0) for n in "abcd"], ["node", "weight"]
    )
    explicit = {
        r.node: r.rank
        for r in pagerank(edges, weight_col="w", reset=uni).collect()
    }
    assert all(abs(explicit[n] - uniform[n]) < 1e-12 for n in uniform), (
        uniform,
        explicit,
    )
    with pytest.raises(ValueError, match="non-negative"):
        pagerank(
            edges,
            weight_col="w",
            reset=spark.createDataFrame([("a", -1.0)], ["node", "weight"]),
        )
    with pytest.raises(ValueError, match="positive weight"):
        pagerank(
            edges,
            weight_col="w",
            reset=spark.createDataFrame([("zz", 1.0)], ["node", "weight"]),
        )


def test_cosine_pairs_cluster_method_subset_and_multiassign_recall(spark, emb):
    """method='cluster' (SemDeDup-style) invariants on the real
    fixture: every reported pair is a true pair (exact verification
    tail — subset of the exact triangle-block result), and raising
    the assignment multiplicity recovers boundary-straddling pairs
    (recall is monotone 1->2->3 assignments, reaching the gate floor
    at 3)."""
    from cassandrastack_spark.llm.simsearch import cosine_pairs_above

    exact = {
        (r.a_id, r.b_id)
        for r in cosine_pairs_above(emb, threshold=0.42).collect()
    }
    assert exact, "fixture must contain near-dup pairs at 0.42"
    last = -1.0
    for assign in (1, 2, 3):
        rows = cosine_pairs_above(
            emb, threshold=0.42, method="cluster",
            cluster_k=16, cluster_assign=assign,
        ).collect()
        cl = {(r.a_id, r.b_id) for r in rows}
        # the in-stage min-shared-cid dedup must emit each pair ONCE:
        # the set collapse alone would mask duplicate emission
        # (ADVICE r16) — pin row count == deduplicated pair count
        assert len(rows) == len(cl), "cluster method emitted duplicate pairs"
        assert cl <= exact, "clustered pairs must be exactly verified"
        rec = len(cl & exact) / len(exact)
        assert rec >= last - 1e-9, (assign, rec, last)
        last = rec
    assert last >= 0.6, f"3-assignment recall under gate floor: {last}"
    with pytest.raises(ValueError, match="cluster_assign"):
        cosine_pairs_above(
            emb, threshold=0.42, method="cluster", cluster_assign=0
        )
    with pytest.raises(ValueError, match="unknown method"):
        cosine_pairs_above(emb, threshold=0.42, method="bogus")


def test_cosine_pairs_cluster_stored_centroids(spark, emb, tmp_path):
    """``centroids=`` — the persisted-index serving shape behind
    dedup_semantic_indexed: (a) passing the SAME centroids the inline
    path would train reproduces the inline-trained pairs exactly (the
    skip-retrain wiring changes candidates not at all); (b) centroids
    read back from a real build_ivfpq_index _meta sidecar satisfy the
    gate invariants (subset of exact, recall >= 0.6 at 3 assignments)
    even though they were trained on unit vectors — assignment is
    norm-invariant; (c) loud failures: centroids with a non-cluster
    method, cluster_assign over len(centroids)."""
    from cassandrastack_spark.llm.simsearch import (
        build_ivfpq_index,
        cosine_pairs_above,
        ivf_train_centroids,
        with_norm,
    )

    inline = {
        (r.a_id, r.b_id)
        for r in cosine_pairs_above(
            emb, threshold=0.42, method="cluster",
            cluster_k=16, cluster_assign=3,
        ).collect()
    }
    # (a) replicate the inline path's training call; same deterministic
    # sample -> same centroids -> identical candidates and pairs
    v = with_norm(emb.select("vec_id", "embedding"), "embedding").select(
        F.col("vec_id").alias("id"), "vec", "norm"
    )
    trained = ivf_train_centroids(
        v.select("id", "vec"), k_centroids=16, iters=5
    )
    stored_run = {
        (r.a_id, r.b_id)
        for r in cosine_pairs_above(
            emb, threshold=0.42, method="cluster",
            cluster_assign=3, centroids=trained,
        ).collect()
    }
    assert stored_run == inline

    # (b) the real artifact: centroids out of a persisted index's _meta
    path = str(tmp_path / "ivfpq_idx")
    build_ivfpq_index(emb, path, k_centroids=16)
    meta = spark.read.parquet(path + "/_meta").head()
    from_index = {
        (r.a_id, r.b_id)
        for r in cosine_pairs_above(
            emb, threshold=0.42, method="cluster",
            cluster_assign=3, centroids=[list(c) for c in meta.centroids],
        ).collect()
    }
    exact = {
        (r.a_id, r.b_id)
        for r in cosine_pairs_above(emb, threshold=0.42).collect()
    }
    assert from_index <= exact, "stored-centroid pairs must be verified"
    assert len(from_index & exact) >= 0.6 * len(exact), (
        len(from_index), len(exact)
    )

    # (c) loud failures
    with pytest.raises(ValueError, match="method='cluster'"):
        cosine_pairs_above(
            emb, threshold=0.42, method="exact", centroids=trained
        )
    with pytest.raises(ValueError, match="cluster_assign"):
        cosine_pairs_above(
            emb, threshold=0.42, method="cluster",
            cluster_assign=len(trained) + 1, centroids=trained,
        )


def test_pagerank_reset_scale_invariance_and_duplicate_rows(spark):
    """Personalization properties: (a) the reset distribution is
    normalized, so scaling every weight by a constant changes nothing;
    (b) duplicate node rows in the reset frame ADD (multiset
    semantics) instead of fanning out through the node-universe join —
    the round-7 review regression (duplicate rank rows, sum > 1)."""
    from cassandrastack_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0)],
        ["src", "dst", "w"],
    )
    r1 = spark.createDataFrame([("a", 1.0), ("b", 3.0)], ["node", "weight"])
    r2 = spark.createDataFrame([("a", 10.0), ("b", 30.0)], ["node", "weight"])
    p1 = {r.node: r.rank for r in pagerank(edges, weight_col="w", reset=r1).collect()}
    p2 = {r.node: r.rank for r in pagerank(edges, weight_col="w", reset=r2).collect()}
    assert all(abs(p1[n] - p2[n]) < 1e-12 for n in p1), (p1, p2)

    dup = spark.createDataFrame(
        [("a", 0.5), ("a", 0.5), ("b", 3.0)], ["node", "weight"]
    )
    rows = pagerank(edges, weight_col="w", reset=dup).collect()
    nodes = [r.node for r in rows]
    assert len(nodes) == len(set(nodes)) == 3, (
        f"duplicate reset rows must not duplicate rank rows: {nodes}"
    )
    pd_ = {r.node: r.rank for r in rows}
    assert abs(sum(pd_.values()) - 1.0) < 1e-9, pd_
    assert all(abs(pd_[n] - p1[n]) < 1e-12 for n in pd_), (
        "duplicate weights for a node must ADD (0.5 + 0.5 == 1.0)"
    )


def test_substring_dedup_removes_copied_runs_only(spark):
    """substring_dedup behavioral contract on a constructed corpus:
    (a) a 12-token run copied from doc A into doc B is removed from B
    exactly (surrounding unique tokens survive — straddling windows
    are unique so they protect the boundary); (b) the first
    occurrence (doc A) is untouched; (c) a full duplicate document
    empties entirely; (d) a doc shorter than min_len is never
    touched; (e) min_len validation."""
    from cassandrastack_spark.llm.dedup import substring_dedup

    run = " ".join(f"dup{i}" for i in range(12))        # 12-token run
    a = f"a1 a2 a3 {run} a4 a5 a6"
    b = f"b1 b2 b3 b4 {run} b5 b6 b7"
    docs = spark.createDataFrame(
        [
            (1, a),
            (2, b),
            (3, a),            # full duplicate of doc 1
            (4, "tiny doc under the window"),
            (5, None),         # NULL text: untouched, n_removed 0
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in substring_dedup(docs, min_len=10).collect()
    }
    assert got[1] == (a, 0), "first occurrence untouched"
    assert got[2] == ("b1 b2 b3 b4 b5 b6 b7", 12), got[2]
    assert got[3] == ("", 18), "full duplicate empties entirely"
    assert got[4] == ("tiny doc under the window", 0)
    assert got[5] == ("", 0), "NULL text must yield 0, never NULL"
    import pytest as _pt

    with _pt.raises(ValueError, match="min_len"):
        substring_dedup(docs, min_len=1)


def test_probe_ivfpq_index_filtered_ann(spark, tmp_path):
    """Filtered ANN over the persisted IVF+PQ index: with an allowed-id
    set, (a) every result satisfies the filter, (b) at full probe
    width the result equals exact cosine top-k over the allowed
    subset (the filter applies BEFORE ranking — filtered-out vectors
    never consume shortlist slots), and (c) an unfiltered probe is
    unchanged."""
    from cassandrastack_spark.llm.simsearch import (
        build_ivfpq_index,
        cosine_topk,
        probe_ivfpq_index,
    )

    rows = [
        (i, [float(i == j) + 0.07 * ((i * 3 + j) % 5) for j in range(8)])
        for i in range(16)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "ivfpq_filt")
    build_ivfpq_index(emb, path, k_centroids=2, m_sub=4, k_codes=4)
    q = emb.filter(F.col("vec_id") == 0)
    allowed_ids = [1, 3, 5, 7, 9, 11]
    allowed = spark.createDataFrame(
        [(i,) for i in allowed_ids], ["vec_id"]
    )
    got = probe_ivfpq_index(
        spark, path, q, emb, k=4, nprobe=2, shortlist=64, allowed=allowed
    ).collect()
    assert {r.neighbor_id for r in got} <= set(allowed_ids), got
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == [
        1, 2, 3, 4,
    ]
    # full width => exact top-k over the allowed subset
    want = cosine_topk(
        emb.filter(F.col("vec_id").isin(allowed_ids)), q, k=4
    ).collect()
    got_full = probe_ivfpq_index(
        spark, path, q, emb, k=4, nprobe=2, shortlist=1 << 20,
        allowed=allowed,
    ).collect()
    assert sorted((r.neighbor_id, r.rank) for r in got_full) == sorted(
        (r.neighbor_id, r.rank) for r in want
    )
    # unfiltered probe unaffected by the new parameter's default
    plain = probe_ivfpq_index(
        spark, path, q, emb, k=4, nprobe=2, shortlist=64
    ).collect()
    assert len(plain) == 4


def test_probe_ivfpq_index_per_query_allowed(spark, tmp_path):
    """Per-query allowed sets (allowed_query_col=): each query ranks
    only ITS OWN allowed ids — the restriction class a global id set
    cannot express (label-mismatch mining, per-tenant visibility).
    At full probe width each query's result equals exact cosine top-k
    over that query's allowed subset."""
    from cassandrastack_spark.llm.simsearch import (
        build_ivfpq_index,
        cosine_topk,
        probe_ivfpq_index,
    )

    rows = [
        (i, [float(i == j) + 0.07 * ((i * 3 + j) % 5) for j in range(8)])
        for i in range(16)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "ivfpq_pq_allowed")
    build_ivfpq_index(emb, path, k_centroids=2, m_sub=4, k_codes=4)
    q = emb.filter(F.col("vec_id") < 2)
    per_q = {0: [2, 4, 6, 8, 10], 1: [3, 5, 7, 9, 11]}
    allowed = spark.createDataFrame(
        [(qid, nid) for qid, nids in per_q.items() for nid in nids],
        ["query_id", "vec_id"],
    )
    # restriction columns without a restriction frame fail loud — an
    # unrestricted probe here would silently violate the per-anchor
    # predicate downstream
    import pytest

    with pytest.raises(ValueError, match="allowed is None"):
        probe_ivfpq_index(
            spark, path, q, emb, k=3, allowed_query_col="query_id"
        )
    got = probe_ivfpq_index(
        spark, path, q, emb, k=3, nprobe=2, shortlist=1 << 20,
        allowed=allowed, allowed_query_col="query_id",
    ).collect()
    # (a) every result respects its OWN query's allowed set
    for r in got:
        assert r.neighbor_id in per_q[r.query_id], r
    # (b) full width => exact top-k over each query's allowed subset
    for qid, nids in per_q.items():
        want = cosine_topk(
            emb.filter(F.col("vec_id").isin(nids)),
            emb.filter(F.col("vec_id") == qid),
            k=3,
        ).collect()
        got_q = sorted(
            ((r.neighbor_id, r.rank) for r in got if r.query_id == qid)
        )
        assert got_q == sorted((r.neighbor_id, r.rank) for r in want), (
            qid, got_q,
        )
    # (c) a query whose allowed set is EMPTY yields zero rows for that
    # query (not an error, not leaked unrestricted candidates) — the
    # hard-negative case where an anchor's label covers the corpus
    lop = spark.createDataFrame([(0, 2), (0, 4)], ["query_id", "vec_id"])
    lop_got = probe_ivfpq_index(
        spark, path, q, emb, k=3, nprobe=2, shortlist=1 << 20,
        allowed=lop, allowed_query_col="query_id",
    ).collect()
    assert {r.query_id for r in lop_got} == {0}, lop_got
    assert {r.neighbor_id for r in lop_got} == {2, 4}, lop_got


def test_covariance_drift_zero_for_identical_and_positive_for_shifted(
    spark, emb
):
    """covariance_drift: 0 against itself; a scaled embedding column
    (variance x4) drifts with the exact analytic ratio — cov scales by
    4, so ||4C - C||_F / ||C||_F = 3."""
    from cassandrastack_spark.llm.embstats import (
        covariance_drift,
        embedding_covariance,
    )

    cov = embedding_covariance(emb, "embedding").localCheckpoint(eager=True)
    same = covariance_drift(cov, cov).head()
    assert same.frobenius_diff < 1e-12 and same.drift_ratio < 1e-12

    scaled = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> x * 2.0)").alias("embedding"),
    )
    cov2 = embedding_covariance(scaled, "embedding")
    moved = covariance_drift(cov, cov2).head()
    assert abs(moved.drift_ratio - 3.0) < 1e-9, moved


def test_covariance_drift_fails_loud_on_empty_and_zero_reference(spark, emb):
    """The r8 advice guard: a retrain scheduler thresholding
    drift_ratio must get an ERROR, never a silent NULL it would never
    fire on — (a) an empty/disjoint covariance frame (the young-stream
    case: embedding_moments_state before the first committed
    micro-batch), (b) an all-zero reference covariance (constant
    embeddings, 0/0 ratio)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from cassandrastack_spark.llm.embstats import (
        covariance_drift,
        embedding_covariance,
    )

    cov = embedding_covariance(emb, "embedding").localCheckpoint(eager=True)
    empty = spark.createDataFrame([], "i int, j int, cov double")
    with pytest.raises(SparkRuntimeException, match="not fully overlap"):
        covariance_drift(cov, empty).collect()
    with pytest.raises(SparkRuntimeException, match="not fully overlap"):
        covariance_drift(empty, cov).collect()
    # PARTIAL overlap (mismatched dims — e.g. a truncated embedding
    # column) must fail too: a partial-block Frobenius norm is a
    # silently wrong scheduler scalar, not a smaller one
    truncated = cov.filter((F.col("i") < 4) & (F.col("j") < 4))
    with pytest.raises(SparkRuntimeException, match="not fully overlap"):
        covariance_drift(cov, truncated).collect()

    const = emb.select(
        "vec_id", F.expr("transform(embedding, x -> 1.5)").alias("embedding")
    )
    zero_ref = embedding_covariance(const, "embedding").localCheckpoint(
        eager=True
    )
    with pytest.raises(SparkRuntimeException, match="norm is 0"):
        covariance_drift(zero_ref, cov).select("drift_ratio").collect()
    # ...but the docstring's fallback must WORK: frobenius_diff is
    # well-defined against a zero-norm reference, so reading the diff
    # column alone succeeds (the assert rides only the ratio)
    row = (
        covariance_drift(zero_ref, cov)
        .select("frobenius_diff", "frobenius_ref")
        .head()
    )
    assert row.frobenius_diff > 0 and row.frobenius_ref == 0.0, row
    # the zero frame as the COMPARED side is legitimate (drift away
    # from a healthy reference toward collapse) and must still work
    ok = covariance_drift(cov, zero_ref).head()
    assert abs(ok.drift_ratio - 1.0) < 1e-9, ok


def test_quality_score_linear_rejects_unknown_weight_keys(spark):
    """A trained-model weights dict with a misspelled feature must
    raise a contract error naming the valid features, not a bare
    KeyError (r8 advice)."""
    import pytest

    from cassandrastack_spark.functions.text import quality_score_linear

    with pytest.raises(ValueError, match="stopword_ratio"):
        quality_score_linear("text", weights={"stopword_ration": 1.0})
    # valid subsets stay accepted
    df = spark.createDataFrame([("the quick brown fox",)], ["text"])
    got = df.select(
        quality_score_linear("text", weights={"log1p_tokens": 1.0}).alias("q")
    ).head()
    assert 0.0 < got.q < 1.0


def test_slot_persist_rolls_on_same_path_rewrite(spark, tmp_path):
    """The r8 advice MEDIUM item: sameResult matches file sources by
    ROOT PATH, so an in-place corpus rewrite (staged overwrite to the
    same directory) must NOT be served the previous corpus's cached
    tfidf frames — the file-snapshot fingerprint has to roll the slot."""
    from cassandrastack_spark.llm.retrieval import tfidf_topk_similar

    path = str(tmp_path / "corpus_pq")
    spark.createDataFrame(
        [(i, "alpha beta gamma " + f"tok{i}") for i in range(5)],
        ["doc_id", "text"],
    ).write.mode("overwrite").parquet(path)
    first = sorted(
        map(tuple, tfidf_topk_similar(spark.read.parquet(path), [1], k=2).collect())
    )
    assert first
    # rewrite the SAME path with a disjoint vocabulary: doc 1 now only
    # matches doc 2 (shared zeta), so stale cached postings would
    # reproduce `first`
    spark.createDataFrame(
        [(1, "zeta eta theta"), (2, "zeta iota kappa"), (3, "mu nu xi")],
        ["doc_id", "text"],
    ).write.mode("overwrite").parquet(path)
    fresh = spark.read.parquet(path)
    got = sorted(map(tuple, tfidf_topk_similar(fresh, [1], k=2).collect()))
    want = sorted(
        map(
            tuple,
            tfidf_topk_similar(fresh.localCheckpoint(eager=True), [1], k=2)
            .collect(),
        )
    )
    assert got == want != first, (
        "same-path rewrite was served the previous corpus's cache"
    )


def test_embedding_correlation_matches_numpy(spark, emb):
    """embedding_correlation must equal numpy's corrcoef entrywise,
    with an exactly-1.0 diagonal (the same single-scan moments as the
    covariance path, normalized by the diagonal)."""
    import numpy as np

    from cassandrastack_spark.llm.embstats import embedding_correlation

    x = np.asarray(
        [r.embedding for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    want = np.corrcoef(x, rowvar=False)
    got_rows = embedding_correlation(emb, "embedding").collect()
    dim = x.shape[1]
    assert len(got_rows) == dim * dim
    got = np.zeros((dim, dim))
    for r in got_rows:
        got[r.i][r.j] = r.corr
    assert np.allclose(got, want, atol=1e-9), np.abs(got - want).max()
    assert np.allclose(np.diag(got), 1.0, atol=1e-12)


def test_dsir_weights_tilt_toward_target_and_resample_is_deterministic(
    spark,
):
    """DSIR property gate: documents drawn from the target (en)
    distribution must average a HIGHER importance weight than
    off-target documents (the whole point of the log-ratio), and the
    Gumbel-top-k resampler must be deterministic (hash-derived noise,
    not RNG) and select a weight-tilted subset."""
    from cassandrastack_spark.queries.llm import _dsir_logweights

    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, "en", "the cat sat on the mat and the dog ran"))
        else:
            rows.append((i, "de", "der hund lief und die katze sass auf"))
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    lw = {r.doc_id: r.lw for r in _dsir_logweights(d).collect()}
    en_avg = sum(lw[i] for i in range(0, 40, 2)) / 20
    de_avg = sum(lw[i] for i in range(1, 40, 2)) / 20
    assert en_avg > de_avg, (en_avg, de_avg)
    assert len(lw) == 40


def test_mmr_rerank_diversifies_and_bounds_pool(spark):
    """MMR semantics gate: a pool where the two most relevant
    candidates are near-duplicates must select the DISTINCT
    third-best at rank 2 (pure relevance would take the duplicate);
    lam=1 must reduce to pure relevance order; an oversized pool must
    fail loud."""
    import pytest

    from cassandrastack_spark.llm.simsearch import cosine_topk, mmr_rerank

    # query 0 at e1; candidates: 10/11 near-identical high-relevance,
    # 12 moderately relevant but orthogonal to them
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (10, [0.97, 0.24, 0.0, 0.0]),
        (11, [0.97, 0.2399, 0.001, 0.0]),
        (12, [0.8, 0.0, 0.6, 0.0]),
        (13, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0)
    cands = cosine_topk(emb, q, k=4)
    got = {
        r.mmr_rank: r.neighbor_id
        for r in mmr_rerank(cands, emb, k=3, lam=0.5).collect()
    }
    assert got[1] in (10, 11), got
    assert got[2] == 12, f"MMR must skip the near-duplicate: {got}"

    pure = [
        r.neighbor_id
        for r in mmr_rerank(cands, emb, k=4, lam=1.0)
        .orderBy("mmr_rank")
        .collect()
    ]
    rel_order = [
        r.neighbor_id for r in cands.orderBy("rank").collect()
    ]
    assert pure == rel_order, "lam=1 must reduce to relevance order"

    with pytest.raises(Exception, match="max_pool"):
        mmr_rerank(cands, emb, k=2, max_pool=2).collect()
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(cands, emb, k=2, lam=1.5)

    # r10: null relevance fails loud, same discipline as the
    # missing-vector guard — not a silent NaN argmax
    holed = cands.withColumn(
        "cosine",
        F.when(F.col("neighbor_id") == 11, F.lit(None)).otherwise(
            F.col("cosine")
        ),
    )
    with pytest.raises(Exception, match="null 'cosine'"):
        mmr_rerank(holed, emb, k=2).collect()

    # r10: id types derive from the input schema — string doc ids
    # round-trip instead of failing the hardcoded bigint cast
    s_emb = emb.withColumn("vec_id", F.concat(F.lit("d"), "vec_id"))
    s_cands = cands.select(
        F.concat(F.lit("d"), "query_id").alias("query_id"),
        F.concat(F.lit("d"), "neighbor_id").alias("neighbor_id"),
        "cosine",
    )
    s_got = {
        r.mmr_rank: r.neighbor_id
        for r in mmr_rerank(s_cands, s_emb, k=3, lam=0.5).collect()
    }
    assert s_got[1] in ("d10", "d11") and s_got[2] == "d12", s_got


def test_corpus_split_dedup_aware_never_splits_a_component(spark):
    """The leakage invariant the operator exists for: every
    n-gram-Jaccard near-dup pair must land on the SAME side of the
    train/val/test split (corpus_split_hash alone would eventually
    separate them), and each split_group carries exactly one split."""
    from cassandrastack_spark.llm.dedup import ngram_jaccard_pairs
    from cassandrastack_spark.queries.llm import corpus_split_dedup_aware
    from tests.conftest import SF_SMOKE

    from cassandrastack_spark.sources.io import read_table

    split = corpus_split_dedup_aware(spark, SF_SMOKE)
    assert (
        split.groupBy("split_group")
        .agg(F.countDistinct("split").alias("n"))
        .filter("n > 1")
        .count()
        == 0
    )
    docs = read_table(spark, SF_SMOKE, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.2)
    sa = split.select(F.col("doc_id").alias("a_id"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("b_id"), F.col("split").alias("split_b"))
    crossed = (
        pairs.join(sa, "a_id").join(sb, "b_id")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert crossed == 0, f"{crossed} near-dup pairs straddle the split"
    assert {r.split for r in split.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }


def test_dsir_logweights_match_token_level_reference(spark):
    """The r9 postings-cache refactor sums cnt-weighted TERM scores;
    pin it exactly against a python token-level reference (the
    published DSIR formulation: one smoothed log-ratio per TOKEN
    occurrence) on an irregular corpus with repeats, an empty doc,
    and a doc whose every token is target-only."""
    import math

    from cassandrastack_spark.queries.llm import _dsir_logweights

    rows = [
        (0, "en", "a a a b"),
        (1, "en", "b c"),
        (2, "de", "a d d d d"),
        (3, "de", ""),
        (4, "en", "e e"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {r.doc_id: (r.n_tokens, r.lw) for r in _dsir_logweights(d).collect()}

    # token-level reference
    toks = {i: t.split(" ") for i, _, t in rows}
    raw, tgt = {}, {}
    for i, lang, _ in rows:
        for w in toks[i]:
            raw[w] = raw.get(w, 0) + 1
            if lang == "en":
                tgt[w] = tgt.get(w, 0) + 1
    n_r, n_t, v = sum(raw.values()), sum(tgt.values()), len(raw)
    for i, _, _ in rows:
        lw = sum(
            math.log((tgt.get(w, 0) + 1) / (n_t + v))
            - math.log((raw[w] + 1) / (n_r + v))
            for w in toks[i]
        )
        assert got[i][0] == len(toks[i]), (i, got[i])
        assert abs(got[i][1] - lw) < 1e-9, (i, got[i][1], lw)


def test_input_fingerprint_edge_branches(spark, tmp_path):
    """_input_fingerprint: in-memory plans fingerprint as () (plan
    identity alone decides, the pre-r9 behavior); file plans carry
    (uri, size, mtime) triples; a stat failure on a file: URI makes
    the whole fingerprint unresolvable (None — never matches, slot
    rolls) instead of degrading to a name-only entry that two broken
    generations could alias on (r9 ADVICE)."""
    import shutil

    from cassandrastack_spark.llm._slots import _input_fingerprint

    mem = spark.createDataFrame([(1, "a")], ["id", "t"])
    assert _input_fingerprint(mem) == ()

    path = str(tmp_path / "fp_pq")
    mem.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    fp = _input_fingerprint(df)
    assert fp and all(
        u.startswith("file:") and isinstance(size, int) and isinstance(mt, int)
        for (u, size, mt) in fp
    ), fp
    # rewrite -> different part files -> different fingerprint
    spark.createDataFrame([(2, "b"), (3, "c")], ["id", "t"]).write.mode(
        "overwrite"
    ).parquet(path)
    df2 = spark.read.parquet(path)
    assert _input_fingerprint(df2) != fp
    # stat failure (files deleted under a resolved file index) -> None,
    # not a name-only tuple
    shutil.rmtree(path)
    assert _input_fingerprint(df2) is None


def test_input_fingerprint_survives_cache_substitution(spark, tmp_path):
    """The r11 perf-drift root cause, pinned: once a slot's generation
    is persisted AND materialized, CacheManager substitution rewrites
    every logically-identical new frame's OPTIMIZED plan to read the
    InMemoryRelation — df.inputFiles() then returns [] and a
    fingerprint derived from it flips to (), mismatching the stored
    file list forever. Every re-call ROLLED the slot (full re-tokenize
    + re-persist; bench's min-of-2 never saw a warm hit — the r9-r11
    monotone dsir/tfidf drift). The fingerprint must come from the
    ANALYZED plan's file sources, which cache substitution never
    touches: a fresh identical frame fingerprints identically while
    the previous generation sits cached, and slot_persist HITs,
    returning the STORED frames."""
    from cassandrastack_spark.llm._slots import (
        _input_fingerprint,
        slot_persist,
        slot_release,
    )

    path = str(tmp_path / "cache_sub_pq")
    spark.createDataFrame(
        [(i, f"w{i} common") for i in range(4)], ["doc_id", "text"]
    ).write.mode("overwrite").parquet(path)

    def agg():
        from pyspark.sql import functions as F

        return (
            spark.read.parquet(path)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n"))
        )

    a = agg()
    fp_cold = _input_fingerprint(a)
    assert fp_cold, "file plan must fingerprint to file triples"
    try:
        (held,) = slot_persist("test.cache_sub", a, (a,))
        held.count()  # materialize -> cache substitution active
        b = agg()
        assert b.inputFiles() == [], (
            "precondition: optimized-plan inputFiles() hidden by the "
            "cached generation (if this starts returning files, the "
            "analyzed-plan workaround may be removable)"
        )
        assert _input_fingerprint(b) == fp_cold
        (got,) = slot_persist("test.cache_sub", b, (b,))
        assert got is held, "identical re-call must HIT, not roll"
    finally:
        slot_release("test.cache_sub")


def test_embedding_covariance_exclude_matches_direct_and_guards(spark, emb):
    """Moment-subtraction retirement: covariance of (corpus − retired)
    computed from subtracted moments must equal the directly-computed
    covariance of the surviving rows to float-sum precision; an empty
    retired batch is the identity; over-retiring the whole corpus and
    a dim-mismatched batch fail loud."""
    import numpy as np
    import pytest

    from cassandrastack_spark.llm.embstats import (
        embedding_covariance,
        embedding_covariance_exclude,
    )

    retired = emb.filter(F.col("vec_id") % 3 == 0)
    survivors = emb.filter(F.col("vec_id") % 3 != 0)

    def mat(rows):
        dim = int(max(r.i for r in rows)) + 1
        m = np.zeros((dim, dim))
        for r in rows:
            m[r.i][r.j] = r.cov
        return m

    got = mat(embedding_covariance_exclude(emb, retired).collect())
    want = mat(embedding_covariance(survivors, "embedding").collect())
    assert np.allclose(got, want, atol=1e-9), np.abs(got - want).max()

    empty = retired.filter(F.lit(False))
    ident = mat(embedding_covariance_exclude(emb, empty).collect())
    full = mat(embedding_covariance(emb, "embedding").collect())
    assert np.allclose(ident, full, atol=1e-12)

    # the asserts fire inside AQE stage materialization here (the
    # 1-row n frame broadcasts), so Spark surfaces them wrapped —
    # match on the message, not the exception class
    with pytest.raises(Exception, match="whole corpus"):
        embedding_covariance_exclude(emb, emb).collect()
    short = emb.select(
        "vec_id", F.expr("slice(embedding, 1, 8)").alias("embedding")
    ).limit(5)
    with pytest.raises(Exception, match="different embedding dim"):
        embedding_covariance_exclude(emb, short).collect()


def test_udtf_arrow_and_pickle_paths_agree(spark):
    """The registered text_top_terms_udtf runs useArrow=False (the r13
    tripwire profile measured the pickle path 2.5-3x faster for a UDTF
    emitting 3 short rows per input row — Arrow's per-row-group writer
    overhead never amortizes). This test keeps the ARROW UDTF path
    exercised and pins that both serializations produce the identical
    lateral-join result, so the registered choice stays a pure perf
    decision, never a semantic one."""
    from pyspark.sql.functions import udtf

    def body(text, k):
        from collections import Counter

        counts = Counter((text or "").split(" "))
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        for i, (w, n) in enumerate(ranked[:k]):
            yield w, int(n), i + 1

    @udtf(returnType="word string, cnt int, rnk int", useArrow=True)
    class TopTermsArrow:
        def eval(self, text: str, k: int):
            yield from body(text, k)

    @udtf(returnType="word string, cnt int, rnk int", useArrow=False)
    class TopTermsPickle:
        def eval(self, text: str, k: int):
            yield from body(text, k)

    spark.udtf.register("tt_arrow", TopTermsArrow)
    spark.udtf.register("tt_pickle", TopTermsPickle)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        100
    ).createOrReplaceTempView("_udtf_docs_eq")
    q = (
        "SELECT d.doc_id, t.word, t.cnt, t.rnk FROM _udtf_docs_eq d, "
        "LATERAL {fn}(d.text, 3) t ORDER BY d.doc_id, t.rnk"
    )
    a = spark.sql(q.format(fn="tt_arrow")).collect()
    p = spark.sql(q.format(fn="tt_pickle")).collect()
    assert len(a) == len(p) > 0
    assert a == p


def test_max_cosine_vs_refs_matches_bruteforce_and_ties(spark):
    """max_cosine_vs_refs: per-corpus-row argmax against a brute-force
    python model; ties break toward the SMALLEST ref id (both engines'
    rule); the ref-side cap fails loud; an empty ref set yields an
    empty frame."""
    import math

    import pytest as _pytest

    from cassandrastack_spark.llm.simsearch import max_cosine_vs_refs

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [1.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    # refs 10 and 11 are IDENTICAL: both tie on every cosine — the
    # argmax must deterministically pick 10 (smallest id)
    refs = spark.createDataFrame(
        [
            (10, [2.0, 0.0, 0.0]),
            (11, [2.0, 0.0, 0.0]),
            (12, [0.0, 3.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: (r.ref_id, r.cosine)
        for r in max_cosine_vs_refs(corpus, refs).collect()
    }
    cvecs = {1: (1, 0, 0), 2: (0, 1, 0), 3: (1, 1, 0)}
    rvecs = {10: (2, 0, 0), 11: (2, 0, 0), 12: (0, 3, 0)}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    for cid, cv in cvecs.items():
        best = max(
            ((cos(cv, rv), -rid) for rid, rv in rvecs.items()),
        )
        assert got[cid][0] == -best[1]
        assert abs(got[cid][1] - best[0]) < 1e-12
    assert got[1][0] == 10 and got[2][0] == 12 and got[3][0] == 10

    with _pytest.raises(ValueError, match="max_ref_rows"):
        max_cosine_vs_refs(corpus, refs, max_ref_rows=2)

    empty = max_cosine_vs_refs(corpus, refs.filter("vec_id > 100"))
    assert empty.count() == 0


def test_max_cosine_vs_refs_drops_degenerate_vectors(spark):
    """Zero-norm, NaN- AND Inf-component vectors are dropped on BOTH
    sides (ADVICE r14 + review r15: Spark orders NaN above every
    double, so a bare `norm > 0` filter passes a NaN-norm vector
    through, and an Inf-component vector passes any isnan check while
    its cosine is Inf/Inf = NaN — either way the NaN cosine satisfies
    any `cosine >= t` decontamination flag, exactly the false positive
    the drop contract exists to prevent)."""
    from cassandrastack_spark.llm.simsearch import max_cosine_vs_refs

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),            # zero norm: dropped
            (3, [float("nan"), 1.0]),   # NaN norm: dropped
            (4, [float("inf"), 1.0]),   # Inf norm: dropped
        ],
        "vec_id long, embedding array<float>",
    )
    refs = spark.createDataFrame(
        [
            (10, [1.0, 1.0]),
            (11, [0.0, 0.0]),           # zero norm: dropped
            (12, [float("nan"), 2.0]),  # NaN norm: dropped
            (13, [float("inf"), 2.0]),  # Inf norm: dropped
        ],
        "vec_id long, embedding array<float>",
    )
    rows = max_cosine_vs_refs(corpus, refs).collect()
    # only the one finite corpus row gets a verdict, and only against
    # the one finite ref — and the cosine is finite
    assert {(r.vec_id, r.ref_id) for r in rows} == {(1, 10)}
    assert all(r.cosine == r.cosine for r in rows)  # no NaN survives
