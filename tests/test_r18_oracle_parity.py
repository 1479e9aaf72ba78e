"""Pre-validated oracle parity for r15-staged, r18-registering queries
(the staged-query discipline of test_r15/r16/r17_oracle_parity.py):
the EXACT Spark plans and EXACT oracle SQL live here, validated green
against DuckDB at sf0.001 AND sf0.01 ahead of registration; the
registering round lifts both verbatim into ``@register`` and flips
this file to reading the registered QueryDefs. (r18, not earlier: the
r16 window is fully spoken for — 45 r12-debt rows + the 4 r16-staged
registrants + 1 chip — and r17's by the 49-row r13 cohort +
decontam_semantic. Staging depth is never capped, only registration.)

Staged here, the two r14-VERDICT #6 novelty surfaces:

- ``er_fuzzy_customer_pairs`` — within-table entity resolution over
  customer names at edit distance <= 1 (operators/fuzzy.py
  fuzzy_self_pairs, FastSS deletion-neighborhood blocking +
  levenshtein verify). The oracle is the BRUTE-FORCE pair join —
  candidates-then-verify vs exhaustive search, the strongest gate a
  blocking scheme can face: one missed pair hash-mismatches. Both
  engines' levenshtein are the classic unit-cost DP on these ASCII
  names, and dist is an integer — no rounding anywhere. The fixture
  is the blocking scheme's adversarial case (every name shares the
  9-char "Customer#" prefix): deletion-variant blocks stay
  neighborhood-bounded where a segment scheme would hot-block.

- ``corpus_quality_nb_score`` — the trained hashed-gram linear quality
  classifier end-to-end (llm/classifier.py): featurize (unigrams +
  bigrams, md5-slice buckets), train NB log-odds weights on a
  source-labeled seed (src0/src1 positive vs src8/src9 negative),
  score EVERY document. REGISTRATION NOTE: nb_logodds_weights
  broadcasts its 1-row (doc-count + gram-total) scalar frame onto the
  dim-row spine — the canonical scalar-subquery BNL; the registering
  round must add its entry, with the reason, to ``DOCUMENTED_BNL`` in
  cassandrastack_spark/plans/guardrails.py (the corpus_source_kl
  precedent). The oracle rebuilds the identical buckets
  (the CM-oracle strpos hex arithmetic), the identical smoothed
  weights, and the identical decimal-summed dot product; scores round
  to 6 decimals on both sides (ln/exp engine difference is bounded by
  a few ulps per term against a 1e-6 grid — the established PSI-rule
  margin).
"""

import duckdb
import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

ER_FUZZY_CUSTOMER_PAIRS_ORACLE = """
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM customer a, customer b
    WHERE a.c_custkey < b.c_custkey
      AND abs(length(a.c_name) - length(b.c_name)) <= 1
      AND levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY key_a, key_b
"""


def er_fuzzy_customer_pairs_spark(spark, sf_dir):
    """The exact plan that registers in r18 (lift verbatim)."""
    from cassandrastack_spark.operators.fuzzy import fuzzy_self_pairs

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        fuzzy_self_pairs(c, "c_custkey", "c_name", max_dist=1)
        .select(
            F.col("key_a").cast("bigint").alias("key_a"),
            F.col("key_b").cast("bigint").alias("key_b"),
            "dist",
        )
        .orderBy("key_a", "key_b")
    )


# bucket arithmetic shared with the CM-family oracles: 7 md5 hex chars
# -> 28-bit int, mod dim. dim=256 keeps the weight table readable while
# forcing real collisions (vocab ~31 unigrams + bigrams).
_DIM = 256
_B = (
    "CAST(list_sum(list_transform(generate_series(1, 7), "
    "i -> (strpos('0123456789abcdef', substr(md5(gram), i, 1)) - 1) "
    "* 16 ** (7 - i))) AS BIGINT) % 256"
)

CORPUS_QUALITY_NB_SCORE_ORACLE = f"""
    WITH toks AS (
        -- empty tokens (doubled/leading/trailing spaces) are dropped
        -- BEFORE bigram construction, exactly like the featurizer's
        -- filtered token array: bigrams pair ADJACENT SURVIVORS, not
        -- raw split positions (review r15 — the raw list diverges on
        -- any whitespace-irregular text)
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents),
    grams AS (
        SELECT doc_id, source, unnest(ts) AS gram FROM toks
        UNION ALL
        SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(ts) - 1),
                                     i -> ts[i] || ' ' || ts[i + 1])) AS gram
        FROM toks),
    feats AS (
        SELECT doc_id, source, CAST({_B} AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM grams WHERE gram <> '' GROUP BY 1, 2, 3),
    lab AS (
        SELECT DISTINCT doc_id,
               source IN ('src0', 'src1') AS pos
        FROM documents
        WHERE source IN ('src0', 'src1', 'src8', 'src9')),
    fl AS (SELECT f.*, lab.pos FROM feats f JOIN lab USING (doc_id)),
    pb AS (
        SELECT bucket,
               SUM(CASE WHEN pos THEN cnt ELSE 0 END) AS pb,
               SUM(CASE WHEN NOT pos THEN cnt ELSE 0 END) AS nb
        FROM fl GROUP BY bucket),
    tots AS (
        SELECT SUM(CASE WHEN pos THEN cnt ELSE 0 END) AS pt,
               SUM(CASE WHEN NOT pos THEN cnt ELSE 0 END) AS nt
        FROM fl),
    nd AS (
        SELECT COUNT(DISTINCT CASE WHEN pos THEN doc_id END) AS n_pos,
               COUNT(DISTINCT CASE WHEN NOT pos THEN doc_id END) AS n_neg
        FROM lab),
    w AS (
        SELECT s.bucket,
               LN((COALESCE(pb.pb, 0) + 1.0) / (t.pt + {_DIM}.0))
               - LN((COALESCE(pb.nb, 0) + 1.0) / (t.nt + {_DIM}.0)) AS weight
        FROM generate_series(0, {_DIM} - 1) s(bucket)
        LEFT JOIN pb ON pb.bucket = s.bucket, tots t),
    dots AS (
        SELECT f.doc_id,
               SUM(CAST(f.cnt * w.weight AS DECIMAL(28,18))) AS dot
        FROM feats f JOIN w ON f.bucket = w.bucket
        GROUP BY f.doc_id),
    scored AS (
        SELECT d.doc_id,
               COALESCE(CAST(dots.dot AS DOUBLE), 0.0)
               + LN(CAST(nd.n_pos AS DOUBLE) / nd.n_neg) AS logit
        FROM documents d LEFT JOIN dots USING (doc_id), nd)
    SELECT doc_id, ROUND(logit, 6) AS logit,
           ROUND(1.0 / (1.0 + EXP(-logit)), 6) AS score
    FROM scored ORDER BY doc_id
"""


def corpus_quality_nb_score_spark(spark, sf_dir):
    """The exact plan that registers in r18 (lift verbatim)."""
    from cassandrastack_spark.llm.classifier import (
        hashed_gram_features,
        linear_text_score,
        nb_logodds_weights,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seed = d.filter(
        F.col("source").isin("src0", "src1", "src8", "src9")
    ).select(
        "doc_id", F.col("source").isin("src0", "src1").alias("is_pos")
    )
    feats = hashed_gram_features(d, "doc_id", "text", _DIM)
    w = nb_logodds_weights(feats, seed, "doc_id", "is_pos", _DIM)
    return (
        linear_text_score(d, w, "doc_id", "text")
        .select(
            "doc_id",
            F.round("logit", 6).alias("logit"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("doc_id")
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("customer", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    yield con
    con.close()


def _compare(got, want):
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    for col in got.columns:
        assert got[col].tolist() == want[col].tolist(), col


def test_er_fuzzy_customer_pairs_matches_staged_oracle(spark, duck):
    got = er_fuzzy_customer_pairs_spark(spark, SF).toPandas()
    want = duck.execute(ER_FUZZY_CUSTOMER_PAIRS_ORACLE).df()
    _compare(got, want)
    # non-trivial: serial-number names produce a real pair set, all at
    # distance exactly 1 (names are unique, so no distance-0 rows)
    assert len(got) > 100
    assert (got["dist"] == 1).all()


def test_corpus_quality_nb_score_matches_staged_oracle(spark, duck):
    got = corpus_quality_nb_score_spark(spark, SF).toPandas()
    want = duck.execute(CORPUS_QUALITY_NB_SCORE_ORACLE).df()
    _compare(got, want)
    # every document scores (bias-only for empty text), scores are
    # probabilities, and the model actually separates its own seed:
    # mean positive-seed score above mean negative-seed score
    assert (got["score"] > 0).all() and (got["score"] < 1).all()
    import duckdb as _d  # seed means via the same fixture

    src = duck.execute(
        "SELECT doc_id, source FROM documents"
    ).df().set_index("doc_id")["source"]
    g = got.set_index("doc_id")
    pos = g.loc[src[src.isin(["src0", "src1"])].index, "score"].mean()
    neg = g.loc[src[src.isin(["src8", "src9"])].index, "score"].mean()
    assert pos > neg
