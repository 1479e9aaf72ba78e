"""Pre-validated oracle parity for the r16-staged, r20+-registering
queries (staged-query discipline; per the r16 drain plan in
queries/__init__.py, the r17-r20 windows have exactly two free
registration slots, both spoken for — decontam_semantic r17,
er_fuzzy_customer_pairs r18 — so these rows queue BEHIND
er_fuzzy_components and register when a maintenance round or a
retirement trade frees a slot. Staging depth is never capped, only
registration is.)

Staged here, the r16 novelty set — the streaming ER production loop
(VERDICT r15 #6 and its cluster-level completion), the streaming
quality-filter trainer, and the threshold-selection row:
``stream_fuzzy_ingest_dedup`` (the pair gate),
``stream_er_components`` (the transitive closure those pairs imply,
maintained incrementally by streaming/ops.py monitor_components —
batching-invariant by the min-root/label-preserving-contraction
argument, so it gates against the SAME recursive-CTE oracle as the
batch er_fuzzy_components), ``stream_nb_quality_score``
(monitor_nb_counts + nb_weights_state + linear_text_score — additive
class counts under the marker guard resolve to a model bit-identical
to the batch trainer's, so it gates against the SAME oracle as the
staged corpus_quality_nb_score), and ``classifier_pr_curve``
(llm/classifier.py pr_curve — the step between training a filter and
running it corpus-wide: which threshold hits the target precision;
integer counts + single IEEE divisions, the integer-ratio oracle
rule).

``stream_fuzzy_ingest_dedup`` — the streaming ER maintenance loop
END-TO-END (streaming/ops.py ingest_with_fuzzy_dedup, VERDICT r15 #6):
phase 1 streams the md5-even half of customers through the loop's
first-batch branch, seeding the accepted store and the persisted
deletion-variant index; phase 2 streams the md5-odd half, which
probes the STORED index (only the batch is exploded), rejects rows
within 1 edit of an ACCEPTED record in the same nation, and appends +
extends with survivors. The result is the full accepted store.

Oracle-capable because the two-phase, one-file-per-phase layout pins
the batch boundaries (each availableNow run sees exactly one new
file, so each phase is ONE micro-batch — acceptance inside an online
dedup is order-dependent by design, and the fixture makes the order a
design constant): accepted = exact-collapsed even half + odd rows
with no same-nation even neighbor at levenshtein <= 1. Both engines'
levenshtein are the classic unit-cost DP on these ASCII names
(the er_fuzzy_customer_pairs precedent), keys are integers, and the
deletion-variant blocking is exhaustive at tau=1 (FastSS guarantee,
brute-force-pinned in tests/test_fuzzy.py) — bit-exact, no rounding
anywhere.

Nation blocking is what makes the fixture meaningful (the
er_fuzzy_components insight): the unblocked d<=1 graph on
serial-number names chains nearly everything, while within-nation
neighborhoods reject a real-but-bounded subset — both accept and
reject paths carry rows at both SFs.

All four validated green at sf0.001 AND sf0.01 at staging time (this
file runs the sf0.001 legs in-suite; the sf0.01 legs: ingest 1199
accepted of 1500 — 1200 seeded+odd-survivors vs 301 same-nation
rejections — components 989 nodes in 284 clusters of size 2-17
(equal to the batch er_fuzzy_components structure exactly, as the
invariance argument demands), nb scores for all 500 docs, and a
100-row PR curve, each hash-exact vs DuckDB). sf0.1 prices
(local[32], measured at staging time): see BENCH_NOTES r16
(classifier_pr_curve: 1.7 s min-of-2 — one tokenize + one
distinct-score window).
"""

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{SF}/customer.parquet'"
    )
    yield con
    con.close()


def stream_fuzzy_ingest_dedup_spark(spark, sf_dir):
    """The exact plan that registers when a slot frees (lift verbatim —
    the accepted store is a persisted artifact, built once per process
    by sources.io.table_artifact like the monitor states)."""
    from cassandrastack_spark.sources.io import table_artifact
    from cassandrastack_spark.streaming.ops import ingest_with_fuzzy_dedup

    def build(root):
        src_dir = os.path.join(root, "in")
        os.makedirs(src_dir)
        cust = (
            spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select(
                F.col("c_custkey").cast("long").alias("key"),
                F.col("c_name").alias("name"),
                F.col("c_nationkey").cast("long").alias("nation"),
            )
        )
        half = F.substring(F.md5(F.col("key").cast("string")), 1, 1) < "8"

        def _drop(df, fname):
            pdf = df.toPandas()
            tbl = pa.Table.from_pandas(
                pdf,
                schema=pa.schema(
                    [("key", pa.int64()), ("name", pa.string()),
                     ("nation", pa.int64())]
                ),
                preserve_index=False,
            )
            pq.write_table(tbl, os.path.join(src_dir, fname))

        def _run():
            src = (
                spark.readStream.schema("key long, name string, nation long")
                .parquet(src_dir)
            )
            q = ingest_with_fuzzy_dedup(
                src,
                os.path.join(root, "index"),
                os.path.join(root, "accepted"),
                key_col="key", str_col="name", max_dist=1,
                block_cols=("nation",),
                checkpoint=os.path.join(root, "ckpt"),
            )
            if not q.awaitTermination(600):
                q.stop()  # no zombie ingest skewing later timings
                raise RuntimeError("fuzzy ingest did not finish")

        _drop(cust.filter(half), "b1.parquet")
        _run()
        _drop(cust.filter(~half), "b2.parquet")
        _run()

    root = table_artifact(sf_dir, "fzi_state", build)
    return (
        spark.read.parquet(os.path.join(root, "accepted"))
        .select("key", "name", "nation")
        .orderBy("key")
    )


# Phase boundaries are design constants (one file per phase), so the
# oracle rebuilds phase 1 (exact collapse: lowest key per
# (nation, name)) and phase 2 (odd rows with no same-nation accepted
# neighbor at levenshtein <= 1) directly; integer keys, raw strings —
# nothing to round.
STREAM_FUZZY_INGEST_DEDUP_ORACLE = """
    WITH c AS (
        SELECT CAST(c_custkey AS BIGINT) AS key, c_name AS name,
               CAST(c_nationkey AS BIGINT) AS nation,
               substr(md5(CAST(CAST(c_custkey AS BIGINT) AS VARCHAR)),
                      1, 1) < '8' AS seed
        FROM customer),
    s AS (
        SELECT key, name, nation FROM c WHERE seed
        QUALIFY row_number() OVER (
            PARTITION BY nation, name ORDER BY key) = 1),
    o AS (
        SELECT key, name, nation FROM c WHERE NOT seed
        QUALIFY row_number() OVER (
            PARTITION BY nation, name ORDER BY key) = 1),
    acc2 AS (
        SELECT o.key, o.name, o.nation FROM o
        WHERE NOT EXISTS (
            SELECT 1 FROM s
            WHERE s.nation = o.nation
              AND levenshtein(s.name, o.name) <= 1))
    SELECT key, name, nation FROM s
    UNION ALL SELECT key, name, nation FROM acc2
    ORDER BY key
"""


def _compare(got, want):
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    for col in got.columns:
        assert got[col].tolist() == want[col].tolist(), col


def test_stream_fuzzy_ingest_dedup_matches_staged_oracle(spark, duck):
    got = stream_fuzzy_ingest_dedup_spark(spark, SF).toPandas()
    want = duck.execute(STREAM_FUZZY_INGEST_DEDUP_ORACLE).df()
    _compare(got, want)
    # both paths must carry rows on the fixture: some odd rows accepted
    # (novel within their nation), some rejected (a same-nation seed
    # neighbor within 1 edit exists)
    n_all = duck.execute("SELECT COUNT(*) FROM customer").fetchone()[0]
    n_seed = duck.execute(
        "SELECT COUNT(*) FROM customer "
        "WHERE substr(md5(CAST(CAST(c_custkey AS BIGINT) AS VARCHAR)),"
        "1, 1) < '8'"
    ).fetchone()[0]
    assert n_seed < len(got) < n_all


def stream_er_components_spark(spark, sf_dir):
    """The exact plan that registers when a slot frees (lift verbatim;
    the state is a sources.io.table_artifact) — the streaming twin of
    er_fuzzy_components: the nation-blocked fuzzy pair set streams
    through monitor_components in two md5-split drops (the second drop's
    edges bridge components the first drop left separate, exercising
    the contraction path), and components_state resolves the persisted
    mapping to (custkey, component, cluster_size). The result is
    batching-invariant by the min-root/label-preserving-contraction
    argument, so it equals the batch closure — the SAME recursive-CTE
    oracle er_fuzzy_components stages against (deliberately shared:
    the streamed state must land on the identical clusters)."""
    from pyspark.sql import Window

    from cassandrastack_spark.operators.fuzzy import fuzzy_self_pairs
    from cassandrastack_spark.sources.io import table_artifact
    from cassandrastack_spark.streaming.ops import (
        components_state,
        monitor_components,
    )

    def build(root):
        src_dir = os.path.join(root, "in")
        os.makedirs(src_dir)
        c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_name", "c_nationkey"
        )
        # collect the pair set ONCE and split driver-side: the
        # nation-blocked fuzzy pair generation is the expensive leg
        # (~5 s at sf0.1) and an unpersisted frame would re-run it per
        # half (review r16); the pandas md5 reproduces
        # F.md5(concat_ws('_', a, b)) byte-for-byte on these ints
        import hashlib

        pairs = (
            fuzzy_self_pairs(
                c, "c_custkey", "c_name", max_dist=1,
                block_cols=("c_nationkey",),
            )
            .select(
                F.col("key_a").cast("long").alias("a_id"),
                F.col("key_b").cast("long").alias("b_id"),
            )
            .toPandas()
        )
        in_half = pairs.apply(
            lambda r: hashlib.md5(
                f"{r.a_id}_{r.b_id}".encode()
            ).hexdigest()[0] < "8",
            axis=1,
        )

        def _drop(pdf, fname):
            tbl = pa.Table.from_pandas(
                pdf,
                schema=pa.schema(
                    [("a_id", pa.int64()), ("b_id", pa.int64())]
                ),
                preserve_index=False,
            )
            pq.write_table(tbl, os.path.join(src_dir, fname))

        def _run():
            src = (
                spark.readStream.schema("a_id long, b_id long")
                .parquet(src_dir)
            )
            q = monitor_components(
                src,
                os.path.join(root, "state"),
                # star from round one — the same measured choice the
                # batch er_fuzzy_components plan makes on this
                # digit-neighbor name-chain graph (auto pays 4 wasted
                # label-propagation probe rounds first)
                algorithm="star",
                checkpoint=os.path.join(root, "ckpt"),
            )
            if not q.awaitTermination(600):
                q.stop()  # no zombie ingest skewing later timings
                raise RuntimeError("components ingest did not finish")

        _drop(pairs[in_half], "b1.parquet")
        _run()
        _drop(pairs[~in_half], "b2.parquet")
        _run()

    root = table_artifact(sf_dir, "sec_state", build)
    m = components_state(spark, os.path.join(root, "state"))
    w = Window.partitionBy("comp")
    return (
        m.select(
            F.col("node").cast("bigint").alias("custkey"),
            F.col("comp").cast("bigint").alias("component"),
            F.count("*").over(w).cast("bigint").alias("cluster_size"),
        )
        .orderBy("custkey")
    )


# Deliberately IDENTICAL to tests/test_r19_oracle_parity.py's
# ER_FUZZY_COMPONENTS_ORACLE (the batch twin): the streamed state must
# land on the same clusters as the batch closure — that equality IS
# the row's claim. Brute-force pairs + recursive-CTE reachability,
# tractable because nation-blocked components are small; min member
# ids and integer sizes, bit-exact with no rounding.
STREAM_ER_COMPONENTS_ORACLE = """
    WITH RECURSIVE pairs AS (
        SELECT a.c_custkey AS a, b.c_custkey AS b
        FROM customer a, customer b
        WHERE a.c_custkey < b.c_custkey
          AND a.c_nationkey = b.c_nationkey
          AND abs(length(a.c_name) - length(b.c_name)) <= 1
          AND levenshtein(a.c_name, b.c_name) <= 1),
    edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL
        SELECT b, a FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
    comp AS (
        SELECT a AS custkey, MIN(b) AS component
        FROM reach GROUP BY a)
    SELECT custkey, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
               AS cluster_size
    FROM comp
    ORDER BY custkey
"""


def test_stream_er_components_matches_staged_oracle(spark, duck):
    got = stream_er_components_spark(spark, SF).toPandas()
    want = duck.execute(STREAM_ER_COMPONENTS_ORACLE).df()
    _compare(got, want)
    # real cluster structure on the fixture: multiple components, at
    # least one spanning more than one pair (transitive closure did
    # work the pair set alone cannot express)
    assert got["component"].nunique() > 1
    assert got["cluster_size"].max() > 2


# bucket arithmetic shared with tests/test_r18_oracle_parity.py's
# corpus_quality_nb_score (dim=256 keeps the weight table readable
# while forcing real collisions)
_NB_DIM = 256


def stream_nb_quality_score_spark(spark, sf_dir):
    """The exact plan that registers when a slot frees (lift verbatim;
    the state is a sources.io.table_artifact) — the streaming twin of
    corpus_quality_nb_score: the labeled seed (src0/src1 positive vs
    src8/src9 negative) streams through monitor_nb_counts in two
    md5-split drops, nb_weights_state resolves the accumulated counts
    to the model artifact, and linear_text_score scores EVERY
    document. Additive cells + exactly-once per-run delivery + the
    shared _assemble_nb_weights arithmetic make the streamed model
    bit-identical to the batch-trained one, so this row gates against
    the SAME oracle as its batch twin — that equality IS the row's
    claim ('the filter retrained on a stream scores exactly like the
    filter trained in batch')."""
    import hashlib

    from cassandrastack_spark.llm.classifier import linear_text_score
    from cassandrastack_spark.sources.io import table_artifact
    from cassandrastack_spark.streaming.ops import (
        monitor_nb_counts,
        nb_weights_state,
    )

    def build(root):
        src_dir = os.path.join(root, "in")
        os.makedirs(src_dir)
        seed = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("source").isin("src0", "src1", "src8", "src9"))
            .select(
                "doc_id", "text",
                F.col("source").isin("src0", "src1").alias("is_pos"),
            )
            .toPandas()
        )
        in_half = seed["doc_id"].map(
            lambda i: hashlib.md5(str(i).encode()).hexdigest()[0] < "8"
        )

        def _drop(pdf, fname):
            tbl = pa.Table.from_pandas(
                pdf,
                schema=pa.schema(
                    [("doc_id", pa.int64()), ("text", pa.string()),
                     ("is_pos", pa.bool_())]
                ),
                preserve_index=False,
            )
            pq.write_table(tbl, os.path.join(src_dir, fname))

        def _run():
            src = (
                spark.readStream.schema(
                    "doc_id long, text string, is_pos boolean"
                )
                .parquet(src_dir)
            )
            q = monitor_nb_counts(
                src, os.path.join(root, "state"), dim=_NB_DIM,
                checkpoint=os.path.join(root, "ckpt"),
            )
            if not q.awaitTermination(600):
                q.stop()  # no zombie ingest skewing later timings
                raise RuntimeError("nb ingest did not finish")

        _drop(seed[in_half], "b1.parquet")
        _run()
        _drop(seed[~in_half], "b2.parquet")
        _run()

    root = table_artifact(sf_dir, "nbw_state", build)
    w = nb_weights_state(spark, os.path.join(root, "state"))
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        linear_text_score(d, w, "doc_id", "text")
        .select(
            "doc_id",
            F.round("logit", 6).alias("logit"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("doc_id")
    )


def test_stream_nb_quality_score_matches_staged_oracle(spark, duck):
    # the oracle is DELIBERATELY the batch twin's
    # (tests/test_r18_oracle_parity.py CORPUS_QUALITY_NB_SCORE_ORACLE,
    # imported rather than re-stated so the two cannot drift while
    # both are staged; the registering round inlines it): the streamed
    # trainer must land on the identical model
    from test_r18_oracle_parity import CORPUS_QUALITY_NB_SCORE_ORACLE

    duck.execute(
        f"CREATE VIEW IF NOT EXISTS documents AS "
        f"SELECT * FROM '{SF}/documents.parquet'"
    )
    got = stream_nb_quality_score_spark(spark, SF).toPandas()
    want = duck.execute(CORPUS_QUALITY_NB_SCORE_ORACLE).df()
    _compare(got, want)
    # the streamed model separates its own seed, same as the batch twin
    src = duck.execute(
        "SELECT doc_id, source FROM documents"
    ).df().set_index("doc_id")["source"]
    g = got.set_index("doc_id")
    pos = g.loc[src[src.isin(["src0", "src1"])].index, "score"].mean()
    neg = g.loc[src[src.isin(["src8", "src9"])].index, "score"].mean()
    assert pos > neg


def classifier_pr_curve_spark(spark, sf_dir):
    """The exact plan that registers when a slot frees (lift verbatim)
    — the threshold-selection step of the quality-filter workflow as a
    registered row: score every seed document with the surface quality
    model (functions/text.py quality_score_linear, 6-decimal rounded
    so the distinct-score space is the curve's row count), label by
    source (src0/src1 positive vs src8/src9 negative — the established
    seed split), and walk the precision-recall curve with
    llm/classifier.py pr_curve. Bit-exact: tp/fp/fn are integers,
    precision/recall/f1 single IEEE divisions of integers (the
    integer-ratio oracle rule), thresholds are the rounded scores
    themselves."""
    from cassandrastack_spark.functions.text import quality_score_linear
    from cassandrastack_spark.llm.classifier import pr_curve

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = d.filter(
        F.col("source").isin("src0", "src1", "src8", "src9")
    ).select(
        F.round(quality_score_linear("text"), 6).alias("score"),
        F.col("source").isin("src0", "src1").alias("is_pos"),
    )
    return pr_curve(labeled, "score", "is_pos")


# the score CTE is the corpus_score_drift_psi oracle's (the one
# registered quality_score_linear reconstruction, green since r15);
# the curve walk is one cumulative window over distinct scores
CLASSIFIER_PR_CURVE_ORACLE = """
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             (LENGTH(text) - (len(string_split(text, ' ')) - 1))
                 / len(string_split(text, ' ')) AS awl,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'a', 'of', 'and')))
                 / len(string_split(text, ' ')) AS sr
      FROM documents),
    s AS (
      SELECT doc_id,
             ROUND(1.0 / (1.0 + EXP(-(-2.0 + 0.8 * LN(1.0 + n_tokens)
                                      - 0.15 * awl + 6.0 * sr))),
                   6) AS score
      FROM m),
    lab AS (
      SELECT s.score, d.source IN ('src0', 'src1') AS pos
      FROM s JOIN documents d USING (doc_id)
      WHERE d.source IN ('src0', 'src1', 'src8', 'src9')),
    ps AS (
      SELECT score,
             SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
             SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS n
      FROM lab GROUP BY score),
    c AS (
      SELECT score AS threshold,
             CAST(SUM(p) OVER (ORDER BY score DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
             CAST(SUM(n) OVER (ORDER BY score DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp,
             CAST((SELECT SUM(p) FROM ps) AS BIGINT) AS tp_all
      FROM ps)
    SELECT threshold, tp, fp,
           CAST(tp_all - tp AS BIGINT) AS fn,
           tp / (tp + fp) AS "precision",
           tp / tp_all AS recall,
           2.0 * tp / (2.0 * tp + fp + (tp_all - tp)) AS f1
    FROM c ORDER BY threshold DESC
"""


def test_classifier_pr_curve_matches_staged_oracle(spark, duck):
    duck.execute(
        f"CREATE VIEW IF NOT EXISTS documents AS "
        f"SELECT * FROM '{SF}/documents.parquet'"
    )
    got = classifier_pr_curve_spark(spark, SF).toPandas()
    want = duck.execute(CLASSIFIER_PR_CURVE_ORACLE).df()
    _compare(got, want)
    # a real curve: monotone tp, precision spans a genuine range, and
    # the seed is separable enough that some threshold beats the base
    # rate while full recall is reached at the bottom
    assert got["tp"].is_monotonic_increasing
    assert got["recall"].iloc[-1] == 1.0
    base_rate = got["tp"].iloc[-1] / (
        got["tp"].iloc[-1] + got["fp"].iloc[-1]
    )
    assert got["precision"].max() > base_rate
