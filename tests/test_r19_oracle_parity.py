"""Pre-validated oracle parity for the r15-staged, r19+-registering
query (staged-query discipline; registration lands when the window
arithmetic frees a slot — the r15-r18 windows are spoken for, and the
steady-state budget at N=194 is ~1 slot/round):

``er_fuzzy_components`` — the entity-resolution pipeline END-TO-END:
fuzzy name pairs (operators/fuzzy.py, FastSS deletion blocking +
levenshtein verify) restricted to candidates sharing a STRUCTURED
blocking attribute (same nation — the classic ER practice: block on
the reliable column, fuzzy-match the dirty one), resolved through
``dedup_components`` (large-star/small-star escalation) into entity
clusters with their sizes. This is the composition row the fuzzy
family exists for: pairs alone are not entities — transitive closure
is (a~b, b~c => one customer record in triplicate).

The same-nation restriction is what makes the fixture MEANINGFUL: the
unrestricted d<=1 pair graph on serial-number names is one giant
chained component (every name reachable through digit neighbors),
while blocking on nation yields 284 clusters of size 2-17 at sf0.01 —
real cluster structure, every engine-side stage exercised.

The oracle rebuilds the pairs by brute force (the strongest blocking
gate) and the components by a recursive-CTE transitive closure —
tractable exactly because the blocked components are small; component
ids are MIN member ids on both engines, cluster sizes are integers,
so the gate is bit-exact with no rounding anywhere.

Staging price (sf0.1, idle host, min-of-2 standalone): 7.3 s — down
from 11.7 s for the hand-rolled first draft once ``block_cols``
landed (the candidate join keys (nation, variant) from the start, so
candidates shrink AND the two post-hoc key-expansion joins
disappear). Cost splits ~evenly between the fuzzy candidate stage and
the star component rounds, both plan-family fixed overhead, not data
(the graph is 10,435 edges); the registered dedup_cluster_components
precedent prices ~1.5-2x lower in-sweep than standalone. Expected
in-sweep ~4-6 s — comfortably inside the 10 s envelope; if a slow
tier disagrees at registration, segment-bound or split per the
dq_profile_lineitem_approx precedent.
"""

import os

import duckdb
import pytest

from pyspark.sql import Window, functions as F

SF = "/root/testdata/sf0.001"

ER_FUZZY_COMPONENTS_ORACLE = """
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


def er_fuzzy_components_spark(spark, sf_dir):
    """The exact plan that registers when a slot frees (lift verbatim)."""
    from cassandrastack_spark.llm.dedup import dedup_components
    from cassandrastack_spark.operators.fuzzy import fuzzy_self_pairs

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    # structured + fuzzy blocking in one call: candidates form only
    # within a nation, and the variant join is keyed (nation, variant)
    # from the start — no post-hoc expansion joins
    pairs = fuzzy_self_pairs(
        c, "c_custkey", "c_name", max_dist=1,
        block_cols=("c_nationkey",),
    ).select(
        F.col("key_a").alias("a_id"), F.col("key_b").alias("b_id")
    )
    # star from round one: digit-neighbor name chains give clusters
    # whose DIAMETER tracks their size (up to ~16 here), which is
    # exactly the deep-chain case the large-star/small-star rounds
    # exist for — "auto" pays 4 label-propagation probe rounds before
    # switching (6.7 s vs 4.1 s measured on this graph at sf0.1)
    comp = dedup_components(pairs, algorithm="star")
    w = Window.partitionBy("component")
    return (
        comp.select(
            F.col("id").cast("bigint").alias("custkey"),
            F.col("component").cast("bigint").alias("component"),
            F.count("*").over(w).cast("bigint").alias("cluster_size"),
        )
        .orderBy("custkey")
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{SF}/customer.parquet'"
    )
    yield con
    con.close()


def test_er_fuzzy_components_matches_staged_oracle(spark, duck):
    got = er_fuzzy_components_spark(spark, SF).toPandas()
    want = duck.execute(ER_FUZZY_COMPONENTS_ORACLE).df()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    for col in got.columns:
        assert got[col].tolist() == want[col].tolist(), col
    # the structure the same-nation blocking exists to produce: many
    # clusters, non-trivial sizes, and TRANSITIVITY actually exercised
    # (at least one cluster larger than a bare pair — components, not
    # pairs, are the row's claim)
    n_components = got["component"].nunique()
    assert n_components > 5
    assert (got["cluster_size"] >= 2).all()
    assert (got["cluster_size"] > 2).any()


# Second staged query: the fuzzy family's INDEXED twin —
# `er_fuzzy_match_indexed`: an incoming batch (every 10th customer)
# fuzzy-matched against the PERSISTED deletion-variant index of the
# whole corpus (operators/fuzzy.py build/extend/probe_fuzzy_index).
# The build exercises the extend path too (index built on two thirds,
# extended with the last third — the ann_index_extend_probe shape);
# the oracle is the brute-force probe x corpus join, blind to the
# storage split, which is the point: however the artifact was
# accreted, the CURRENT corpus answers. Self-matches (a probe finding
# its own corpus row at distance 0) are kept — this is
# match-against-corpus, not self-dedup. All integers, no rounding.
ER_FUZZY_MATCH_INDEXED_ORACLE = """
    SELECT p.c_custkey AS probe_key, c.c_custkey AS key,
           CAST(levenshtein(p.c_name, c.c_name) AS INT) AS dist
    FROM customer p, customer c
    WHERE p.c_custkey % 10 = 0
      AND abs(length(p.c_name) - length(c.c_name)) <= 1
      AND levenshtein(p.c_name, c.c_name) <= 1
    ORDER BY probe_key, key
"""

def er_fuzzy_match_indexed_spark(spark, sf_dir):
    """The exact plan that registers when a slot frees (lift verbatim —
    the index is a persisted artifact, built once per process by
    sources.io.table_artifact like every other indexed twin's)."""
    from cassandrastack_spark.operators.fuzzy import (
        build_fuzzy_index,
        extend_fuzzy_index,
        probe_fuzzy_index,
    )
    from cassandrastack_spark.sources.io import table_artifact

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )

    def build(root):
        path = os.path.join(root, "idx")
        build_fuzzy_index(
            c.filter(F.col("c_custkey") % 3 != 0),
            path, "c_custkey", "c_name", max_dist=1,
        )
        extend_fuzzy_index(
            c.filter(F.col("c_custkey") % 3 == 0),
            path, "c_custkey", "c_name",
        )

    probes = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("probe_key"), F.col("c_name").alias("q")
    )
    hits = probe_fuzzy_index(
        spark,
        os.path.join(table_artifact(sf_dir, "fuzzy_idx", build), "idx"),
        probes, "q",
    )
    return (
        hits.join(probes, hits["s_probe"] == probes["q"])
        .select(
            "probe_key",
            F.col("key").cast("bigint").alias("key"),
            "dist",
        )
        .orderBy("probe_key", "key")
    )


def test_er_fuzzy_match_indexed_matches_staged_oracle(spark, duck):
    got = er_fuzzy_match_indexed_spark(spark, SF).toPandas()
    want = duck.execute(ER_FUZZY_MATCH_INDEXED_ORACLE).df()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    for col in got.columns:
        assert got[col].tolist() == want[col].tolist(), col
    # non-trivial on both regimes: every probe self-matches at 0, and
    # fuzzy neighbors exist
    assert (got["dist"] == 0).any()
    assert (got["dist"] == 1).any()
