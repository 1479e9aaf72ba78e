"""Fuzzy key join (operators/fuzzy.py): under BOTH blocking schemes
(FastSS deletion neighborhoods and PassJoin segments) the string-pair
set must EXACTLY equal a python brute-force edit-distance model
(blocking completeness is the whole claim — a missed pair is the one
failure a candidates-then-verify design must never have), across
insertions, deletions, substitutions, short strings (the sub-``tau+1``
path whose empty segments void PassJoin's pigeonhole), non-ASCII
characters, and both tau=1 and tau=2; the deletes blocker's block
sizes stay neighborhood-bounded on shared-prefix key families; the
key-level wrappers expand duplicates and order keys as documented
(never a self-edge); ``block_cols`` restricts every match — fuzzy and
exact-duplicate — to equal block values under both blockers; and the
persisted variant index round-trips build/extend/probe/compact with
per-(block, key) last-writer epochs, replay invariance, a
crash-window-invisible extend, probe-side partition pruning
(plan-asserted), and a probe tau that may shrink but never exceed the
build tau."""

import pytest

from pyspark.sql import functions as F

from cassandrastack_spark.operators.fuzzy import (
    fuzzy_key_join,
    fuzzy_self_pairs,
    fuzzy_string_pairs,
)


def _edit(a: str, b: str) -> int:
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
        prev = cur
    return prev[n]


# a deliberately adversarial vocabulary: substitutions mid-segment,
# edits at segment boundaries, pure insert/delete partners, short
# strings (len < tau+1), equal-modulo-case pairs, and unrelated noise
WORDS = [
    "smith", "smyth", "smithe", "mith", "ssmith",
    "jones", "janes", "jones ", "jone",
    "a", "b", "ab", "ba", "", "x",
    "customer001", "customer002", "custome001", "customer0012",
    "wolfe", "wolf", "rolfe",
    # non-ASCII: levenshtein/substring/length are CHARACTER-level on
    # both engines and in the python model — an accented char is one
    # edit, not two bytes
    "café", "cafe", "caffé", "müller", "mueller",
]
WORDS = [w for w in WORDS if w != ""]  # NULL/empty handled separately


def _brute_self(words, tau):
    ws = sorted(set(words))
    return sorted(
        (x, y, _edit(x, y))
        for i, x in enumerate(ws)
        for y in ws[i + 1:]
        if _edit(x, y) <= tau
    )


def _brute_cross(aw, bw, tau):
    return sorted(
        (x, y, _edit(x, y))
        for x in sorted(set(aw))
        for y in sorted(set(bw))
        if _edit(x, y) <= tau
    )


@pytest.mark.parametrize("tau", [1, 2])
@pytest.mark.parametrize("blocker", ["deletes", "passjoin"])
def test_fuzzy_string_pairs_self_matches_bruteforce(spark, tau, blocker):
    df = spark.createDataFrame([(w,) for w in WORDS], "name string")
    got = sorted(
        (r.s_a, r.s_b, r.dist)
        for r in fuzzy_string_pairs(
            df, None, "name", max_dist=tau, blocker=blocker
        ).collect()
    )
    assert got == _brute_self(WORDS, tau)
    assert got, "fixture must produce matches"


@pytest.mark.parametrize("tau", [1, 2])
@pytest.mark.parametrize("blocker", ["deletes", "passjoin"])
def test_fuzzy_string_pairs_cross_matches_bruteforce(spark, tau, blocker):
    aw = WORDS[::2]
    bw = WORDS[1::2] + ["smith"]  # exact-equal cross match at dist 0
    a = spark.createDataFrame([(w,) for w in aw], "na string")
    b = spark.createDataFrame([(w,) for w in bw], "nb string")
    got = sorted(
        (r.s_a, r.s_b, r.dist)
        for r in fuzzy_string_pairs(
            a, b, "na", "nb", max_dist=tau, blocker=blocker
        ).collect()
    )
    assert got == _brute_cross(aw, bw, tau)
    assert any(d == 0 for _, _, d in got), "dist-0 exact cross match"


def test_fuzzy_string_pairs_randomized_against_model(spark):
    # pseudo-random strings over a 3-letter alphabet: maximal collision
    # pressure on the segment blocks without RNG (deterministic mix)
    words = []
    for i in range(160):
        n = 1 + (i * 7) % 9
        words.append(
            "".join("abc"[(i * 31 + j * 17 + (i + 1) * j) % 3] for j in range(n))
        )
    # guaranteed near-misses: one insert, one delete, one substitution
    # per sampled base word, so every tau has non-trivial matches
    for w in words[::13]:
        words.append(w + "a")
        if len(w) > 1:
            words.append(w[1:])
        words.append("c" + w[1:])
    df = spark.createDataFrame([(w,) for w in words], "name string")
    for tau in (1, 2):
        for blocker in ("deletes", "passjoin"):
            got = sorted(
                (r.s_a, r.s_b, r.dist)
                for r in fuzzy_string_pairs(
                    df, None, "name", max_dist=tau, blocker=blocker
                ).collect()
            )
            assert got == _brute_self(words, tau), f"tau={tau} {blocker}"
            assert got


def test_fuzzy_string_pairs_nulls_and_validation(spark):
    df = spark.createDataFrame(
        [("smith",), (None,), ("smyth",)], "name string"
    )
    got = fuzzy_string_pairs(df, None, "name", max_dist=1).collect()
    assert [(r.s_a, r.s_b, r.dist) for r in got] == [("smith", "smyth", 1)]
    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_string_pairs(df, None, "name", max_dist=0)
    with pytest.raises(ValueError, match="blocker"):
        fuzzy_string_pairs(df, None, "name", blocker="sorted-neighborhood")
    # the deletes variant table is ~L^tau per string: refuse silly tau
    with pytest.raises(ValueError, match="passjoin"):
        fuzzy_string_pairs(df, None, "name", max_dist=3, blocker="deletes")


def test_deletes_blocker_has_no_hot_block_on_shared_prefixes(spark):
    """The shape the registered ER query runs on: serial-number keys
    sharing a long constant prefix. PassJoin's slot-0 segment is one
    corpus-wide block there (quadratic candidates); the deletes
    blocker's near-full-length variant keys must keep every block
    bounded by true near-match groups — asserted on the actual
    candidate counts, not just the final answer."""
    from cassandrastack_spark.operators.fuzzy import _deletes_blocks

    names = [f"Customer#{i:09d}" for i in range(400)]
    df = spark.createDataFrame([(w,) for w in names], "name string")
    got = sorted(
        (r.s_a, r.s_b, r.dist)
        for r in fuzzy_string_pairs(df, None, "name", max_dist=1).collect()
    )
    assert got == _brute_self(names, 1)
    # block-size audit: the largest variant block must stay tiny
    # relative to the corpus (true near-matches only), never O(n)
    from pyspark.sql import functions as FF

    strings = df.select(FF.col("name").alias("s")).distinct()
    biggest = (
        _deletes_blocks(strings, "s", "s", 1)
        .groupBy("variant")
        .count()
        .agg(FF.max("count"))
        .first()[0]
    )
    # largest true neighborhood here: the 22 names with at most one
    # nonzero digit all reach variant "Customer#00000000" — a genuine
    # near-match cluster, and still ~20x below the corpus size a
    # PassJoin prefix block would produce on these names
    assert biggest <= 25, biggest


def test_fuzzy_self_pairs_expands_keys_and_exact_dups(spark):
    df = spark.createDataFrame(
        [
            (1, "smith"),
            (2, "smyth"),
            (3, "smith"),   # exact duplicate of key 1
            (4, "zzzzzz"),
            (5, None),
        ],
        "id long, name string",
    )
    got = sorted(
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_self_pairs(df, "id", "name", max_dist=1).collect()
    )
    # (1,3) exact at 0; (1,2) and (2,3) fuzzy at 1; 4 and NULL match nothing
    assert got == [(1, 2, 1), (1, 3, 0), (2, 3, 1)]


def test_fuzzy_self_pairs_never_emits_self_edges(spark):
    """Review r15: a key whose own rows carry two near-duplicate
    strings must NOT emit a (k, k) self-edge — the documented contract
    is strictly key_a < key_b, and a downstream dedup_components
    consumer must never see self-loops."""
    df = spark.createDataFrame(
        [
            (1, "smith"),
            (1, "smyth"),   # same key, second near-duplicate string
            (2, "zzz"),
            (3, "smith"),
        ],
        "id long, name string",
    )
    got = sorted(
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_self_pairs(df, "id", "name", max_dist=1).collect()
    )
    assert all(a < b for a, b, _ in got)
    # key 1 still pairs with key 3 (exact via 'smith', fuzzy via
    # 'smyth' — distinct() keeps both distances as separate rows only
    # if they differ; here both routes exist at 0 and 1)
    assert (1, 3, 0) in got
    assert (1, 1, 1) not in got


def test_fuzzy_key_join_cross_table(spark):
    a = spark.createDataFrame(
        [(10, "wolfe"), (11, "jones"), (12, "qqqq")], "ka long, na string"
    )
    b = spark.createDataFrame(
        [(20, "wolf"), (21, "jones"), (22, "rolfe")], "kb long, nb string"
    )
    got = sorted(
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_key_join(
            a, b, "ka", "na", "kb", "nb", max_dist=1
        ).collect()
    )
    assert got == [(10, 20, 1), (10, 22, 1), (11, 21, 0)]


def test_fuzzy_join_plan_has_no_cartesian(spark):
    """The scale claim in the plan: candidates come from an equi-join
    on the (L, slot, seg) block key — never a nested-loop over the
    string pair space."""
    df = spark.createDataFrame([(w,) for w in WORDS], "name string")
    plan = (
        fuzzy_string_pairs(df, None, "name", max_dist=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_block_cols_restrict_matching_to_equal_blocks(spark):
    """Structured + fuzzy blocking combined (review r15 follow-on API):
    pairs form only within equal block values, a NULL block matches
    nothing, exact duplicates in different blocks are NOT pairs, and
    the result equals a per-block brute force exactly."""
    rows = [
        (1, "US", "smith"),
        (2, "US", "smyth"),     # fuzzy pair with 1 (same block)
        (3, "EU", "smith"),     # same name as 1, DIFFERENT block
        (4, "EU", "smyth"),     # fuzzy pair with 3 only
        (5, None, "smith"),     # NULL block: matches nothing
        (6, "US", "smith"),     # exact dup of 1 (same block)
    ]
    df = spark.createDataFrame(rows, "id long, region string, name string")

    # string level: (region, s_a, s_b, dist), within-block only
    got = sorted(
        (r.region, r.s_a, r.s_b, r.dist)
        for r in fuzzy_string_pairs(
            df, None, "name", max_dist=1, block_cols=("region",)
        ).collect()
    )
    want = []
    by_block = {}
    for _id, reg, nm in rows:
        if reg is not None:
            by_block.setdefault(reg, set()).add(nm)
    for reg, names in by_block.items():
        ns = sorted(names)
        for i, x in enumerate(ns):
            for y in ns[i + 1:]:
                d = _edit(x, y)
                if d <= 1:
                    want.append((reg, x, y, d))
    assert got == sorted(want)
    assert got  # non-trivial

    # key level: exact dups pair only within their block
    pairs = sorted(
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_self_pairs(
            df, "id", "name", max_dist=1, block_cols=("region",)
        ).collect()
    )
    # US: (1,2) fuzzy, (1,6) exact, (2,6) fuzzy; EU: (3,4) fuzzy;
    # NO (1,3) or (3,6) cross-block exact pairs, nothing for id 5
    assert pairs == [(1, 2, 1), (1, 6, 0), (2, 6, 1), (3, 4, 1)]

    # cross-table with blocks
    b = spark.createDataFrame(
        [(20, "US", "smith"), (21, "EU", "wolfe")],
        "bid long, region string, name string",
    )
    cross = sorted(
        (r.region, r.key_a, r.key_b, r.dist)
        for r in fuzzy_key_join(
            df, b, "id", "name", "bid", "name",
            max_dist=1, block_cols=("region",),
        ).collect()
    )
    assert cross == [
        ("US", 1, 20, 0),
        ("US", 2, 20, 1),
        ("US", 6, 20, 0),
    ]

    # reserved-name collision refuses loudly
    bad = df.withColumnRenamed("region", "variant")
    with pytest.raises(ValueError, match="collide"):
        fuzzy_string_pairs(
            bad, None, "name", max_dist=1, block_cols=("variant",)
        )


def test_block_cols_passjoin_matches_bruteforce(spark):
    """The passjoin blocker honors block_cols identically (the join
    key gains the block columns)."""
    rows = [(i, f"r{i % 3}", w) for i, w in enumerate(WORDS)]
    df = spark.createDataFrame(rows, "id long, region string, name string")
    got = sorted(
        (r.region, r.s_a, r.s_b, r.dist)
        for r in fuzzy_string_pairs(
            df, None, "name", max_dist=2,
            blocker="passjoin", block_cols=("region",),
        ).collect()
    )
    by_block = {}
    for _i, reg, nm in rows:
        by_block.setdefault(reg, set()).add(nm)
    want = sorted(
        (reg, x, y, _edit(x, y))
        for reg, names in by_block.items()
        for i, x in enumerate(sorted(names))
        for y in sorted(names)[i + 1:]
        if _edit(x, y) <= 2
    )
    assert got == want
    assert got


def test_fuzzy_index_probe_matches_direct_join_and_last_writer(
    spark, tmp_path
):
    """The persisted variant index (build/extend/probe/compact): a
    probe against the store must equal fuzzy_key_join against the
    CURRENT corpus (same completeness, indexed twin contract);
    re-ingesting a key with a changed string is last-writer (the old
    string's variants stop matching entirely); a byte-identical replay
    changes nothing; compaction drops superseded rows without moving
    any answer; probe tau may shrink but never exceed the build tau."""
    from cassandrastack_spark.operators.fuzzy import (
        build_fuzzy_index,
        compact_fuzzy_index,
        extend_fuzzy_index,
        probe_fuzzy_index,
    )

    corpus0 = spark.createDataFrame(
        [(1, "smith"), (2, "jones"), (3, "wolfe")],
        "id long, name string",
    )
    path = str(tmp_path / "fidx")
    build_fuzzy_index(corpus0, path, "id", "name", max_dist=1)

    probes = spark.createDataFrame(
        [("smyth",), ("wolf",), ("zzz",), (None,)], "q string"
    )

    def got():
        return sorted(
            (r.s_probe, r.key, r.s_index, r.dist)
            for r in probe_fuzzy_index(spark, path, probes, "q").collect()
        )

    def want(corpus):
        return sorted(
            (r.s_a, r.key_b, r.s_b, r.dist)
            for r in fuzzy_key_join(
                probes.toDF("name"), corpus, "name", "name", "id", "name",
                max_dist=1,
            ).collect()
        )

    assert got() == want(corpus0)
    assert got()  # non-trivial

    # extend with a new key AND a changed string for key 1
    batch = spark.createDataFrame(
        [(4, "smyth"), (1, "totally-different")], "id long, name string"
    )
    extend_fuzzy_index(batch, path, "id", "name")
    corpus1 = spark.createDataFrame(
        [(1, "totally-different"), (2, "jones"), (3, "wolfe"),
         (4, "smyth")],
        "id long, name string",
    )
    after_extend = got()
    assert after_extend == want(corpus1)
    # key 1's OLD string no longer matches anything
    assert all(k != 1 for _, k, _, _ in after_extend)

    # byte-identical replay: answers unchanged
    extend_fuzzy_index(batch, path, "id", "name")
    assert got() == after_extend

    # compaction: fewer stored rows, identical answers
    n_before = spark.read.parquet(path).count()
    compact_fuzzy_index(spark, path)
    assert spark.read.parquet(path).count() < n_before
    assert got() == after_extend

    # tighter probe tau is allowed; deeper fails loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exceeds the index"):
        probe_fuzzy_index(spark, path, probes, "q", max_dist=2)


def test_fuzzy_index_probe_tighter_tau_than_build(spark, tmp_path):
    """A probe at tau smaller than the build tau stays COMPLETE (the
    probe's <=tau variants intersect the index's deeper set for every
    true match) and exact (verify filters at the probe tau)."""
    from cassandrastack_spark.operators.fuzzy import (
        build_fuzzy_index,
        probe_fuzzy_index,
    )

    corpus_words = ["smith", "smyth", "smithee", "mit", "wolfe"]
    corpus = spark.createDataFrame(
        [(i, w) for i, w in enumerate(corpus_words)],
        "id long, name string",
    )
    path = str(tmp_path / "fidx_t2")
    build_fuzzy_index(corpus, path, "id", "name", max_dist=2)
    probes = spark.createDataFrame([("smits",), ("wolf",)], "q string")
    for tau in (1, 2):
        got = sorted(
            (r.s_probe, r.s_index, r.dist)
            for r in probe_fuzzy_index(
                spark, path, probes, "q", max_dist=tau
            ).collect()
        )
        want = sorted(
            (q, w, _edit(q, w))
            for q in ("smits", "wolf")
            for w in corpus_words
            if _edit(q, w) <= tau
        )
        assert got == want, tau
        assert got


def test_fuzzy_index_with_block_cols(spark, tmp_path):
    """Blocked index: matches form only within equal block values, and
    the block columns ride through build/extend/probe."""
    from cassandrastack_spark.operators.fuzzy import (
        build_fuzzy_index,
        probe_fuzzy_index,
    )

    corpus = spark.createDataFrame(
        [(1, "US", "smith"), (2, "EU", "smith"), (3, "US", "wolfe")],
        "id long, region string, name string",
    )
    path = str(tmp_path / "fidx_b")
    build_fuzzy_index(
        corpus, path, "id", "name", max_dist=1, block_cols=("region",)
    )
    probes = spark.createDataFrame(
        [("US", "smyth"), ("EU", "smyth"), (None, "smith")],
        "region string, q string",
    )
    got = sorted(
        (r.region, r.s_probe, r.key, r.dist)
        for r in probe_fuzzy_index(spark, path, probes, "q").collect()
    )
    # US probe matches only the US smith; EU probe only the EU one;
    # NULL-region probe matches nothing
    assert got == [("EU", "smyth", 2, 1), ("US", "smyth", 1, 1)]


def test_fuzzy_index_extend_supersedes_within_block_only(spark, tmp_path):
    """Review r15 (second pass, confirmed repro): last-writer identity
    is (block_cols..., key) — extending a key in ONE block must not
    invalidate (nor let compaction delete) that key's rows in OTHER
    blocks."""
    from cassandrastack_spark.operators.fuzzy import (
        build_fuzzy_index,
        compact_fuzzy_index,
        extend_fuzzy_index,
        probe_fuzzy_index,
    )

    corpus = spark.createDataFrame(
        [(1, "US", "smith"), (1, "EU", "jones")],
        "id long, region string, name string",
    )
    path = str(tmp_path / "fidx_bk")
    build_fuzzy_index(
        corpus, path, "id", "name", max_dist=1, block_cols=("region",)
    )
    extend_fuzzy_index(
        spark.createDataFrame(
            [(1, "US", "smithy")], "id long, region string, name string"
        ),
        path, "id", "name",
    )
    probes = spark.createDataFrame(
        [("US", "smith"), ("EU", "jones")], "region string, q string"
    )

    def got():
        return sorted(
            (r.region, r.s_probe, r.s_index, r.dist)
            for r in probe_fuzzy_index(spark, path, probes, "q").collect()
        )

    # US: the old 'smith' is superseded by 'smithy' (dist 1 from the
    # probe); EU: 'jones' untouched by the US extend, still exact
    want = [("EU", "jones", "jones", 0), ("US", "smith", "smithy", 1)]
    assert got() == want
    # compaction must keep the EU row (it is live) and the answers
    compact_fuzzy_index(spark, path)
    assert got() == want
    # both live versions survive physically
    live = {(r.region, r.s) for r in spark.read.parquet(path)
            .select("region", "s").distinct().collect()}
    assert {("EU", "jones"), ("US", "smithy")} <= live


def test_fuzzy_index_build_validation(spark, tmp_path):
    from cassandrastack_spark.operators.fuzzy import build_fuzzy_index

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with pytest.raises(ValueError, match="max_dist"):
        build_fuzzy_index(df, str(tmp_path / "x"), "id", "name", max_dist=0)
    with pytest.raises(ValueError, match="unreasonable"):
        build_fuzzy_index(df, str(tmp_path / "x"), "id", "name", max_dist=3)
    bad = df.withColumnRenamed("id", "epoch")
    with pytest.raises(ValueError, match="collide"):
        build_fuzzy_index(
            bad, str(tmp_path / "x"), "name", "name",
            block_cols=("epoch",),
        )


def test_fuzzy_index_extend_crash_window_is_invisible(spark, tmp_path):
    """extend_fuzzy_index appends variants BEFORE _keys: a crash
    between the two leaves the new epoch invisible (answers exactly
    pre-extend), and the replay re-lands the batch at the SAME epoch
    with duplicate variants collapsing in the probe. Simulated by
    running only the variant-append half by hand."""
    from pyspark.sql import functions as FF

    from cassandrastack_spark.operators.fuzzy import (
        _deletes_blocks,
        build_fuzzy_index,
        extend_fuzzy_index,
        probe_fuzzy_index,
    )

    corpus = spark.createDataFrame(
        [(1, "smith"), (2, "jones")], "id long, name string"
    )
    path = str(tmp_path / "fidx_cw")
    build_fuzzy_index(corpus, path, "id", "name", max_dist=1)
    probes = spark.createDataFrame([("smyth",), ("wolf",)], "q string")

    def got():
        return sorted(
            (r.s_probe, r.key, r.s_index, r.dist)
            for r in probe_fuzzy_index(spark, path, probes, "q").collect()
        )

    before = got()
    assert before == [("smyth", 1, "smith", 1)]

    # the crash: the variant half of extending (3, 'wolfe') lands at
    # epoch 1, the _keys half never does
    batch_keys = spark.createDataFrame(
        [(3, "wolfe")], "key long, s string"
    ).withColumn("epoch", FF.lit(1).cast("long"))
    variants = _deletes_blocks(batch_keys.select("s"), "s", "s", 1)
    # bucket count read from _meta, not hardcoded — a default change
    # must not silently land the crash rows in wrong partitions and
    # hollow the test out (review r15, third pass)
    nb = int(spark.read.parquet(path + "/_meta").head().n_buckets)
    rows = batch_keys.join(variants, "s").withColumn(
        "vb", FF.pmod(FF.hash("variant"), FF.lit(nb))
    )
    rows.repartition("vb").write.mode("append").partitionBy("vb").parquet(
        path
    )
    # invisible: answers exactly pre-extend (no half-live key, no crash)
    assert got() == before

    # the replay: the full extend re-lands the batch at the SAME epoch
    # (the newest committed generation + 1; the crash never committed
    # its generation to _epochs) — now the key is live and the
    # duplicate variant rows collapse
    extend_fuzzy_index(
        spark.createDataFrame([(3, "wolfe")], "id long, name string"),
        path, "id", "name",
    )
    assert got() == [("smyth", 1, "smith", 1), ("wolf", 3, "wolfe", 1)]
    # the replayed epoch really is 1 (same stamp, not a split batch)
    eps = sorted(
        r.epoch
        for r in spark.read.parquet(path + "/_keys")
        .filter("key = 3").collect()
    )
    assert eps == [1]


def test_fuzzy_index_probe_prunes_partitions(spark, tmp_path):
    """The probe's index scan must carry a PartitionFilter on the
    variant bucket (the IVF-codes pattern): a small batch probing a
    huge stored index reads only its own buckets, not the store."""
    from cassandrastack_spark.operators.fuzzy import (
        build_fuzzy_index,
        probe_fuzzy_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"name{i:04d}") for i in range(200)], "id long, name string"
    )
    path = str(tmp_path / "fidx_pp")
    build_fuzzy_index(corpus, path, "id", "name", max_dist=1, n_buckets=16)
    probes = spark.createDataFrame([("name0007",)], "q string")
    out = probe_fuzzy_index(spark, path, probes, "q")
    jvm = out.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*vb[^\]]*)\]", plan)
    assert m, plan
    assert "IN" in m.group(1).upper() or "isin" in m.group(1), m.group(1)
    # and the answers are right (one self-match at 0 plus the digit
    # neighbors at 1)
    rows = {(r.s_index, r.dist) for r in out.collect()}
    assert ("name0007", 0) in rows
    assert any(d == 1 for _, d in rows)


def test_sorted_neighborhood_matches_bruteforce_neighborhood(spark):
    """Sorted-neighborhood: exactly the pairs within `window` sorted
    positions AND `max_dist` edits — the scheme's own contract,
    validated against a python model, windows crossing block
    boundaries included."""
    from cassandrastack_spark.operators.fuzzy import (
        fuzzy_sorted_neighborhood_pairs,
    )

    words = sorted(set(WORDS))
    df = spark.createDataFrame([(w,) for w in WORDS], "name string")
    for window, tau in ((1, 2), (3, 1), (10, 2), (50, 2)):
        got = sorted(
            (r.s_a, r.s_b, r.rank_gap, r.dist)
            for r in fuzzy_sorted_neighborhood_pairs(
                df, "name", window=window, max_dist=tau
            ).collect()
        )
        want = sorted(
            (words[i], words[j], j - i, _edit(words[i], words[j]))
            for i in range(len(words))
            for j in range(i + 1, min(i + window + 1, len(words)))
            if _edit(words[i], words[j]) <= tau
        )
        assert got == want, (window, tau)
    # at window >= n the scheme degrades to the full edit-distance
    # pair set — the complete-blocker answer
    full = sorted(
        (a, b, d)
        for a, b, d in _brute_self(WORDS, 2)
    )
    got_full = sorted(
        (r.s_a, r.s_b, r.dist)
        for r in fuzzy_sorted_neighborhood_pairs(
            df, "name", window=len(words), max_dist=2
        ).collect()
    )
    assert got_full == full
    with pytest.raises(ValueError, match="window"):
        fuzzy_sorted_neighborhood_pairs(df, "name", window=0)


def test_er_token_jaccard_matches_python_model(spark):
    """Token-set Jaccard ER (the ngram_jaccard_pairs k=1 delegation):
    pair set and jaccard values equal a python token-set model;
    word-order-insensitive by construction."""
    from cassandrastack_spark.operators.fuzzy import er_token_jaccard_pairs

    rows = [
        (1, "maria garcia lopez"),
        (2, "lopez maria garcia"),      # same tokens, reordered: 1.0
        (3, "maria garcia"),            # subset: 2/3
        (4, "jose garcia lopez"),       # 2/4 with 1
        (5, "completely different"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    toks = {i: set(t.split(" ")) for i, t in rows if t is not None}

    def jac(a, b):
        return len(toks[a] & toks[b]) / len(toks[a] | toks[b])

    for t in (0.5, 0.9):
        got = sorted(
            (r.a_id, r.b_id, r.jaccard)
            for r in er_token_jaccard_pairs(
                df, "id", "name", min_jaccard=t
            ).collect()
        )
        want = sorted(
            (a, b, jac(a, b))
            for a in toks
            for b in toks
            if a < b and jac(a, b) >= t
        )
        assert got == want, t
    # order-insensitivity pinned: (1, 2) at exactly 1.0
    assert (1, 2, 1.0) in got or any(
        a == 1 and b == 2 and j == 1.0 for a, b, j in got
    )
    with pytest.raises(ValueError, match="min_jaccard"):
        er_token_jaccard_pairs(df, "id", "name", min_jaccard=0.0)


def test_fuzzy_key_join_dedupes_repeated_input_rows(spark):
    """Output pair multiplicity must NOT track input row multiplicity
    (ADVICE r15): a (key, string) row duplicated in either frame —
    re-ingested records, un-deduped sources — emits each matching
    pair exactly once, consistent with fuzzy_self_pairs' distinct
    output."""
    a = spark.createDataFrame(
        [(10, "wolfe"), (10, "wolfe"), (11, "jones")], "ka long, na string"
    )
    b = spark.createDataFrame(
        [(20, "wolf"), (21, "jones"), (21, "jones"), (21, "jones")],
        "kb long, nb string",
    )
    rows = fuzzy_key_join(a, b, "ka", "na", "kb", "nb", max_dist=1).collect()
    got = sorted((r.key_a, r.key_b, r.dist) for r in rows)
    assert got == [(10, 20, 1), (11, 21, 0)]
    assert len(rows) == len(got)  # no duplicated output rows at all
