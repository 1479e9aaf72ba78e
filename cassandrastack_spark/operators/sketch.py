"""Bounded-state sketches: Misra-Gries heavy-hitter candidates and a
Bloom membership filter (``bloom_build`` / ``bloom_might_contain``).

The scale problem: an exact ``groupBy(key).count()`` over an
unbounded-cardinality key (tokens, n-grams, URLs) shuffles the FULL
distinct-key space — at 100 TB that is billions of grouping keys even
after map-side combine, and the hash-aggregate state on each task is
proportional to its distinct keys, not to the answer. Heavy-hitter
queries (top-k most frequent) don't need that: a Misra-Gries summary
per input partition bounds BOTH the per-task state and the shuffle to
``capacity`` rows per partition, and its classic guarantee (Misra &
Gries 1982; merge rule per Agarwal et al. 2012, "Mergeable
Summaries") says every key whose true partition count exceeds
``N_partition / (capacity + 1)`` survives — so, by pigeonhole, every
GLOBAL heavy hitter above ``N / (capacity + 1)`` survives in at least
one partition's summary.

The intended production shape is two passes (see
``text_heavy_hitters_sketch`` in queries/llm.py):

1. candidates = union of per-partition summaries (this module) —
   a mapInPandas pass whose output is ≤ partitions × capacity rows;
2. exact counts for the candidates alone — a semi-join on the
   candidate set (AQE broadcasts it when it fits; no forced hint, so
   extreme partition counts degrade to a still-bounded shuffled join)
   followed by ``groupBy(key).count()``, whose shuffle is bounded by
   the candidate set instead of the key space.

Pass 2 re-reads the input, but rides the same scan/projection; the
trade is one extra scan for a shuffle bounded by ``partitions ×
capacity`` instead of the full key cardinality — the same
candidates-then-verify discipline as the PPJoin/LSH dedup operators.

Summaries are built per Arrow batch with a vectorized
``value_counts`` merged into a bounded pandas Series (no per-row
Python loop); the decrement step subtracts the (capacity+1)-th
largest counter from all and drops non-positives, which is exactly
the mergeable-summaries rule, so the batch-granularity merge keeps
the Misra-Gries bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mg_candidates(
    df: DataFrame, key_col: str, capacity: int = 256
) -> DataFrame:
    """Per-partition Misra-Gries heavy-hitter summaries.

    Returns a DataFrame ``(key_col <input type>, cnt_lb long)`` with at most
    ``capacity`` rows PER INPUT PARTITION: the summary keys and their
    conservative (lower-bound) counts. Guarantee: every key whose true
    count within a partition exceeds ``N_partition / (capacity + 1)``
    appears in that partition's summary with
    ``cnt_lb >= true_count - N_partition / (capacity + 1)``.

    The same key may appear once per partition — callers aggregate or
    ``distinct()`` downstream (that shuffle is the bounded one). Nulls
    are ignored (they can't be a candidate key). The key column keeps
    its input type (string, integer, ...).
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    cap = int(capacity)
    key_type = df.schema[key_col].dataType.simpleString()

    def summarize(batches):
        import pandas as pd

        summ = None  # pd.Series: key -> counter
        for pdf in batches:
            vc = pdf[key_col].dropna().value_counts()
            if vc.empty:
                continue
            summ = vc if summ is None else summ.add(vc, fill_value=0)
            if len(summ) > cap:
                summ = summ.sort_values(ascending=False)
                dec = summ.iloc[cap]  # (cap+1)-th largest counter
                summ = summ - dec
                summ = summ[summ > 0]  # <= cap keys are strictly > dec
        if summ is not None and len(summ):
            out = summ.reset_index()
            out.columns = [key_col, "cnt_lb"]
            out["cnt_lb"] = out["cnt_lb"].astype("int64")
            yield out

    return df.select(key_col).mapInPandas(
        summarize, schema=f"{key_col} {key_type}, cnt_lb long"
    )


# 1-based md5-hex offsets of the four 7-hex-digit (28-bit) slices that
# drive the Bloom probe positions — fixed so a filter built by one job
# is probeable by any other (and by the DuckDB oracle, which re-derives
# the same positions with portable string ops).
_BLOOM_OFFSETS = (1, 8, 15, 22)


def bloom_build(
    items: DataFrame,
    item_col: str,
    bits_per_item: int = 12,
    k: int = 3,
    m_bits: int | None = None,
) -> DataFrame:
    """Build a Bloom filter over the DISTINCT values of ``item_col`` as
    a self-describing DataFrame ``(word_idx int, word long, m long,
    k int)`` — one row per non-zero 32-bit word of the bitmap, with the
    bitmap size and hash count stamped on every row so the artifact can
    be persisted and probed later without out-of-band metadata.

    Sizing is data-driven: ``m = distinct_items * bits_per_item`` bits,
    so the false-positive rate is a CONSTANT of the design
    (``(1 - e^(-k/bits_per_item))^k`` — about 1.1% at the 12/3 default)
    at every corpus scale instead of degrading as the item set grows.
    Probe positions are ``k`` 28-bit md5-hex slices mod ``m`` (offsets
    ``_BLOOM_OFFSETS``), reproducible in plain SQL on any engine.

    The scale story (vs an exact membership join): a benchmark /
    blocklist membership test at 100 TB wants the REFERENCE side shipped
    to every executor, not a corpus-wide shuffle. The exact-set
    broadcast carries the strings themselves (tens of bytes per item);
    this bitmap carries ``bits_per_item`` BITS per item — 20-40x
    smaller at a quantified, design-constant false-positive rate, and
    the build is a single ``bit_or`` aggregation (associative →
    map-side combinable) over ``k`` rows per item. There are no false
    negatives, ever; callers that must confirm positives re-check just
    the flagged survivors against the exact set (the same
    candidates-then-verify discipline as ``heavy_hitters``).

    Pass an explicit ``m_bits`` to pin the bitmap size instead of
    sizing from this call's item count — REQUIRED when several
    independently-built filters will be ``bloom_merge``d (positions
    are mod ``m``, so every contributing build must share one ``m``,
    sized against the EXPECTED TOTAL item count). With the same ``m``
    and ``k``, build-then-merge is bit-identical to one whole build
    (``bit_or`` is associative and commutative).
    """
    if not 1 <= k <= len(_BLOOM_OFFSETS):
        raise ValueError(f"k must be in 1..{len(_BLOOM_OFFSETS)}, got {k}")
    if bits_per_item < 1:
        raise ValueError(f"bits_per_item must be >= 1, got {bits_per_item}")
    if m_bits is not None and m_bits < 1:
        raise ValueError(f"m_bits must be >= 1, got {m_bits}")
    it = items.select(F.col(item_col).cast("string").alias("_item")).distinct()
    if m_bits is not None:
        m_df = it.sparkSession.range(1).select(
            F.lit(int(m_bits)).cast("long").alias("m")
        )
    else:
        m_df = it.agg(
            F.greatest(
                F.count("*") * F.lit(int(bits_per_item)), F.lit(1)
            ).cast("long").alias("m")
        )
    hx = F.md5(F.col("_item"))
    pos = (
        it.crossJoin(F.broadcast(m_df))
        .select(
            "m",
            F.explode(
                F.array(*[
                    F.conv(F.substring(hx, off, 7), 16, 10).cast("long")
                    % F.col("m")
                    for off in _BLOOM_OFFSETS[:k]
                ])
            ).alias("p"),
        )
    )
    return (
        pos.groupBy(F.expr("CAST(p DIV 32 AS INT)").alias("word_idx"), "m")
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))"
            ).alias("word")
        )
        .select("word_idx", "word", "m", F.lit(int(k)).alias("k"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two Bloom filters built with the SAME ``m_bits`` and ``k``
    into one filter whose member set is the union of both — the
    ingest-loop primitive: build a filter over each arriving batch
    (cost ∝ batch), merge into the persisted filter, never rebuild
    over history. Because ``bit_or`` is associative and commutative,
    any merge tree produces the bit-identical bitmap a single whole
    build would; false-negative impossibility is preserved, and the
    FP rate degrades exactly as the combined fill predicts (size the
    shared ``m_bits`` against the expected TOTAL).

    Incompatible geometry (different ``m`` or ``k``) fails LOUD
    in-plan — positions are mod ``m``, so merging mismatched filters
    would silently corrupt membership. An EMPTY side (no rows, so no
    stored geometry) merges as the identity.
    """
    both = a.select("word_idx", "word", "m", "k").unionByName(
        b.select("word_idx", "word", "m", "k")
    )
    geom = both.agg(
        F.count_distinct("m").alias("n_m"),
        F.count_distinct("k").alias("n_k"),
    )
    # the assert is threaded INTO the emitted m column — an unreferenced
    # guard column would be pruned by Catalyst along with its assert
    # (the lm.py empty-training-corpus discipline)
    return (
        both.groupBy("word_idx")
        .agg(
            F.expr("bit_or(word)").alias("word"),
            F.max("m").alias("m"),
            F.max("k").alias("k"),
        )
        .crossJoin(F.broadcast(geom))
        .select(
            "word_idx",
            "word",
            F.when(
                F.assert_true(
                    (F.col("n_m") <= 1) & (F.col("n_k") <= 1),
                    "bloom_merge: incompatible filter geometry "
                    "(m_bits/k differ between sides)",
                ).isNull(),
                F.col("m"),
            ).alias("m"),
            "k",
        )
    )


def bloom_might_contain(
    bloom: DataFrame,
    probes: DataFrame,
    item_col: str,
    out_col: str = "might_contain",
) -> DataFrame:
    """Probe a ``bloom_build`` filter: returns ``probes`` plus a boolean
    ``out_col`` — false means DEFINITELY absent from the built item set,
    true means present up to the design false-positive rate.

    ``m`` and ``k`` are read from the filter itself (1-row aggregate,
    broadcast), so any persisted filter is probeable as-is: positions
    are computed for the maximum slice count and masked down to the
    stored ``k`` in-plan. The probe is shuffle-free on the corpus side
    at scale: distinct probe items x k positions hash-join the
    (m/32)-row word table (AQE broadcasts it whenever it fits — the
    whole point of the bitmap), and the flags rejoin the input on the
    item value. An EMPTY filter flags everything false.
    """
    scal = bloom.agg(
        F.coalesce(F.max("m"), F.lit(1)).alias("m"),
        F.coalesce(F.max("k"), F.lit(0)).alias("k"),
    )
    it = probes.select(F.col(item_col).cast("string").alias("_item")).distinct()
    hx = F.md5(F.col("_item"))
    pos = (
        it.crossJoin(F.broadcast(scal))
        .select(
            "_item",
            F.posexplode(
                F.array(*[
                    F.conv(F.substring(hx, off, 7), 16, 10).cast("long")
                    % F.col("m")
                    for off in _BLOOM_OFFSETS
                ])
            ).alias("j", "p"),
            "k",
        )
        .filter(F.col("j") < F.col("k"))
    )
    flags = (
        pos.select(
            "_item",
            F.expr("CAST(p DIV 32 AS INT)").alias("word_idx"),
            F.expr("CAST(p % 32 AS INT)").alias("bit"),
        )
        .join(bloom.select("word_idx", "word"), "word_idx", "left")
        .select(
            "_item",
            (
                F.expr("(COALESCE(word, CAST(0 AS BIGINT)) >> bit) & 1") == 1
            ).alias("_bit"),
        )
        .groupBy("_item")
        .agg(F.expr("bool_and(_bit)").alias("_flag"))
    )
    return (
        probes.join(
            flags,
            F.col(item_col).cast("string") == F.col("_item"),
            "left",
        )
        .withColumn(out_col, F.coalesce(F.col("_flag"), F.lit(False)))
        .drop("_item", "_flag")
    )


def heavy_hitters(
    df: DataFrame, key_col: str, k: int = 10, capacity: int = 256
) -> DataFrame:
    """Exact top-``k`` most frequent keys, computed with bounded state:
    the two-pass candidates-then-verify composition described in the
    module docstring. Returns ``(key_col, cnt bigint)`` ordered by
    count desc, key asc (deterministic tie-break).

    Correct whenever the true top-k all exceed ``N / (capacity + 1)``
    of some partition — for skewed frequency distributions (tokens,
    n-grams, URLs) any generous ``capacity`` ≫ k satisfies this; size
    capacity against k and the expected skew, not against the key
    cardinality. The output counts are EXACT (pass 2 recounts the
    candidates), so a too-small capacity under-recalls candidates
    rather than mis-counting survivors.
    """
    cand = (
        mg_candidates(df, key_col, capacity=capacity)
        .select(key_col)
        .distinct()
    )
    # no broadcast hint: the candidate union is bounded by partitions x
    # capacity, which AQE broadcasts when it fits but which a forced
    # hint would OOM at extreme partition counts (10^6 partitions x
    # 256 keys); the shuffled hash join keeps the same bounded volume
    return (
        df.select(key_col)
        .join(cand, key_col)
        .groupBy(key_col)
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), key_col)
        .limit(k)
    )


def hll_build(
    items: DataFrame,
    item_col: str,
    p: int = 12,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Build a HyperLogLog register table over ``item_col`` — the
    mergeable cardinality summary (Flajolet et al. 2007) completing the
    sketch trio: Misra-Gries answers "which keys are hot", Bloom answers
    "have I seen this key", HLL answers "how many distinct keys" — all
    three in bounded state with one aggregation pass.

    Returns a self-describing DataFrame ``(group_cols..., bucket int,
    maxrank int, p int)`` with at most ``m = 2**p`` rows per group: for
    every non-empty bucket, the maximum observed rank (1 + leading
    zeros of a 28-bit md5 slice). The register update is ``max`` —
    associative, commutative, idempotent — so the build is one
    map-side-combinable groupBy whose shuffle is bounded by ``m`` rows
    per group REGARDLESS of input cardinality (no ``distinct()``
    needed: duplicates can't move a max). At 100 TB that is the whole
    point: an exact per-source ``count_distinct(token)`` shuffles the
    full vocabulary; the sketch shuffles ``m`` integers per source with
    a ~1.04/sqrt(m) relative-error guarantee (~1.6% at the p=12
    default), and persisted register tables from disjoint batches merge
    into the exact whole-corpus sketch (``hll_merge``).

    Hashing is the portable-SQL discipline of ``bloom_build``: bucket =
    the first ``p/4`` md5-hex digits, rank word = the next 7 digits
    (28 bits, so ranks span 1..29), both reproducible on any engine
    with string ops — the DuckDB oracle rebuilds the identical register
    table. ``p`` must be a multiple of 4 in 8..24 (hex-digit boundary;
    >= 8 keeps the single-constant alpha formula valid). Nulls are
    ignored (they don't count toward distinct cardinality).

    Range ceiling — a deliberate trade, size ``p`` for it: the total
    hash space is ``2^(p+28)``, because the 28-bit rank word is what
    keeps the estimator's harmonic sum IEEE-exact in any summation
    order (every partial sum fits a double mantissa for p <= 24) —
    the property the bit-exact cross-engine oracle rests on; a wider
    word would break it. ``hll_estimate`` applies the classic
    large-range collision correction above ``2^(p+28)/30``, but past
    ~``2^(p+28)`` the space saturates: at the p=12 default that is
    ~10^12 distinct values per group — raise ``p`` for corpus-scale
    cardinalities (p=20 keeps exactness and lifts the space to
    ~2.8e14 at a still-tiny 1M-row register table).

    Relation to Spark's built-in DataSketches HLL (``hll_sketch_agg``,
    used by the ``rolling_wau_hll`` query): the built-in is the faster
    JVM-native choice when the sketch never leaves Spark; THIS one is
    for artifacts that must be reproducible across engines and releases
    — persisted state another system (or a SQL oracle) re-derives
    bit-for-bit, e.g. the streaming distinct-count monitor's state
    table (``streaming/ops.py monitor_distinct_count``).
    """
    if p % 4 != 0 or not 8 <= p <= 24:
        raise ValueError(f"p must be a multiple of 4 in 8..24, got {p}")
    gcols = list(group_cols)
    hx = F.md5(F.col(item_col).cast("string"))
    bucket = F.conv(F.substring(hx, 1, p // 4), 16, 10).cast("int")
    v = F.conv(F.substring(hx, p // 4 + 1, 7), 16, 10).cast("long")
    # rank = 1 + leading zeros of the 28-bit word = 29 - bit_length(v);
    # bin(v) has length bit_length(v) for v > 0 (and '0' for v = 0,
    # which must map to the all-zeros rank 29, not 28).
    rank = F.when(v == 0, F.lit(29)).otherwise(
        F.lit(29) - F.length(F.bin(v))
    ).cast("int")
    return (
        items.filter(F.col(item_col).isNotNull())
        .select(*gcols, bucket.alias("bucket"), rank.alias("rank"))
        .groupBy(*gcols, "bucket")
        .agg(F.max("rank").alias("maxrank"))
        .select(*gcols, "bucket", "maxrank", F.lit(int(p)).alias("p"))
    )


def hll_merge(
    a: DataFrame,
    b: DataFrame,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Union two HLL register tables built with the SAME precision ``p``
    into the register table of the combined item set — the ingest-loop
    primitive (sketch per arriving batch, merge into the persisted
    registers, never re-scan history). ``max`` is associative,
    commutative and idempotent, so any merge tree — including
    re-merging an already-merged batch — is bit-identical to one whole
    build over the union; the error guarantee carries over unchanged.

    Incompatible precision fails LOUD in-plan (bucket numbering is
    positional in ``p``, so merging mismatched registers would silently
    corrupt the estimate); the assert is threaded into the emitted
    ``p`` column so Catalyst cannot prune it. An EMPTY side merges as
    the identity.
    """
    gcols = list(group_cols)
    cols = [*gcols, "bucket", "maxrank", "p"]
    both = a.select(*cols).unionByName(b.select(*cols))
    # the per-bucket min/max of PRE-MERGE p values ride the same
    # groupBy as the rank max — a bare max('p') would hide a mismatch
    # whenever the lower-p side's bucket numbers all happen to also be
    # occupied on the higher-p side (bucket ids overlap across
    # precisions: p=12 bucket 687 and p=16 bucket 687 are different
    # hash prefixes), so the guard must see the raw value RANGE, not
    # the per-bucket winner; min==max over the whole scope iff every
    # pre-merge value was identical, with O(1) state per row (a
    # collect_list of per-bucket sets would buffer 2^p arrays in the
    # window at large p)
    merged = both.groupBy(*gcols, "bucket").agg(
        F.max("maxrank").alias("maxrank"),
        F.min("p").alias("_pmin"),
        F.max("p").alias("_pmax"),
    )
    # the guard is a window over the MERGED table — a linear operator
    # on the one pipeline, so each input's lineage (a full batch scan
    # in the ingest loop) executes exactly once. A separate guard
    # aggregate branched off `both` would re-execute both inputs (and
    # AQE stage reuse does not rescue it — measured). Grouped merges
    # assert PER GROUP (each group is an independent sketch, so only a
    # within-group mismatch can corrupt an estimate — the same scope
    # hll_estimate guards), which also bounds every window partition
    # at 2^p rows whatever the group-key cardinality; only the
    # ungrouped merge uses the global single-partition window, whose
    # one partition is at most 2^p rows by construction.
    w = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    same_p = F.min("_pmin").over(w) == F.max("_pmax").over(w)
    return merged.select(
        *gcols,
        "bucket",
        "maxrank",
        F.when(
            F.assert_true(
                same_p,
                "hll_merge: incompatible precision (p differs "
                "between sides within a group)",
            ).isNull(),
            F.col("_pmin"),
        ).alias("p"),
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Resolve a ``hll_build`` register table to cardinality estimates:
    one row per group ``(group_cols..., est_distinct double, m long,
    nonempty long)``, with ``est_distinct`` rounded to 4 decimals.

    Standard HyperLogLog estimator with both range corrections:
    raw = alpha_m * m^2 / sum_j 2^(-M_j) (absent buckets contribute
    2^0 = 1); when raw <= 2.5m with empty buckets present, linear
    counting ``m * ln(m / V)`` takes over (Flajolet et al. 2007 §4;
    V = empty-bucket count); when raw exceeds 1/30 of the ``2^(p+28)``
    hash space, the large-range collision correction
    ``-2^(p+28) * ln(1 - raw/2^(p+28))`` takes over (ibid., adapted to
    this layout's word width — see the range-ceiling note on
    ``hll_build``). The 28-bit rank word caps ranks at 29, so
    the harmonic sum is a sum of exactly-representable powers of two
    bounded by m — IEEE-exact in ANY summation order, which is what
    makes the estimate reproducible across engines, partitionings and
    AQE decisions (the DuckDB oracle lands on the identical double
    before the shared 4-decimal round; ``ln`` is the only libm call
    and sits inside the round). The estimate is ONE per-group aggregate
    over at most ``m`` register rows — ``p`` rides on every register
    row (``collect_set`` inside the same groupBy), so the register
    lineage — which is the full input scan when the registers aren't
    persisted — executes exactly once; no separate 1-row geometry
    pass. Mixed precisions within a group fail LOUD in-plan (the same
    assert_true contract as ``hll_merge``) rather than resolving a
    hand-unioned register table to a wrong estimate.

    Empty-register contract (nothing was ever built): grouped resolves
    to an EMPTY frame, ungrouped to ONE row with null
    ``est_distinct``/``m`` and ``nonempty = 0`` — null, not an
    invented 0, because without a register row the precision (hence
    ``m``) is unknowable. Callers with a legitimate no-data case map
    it themselves (``streaming/ops.py distinct_count_state`` reads a
    missing state table as the 0 estimate).
    """
    gcols = list(group_cols)
    m = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), _p) AS DOUBLE)")
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m)
    # per-group precision rides the same groupBy as the harmonic sum
    # (no second pass over the register lineage) — but mixed
    # precisions WITHIN a group fail LOUD, same contract as hll_merge
    # and distinct_count_state: a hand-unioned register table would
    # otherwise resolve to a plausible-looking, silently wrong
    # estimate. F.get (not element_at) so the empty-register row
    # ([] set) stays a quiet null under ANSI mode.
    agg = registers.groupBy(*gcols).agg(
        F.count("*").cast("double").alias("_ne"),
        F.sum(F.pow(F.lit(2.0), -F.col("maxrank"))).alias("_hs"),
        F.collect_set("p").alias("_ps"),
    ).withColumn(
        "_p",
        F.when(
            F.assert_true(
                F.size("_ps") <= 1,
                "hll_estimate: mixed precisions within one group "
                "(register table assembled by hand-union? merge with "
                "hll_merge, which re-buckets nothing and would have "
                "refused)",
            ).isNull(),
            F.get("_ps", 0),
        ),
    )
    harm = (m - F.col("_ne")) + F.col("_hs")  # absent buckets add 2^0
    raw = alpha * m * m / harm
    v_zero = m - F.col("_ne")
    # total hash space is 2^(p+28) (bucket bits + the 28-bit rank
    # word); past ~1/30 of it, hash collisions bias raw low — the
    # classic large-range correction re-inverts the collision model
    two_l = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), _p + 28) AS DOUBLE)")
    est = (
        F.when(
            (raw <= F.lit(2.5) * m) & (v_zero > 0),
            m * F.log(m / v_zero),
        )
        # saturated sketch: raw can reach alpha*m*2^29 > 2^(p+28) when
        # every register pins at the max rank — the correction's
        # ln(1 - raw/2^L) would be NaN; resolve to null (beyond range,
        # raise p), the same loud-null contract as empty registers
        .when(raw >= two_l, F.lit(None).cast("double"))
        .when(
            raw > two_l / F.lit(30.0),
            -two_l * F.log(F.lit(1.0) - raw / two_l),
        )
        .otherwise(raw)
    )
    return agg.select(
        *gcols,
        F.round(est, 4).alias("est_distinct"),
        m.cast("long").alias("m"),
        F.col("_ne").cast("long").alias("nonempty"),
    )


def cm_build(
    items: DataFrame,
    item_col: str,
    width: int = 4096,
    depth: int = 3,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a Count-Min sketch (Cormode & Muthukrishnan 2005) over the
    MULTISET of ``item_col`` values — the frequency summary completing
    the sketch quartet: Misra-Gries answers "which keys are hot" (with
    candidates), Bloom answers "have I seen this key", HLL answers
    "how many distinct keys", Count-Min answers "about how often does
    THIS key occur" for ANY key, in fixed state, mergeable.

    Returns a self-describing DataFrame ``(row int, col long,
    cnt long, w long, d int)`` — one row per NON-ZERO counter cell,
    geometry stamped on every row so the artifact persists as parquet
    and is probeable without out-of-band metadata. Cell positions are
    the Bloom layout's 28-bit md5-hex slices mod ``width`` (offsets
    ``_BLOOM_OFFSETS`` — row j uses slice j), reproducible in plain
    SQL on any engine, so a DuckDB oracle can rebuild every cell
    bit-for-bit. ``weight_col`` sums that column instead of counting
    rows (long arithmetic — exact, order-free); NULL items are ignored
    (they can't be a key).

    Guarantees (standard CM): an estimate NEVER undercounts; it
    overcounts by more than ``e/width * N`` (N = total weight) with
    probability at most ``e^-depth`` per probe. Both are design
    constants — at the 4096x3 default, overcount <= 0.066% of N at
    ~95% confidence, in d x w longs (~96 KiB) whatever the key
    cardinality.

    The 100 TB shape: each input row explodes into ``depth`` (row,
    col) pairs and the ONE aggregation partial-aggregates map-side
    into at most ``d x w`` cells per task — the shuffle is bounded by
    the sketch size at ANY input cardinality (exact per-key counts
    would shuffle the full key set; a 10^10-key vocabulary doesn't
    fit anywhere). Addition is associative/commutative, so
    ``cm_merge`` of per-batch sketches is bit-identical to one whole
    build — the ingest-loop primitive (sketch each arriving batch,
    fold into the persisted artifact, never re-scan history).
    """
    if not 1 <= depth <= len(_BLOOM_OFFSETS):
        raise ValueError(
            f"depth must be in 1..{len(_BLOOM_OFFSETS)}, got {depth}"
        )
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    w_expr = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    it = items.filter(F.col(item_col).isNotNull()).select(
        F.col(item_col).cast("string").alias("_item"),
        w_expr.alias("_w"),
    )
    hx = F.md5(F.col("_item"))
    cells = it.select(
        "_w",
        F.posexplode(
            F.array(*[
                F.conv(F.substring(hx, off, 7), 16, 10).cast("long")
                % F.lit(int(width))
                for off in _BLOOM_OFFSETS[:depth]
            ])
        ).alias("row", "col"),
    )
    return (
        cells.groupBy(F.col("row").cast("int").alias("row"), "col")
        .agg(F.sum("_w").alias("cnt"))
        .select(
            "row",
            "col",
            "cnt",
            F.lit(int(width)).cast("long").alias("w"),
            F.lit(int(depth)).alias("d"),
        )
    )


def cm_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Sum two Count-Min sketches built with the SAME ``width`` and
    ``depth`` into the sketch of the combined multiset. Cell addition
    is associative and commutative, so any merge tree — including
    re-merging an already-merged batch's SEPARATE sketch — equals one
    whole build bit-for-bit, and the never-undercount guarantee
    carries over (overcount bound now scales with the combined N, as
    one whole build's would).

    Incompatible geometry fails LOUD in-plan (positions are mod ``w``
    and rows are positional in ``d`` — summing mismatched sketches
    would silently corrupt every estimate); the assert is threaded
    into the emitted ``w`` so Catalyst cannot prune it. An EMPTY side
    (no rows, so no stored geometry) merges as the identity.
    """
    both = a.select("row", "col", "cnt", "w", "d").unionByName(
        b.select("row", "col", "cnt", "w", "d")
    )
    # geometry guard rides the merge groupBy + one window over the
    # OUTPUT (at most d x w rows) — a separate aggregate branched off
    # `both` would re-execute both inputs' lineage on every fold step
    # of the ingest loop (the measured-bad pattern hll_merge's comment
    # documents); per-cell min/max carry the PRE-merge values (so a
    # mismatch cannot hide behind a per-cell max) with O(1) state per
    # row — min==max over the window iff one geometry everywhere
    merged = both.groupBy("row", "col").agg(
        F.sum("cnt").alias("cnt"),
        F.min("w").alias("_wmin"),
        F.max("w").alias("_wmax"),
        F.min("d").alias("_dmin"),
        F.max("d").alias("_dmax"),
    )
    w = Window.partitionBy()
    same_geom = (
        F.min("_wmin").over(w) == F.max("_wmax").over(w)
    ) & (F.min("_dmin").over(w) == F.max("_dmax").over(w))
    return merged.select(
        "row",
        "col",
        "cnt",
        F.when(
            F.assert_true(
                same_geom,
                "cm_merge: incompatible sketch geometry "
                "(width/depth differ between sides)",
            ).isNull(),
            F.col("_wmin"),
        ).alias("w"),
        F.col("_dmin").alias("d"),
    )


def cm_estimate(
    cm: DataFrame,
    probes: DataFrame,
    item_col: str,
    out_col: str = "est_count",
) -> DataFrame:
    """Probe a ``cm_build`` sketch: returns ``probes`` plus a long
    ``out_col`` — the min over the sketch's ``depth`` rows of the
    probed cell values (an absent cell is 0). The estimate NEVER
    undercounts the item's true total weight; overcount follows the
    build's design bound.

    ``w`` and ``d`` are read from the sketch itself (1-row aggregate,
    broadcast — the ``bloom_might_contain`` metadata pattern; when the
    sketch is an unpersisted in-plan build rather than a reread
    artifact, that scalar costs one extra pass over the build, which
    is the intended trade: sketches are persisted artifacts). Mixed
    geometries in the input — a hand-union of incompatible sketches —
    fail LOUD in-plan rather than probing at the wrong modulus and
    undercounting (the guarantee this function exists to keep).
    Distinct probe items x depth positions equi-join the
    at-most-``d x w``-row cell table (broadcastable by design — that
    is the point of a sketch), then the min-estimates rejoin the input
    on the item value; the probe side never shuffles more than its
    distinct keys. A NULL probe estimates 0 (it was never counted). An
    EMPTY sketch estimates 0 for everything.
    """
    # the geometry scalars carry a mixed-geometry guard: a hand-union
    # of two sketches with different (w, d) would probe at max(w)'s
    # modulus, MISS the smaller sketch's cells, coalesce them to 0 and
    # UNDERCOUNT — the one error CM must never make, so it fails loud
    # in-plan instead (the hll_estimate / cm_merge contract). The
    # assert threads into the `d` every probe row filters on, so
    # Catalyst cannot prune it.
    scal = cm.agg(
        F.coalesce(F.max("w"), F.lit(1)).alias("w"),
        F.when(
            F.assert_true(
                (F.count_distinct("w") <= 1) & (F.count_distinct("d") <= 1),
                "cm_estimate: mixed sketch geometries (hand-unioned "
                "tables? merge with cm_merge, which would have "
                "refused)",
            ).isNull(),
            F.coalesce(F.max("d"), F.lit(0)),
        ).alias("d"),
    )
    it = (
        probes.filter(F.col(item_col).isNotNull())
        .select(F.col(item_col).cast("string").alias("_item"))
        .distinct()
    )
    hx = F.md5(F.col("_item"))
    pos = (
        it.crossJoin(F.broadcast(scal))
        .select(
            "_item",
            F.posexplode(
                F.array(*[
                    F.conv(F.substring(hx, off, 7), 16, 10).cast("long")
                    % F.col("w")
                    for off in _BLOOM_OFFSETS
                ])
            ).alias("row", "col"),
            "d",
        )
        .filter(F.col("row") < F.col("d"))
    )
    ests = (
        pos.join(
            cm.select(F.col("row").cast("int").alias("row"), "col", "cnt"),
            ["row", "col"],
            "left",
        )
        .select("_item", F.coalesce("cnt", F.lit(0)).alias("_cell"))
        .groupBy("_item")
        .agg(F.min("_cell").alias("_est"))
    )
    return (
        probes.join(
            ests,
            F.col(item_col).cast("string") == F.col("_item"),
            "left",
        )
        .withColumn(
            out_col, F.coalesce(F.col("_est"), F.lit(0).cast("long"))
        )
        .drop("_item", "_est")
    )


def bottomk_sample_build(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 1024,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Build a deterministic bottom-k sample over ``value_col`` — the
    mergeable QUANTILE summary completing the monitor toolbox: MG
    answers "which keys are hot", Bloom "have I seen this key", HLL
    "how many distinct keys", CM "about how often this key", and this
    one "what does the VALUE DISTRIBUTION look like" (medians, p95s,
    score spread) in bounded state. Spark's ``approx_percentile`` can't
    fill that role for persisted monitors: its internal summary state
    is neither persistable as data nor mergeable across separately
    materialized batches — this sample is both.

    The sample is the classic bottom-k / coordinated sample (Cohen &
    Kaplan 2007; the mergeable-summaries family of Agarwal et al.
    2012): keep the ``k`` rows whose ``md5(key_col)`` hashes are
    SMALLEST per group. Because membership is a pure function of the
    key hash — no RNG, no insertion order — the sample is
    deterministic, identical across engines/partitionings/replays, and
    min-k-MERGEABLE AND IDEMPOTENT: bottomk(A ∪ B) ==
    bottomk(bottomk(A) ∪ bottomk(B)), and re-merging the same batch
    changes nothing (duplicates dedup on the hash). That idempotence
    is the HLL-register property, so the same at-least-once streaming
    discipline applies — see ``streaming/ops.py monitor_value_sample``. A uniform k-row
    sample estimates any quantile with standard error ~sqrt(p(1-p)/k)
    in rank space (~1.6% at k=1024, p=0.5).

    Returns a self-describing frame ``(group_cols..., h string,
    v double, k int)``. ``key_col`` must be row-unique (doc_id,
    event_id): the hash ranks ROWS, and duplicate keys would make
    "which row" ambiguous; ties on (h, v) are identical content, so
    the deterministic (h, v) order never diverges. NULL keys/values
    AND NaN values are dropped — NaN must be filtered, not sampled
    (the ``histogram_fixed`` rule): membership is hash-only, so one
    NaN row whose hash lands in the bottom k would sit in the
    persisted sample forever, and Spark's ordering puts NaN above
    every double, poisoning every high quantile the monitor reports
    from then on. A NaN count is a data-quality signal — count
    ``isnan`` separately.

    Spark shape at 100 TB: one narrow (group, h, v) projection + one
    per-group rank window — the same single-shuffle rank pass as
    ``winsorize_by_group``; the PERSISTED artifact is k rows per
    group forever, and incremental maintenance is merge-only (never
    re-scan history). Built per batch in the streaming monitor, the
    window sorts one micro-batch at a time.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    gcols = list(group_cols)
    h = F.md5(F.col(key_col).cast("string"))
    return bottomk_retake(
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
        )
        .select(
            *gcols,
            h.alias("h"),
            F.col(value_col).cast("double").alias("v"),
        )
        .withColumn("k", F.lit(int(k))),
        gcols,
    )


def bottomk_retake(
    sample: DataFrame, group_cols: tuple[str, ...] | list[str] = ()
) -> DataFrame:
    """The one min-k reduction every bottom-k consumer shares: dedup on
    (group, h, v) — which is what makes re-merging IDEMPOTENT, a
    replayed batch's rows collapse onto themselves — and keep the
    ``k`` smallest (h, v) per group, ``k`` read from the rows
    themselves. Used by the builder (where the dedup is a no-op on
    row-unique keys), the merge, the streaming state reader, and the
    state compactor, so the retake semantics — and any future guard —
    live in exactly one place.
    """
    gcols = list(group_cols)
    w = Window.partitionBy(*gcols).orderBy("h", "v")
    return (
        sample.dropDuplicates([*gcols, "h", "v"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("k"))
        .drop("_rn")
    )


def bottomk_sample_merge(
    a: DataFrame,
    b: DataFrame,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Merge two bottom-k samples built with the SAME ``k``: union,
    dedup on (group, h, v) — which is what makes the merge IDEMPOTENT,
    a replayed batch's rows collapse onto themselves — and re-take the
    k smallest hashes per group. Equals ``bottomk_sample_build`` over
    the concatenated inputs (min-k associativity), so per-batch /
    per-shard / per-day samples fold into the exact whole-corpus
    sample without ever re-scanning history. Mixed ``k`` within one
    merge fails LOUD in-plan (the hll_merge contract): two samples
    with different k are different sketches, and silently keeping
    min(k) would quietly change the accuracy every consumer sized for.
    """
    gcols = list(group_cols)
    u = a.unionByName(b)
    guarded = u.withColumn(
        "k",
        F.when(
            F.assert_true(
                F.size(F.collect_set("k").over(Window.partitionBy(*gcols)))
                <= 1,
                "bottomk_sample_merge: mixed k within one group — these "
                "are different sketches; rebuild one side",
            ).isNull(),
            F.col("k"),
        ),
    )
    return bottomk_retake(guarded, gcols)


def _validated_probs(probs) -> list:
    ps = sorted(set(float(p) for p in probs))
    if not ps or not all(0.0 < p <= 1.0 for p in ps):
        raise ValueError(f"probs must be in (0, 1], got {probs}")
    return ps


def _type1_rank_select(
    ranked: DataFrame,
    gcols: list,
    ps: list,
    value_col: str,
    out_name: str,
) -> DataFrame:
    """The ONE copy of the type-1 rank-selection rule — value at rank
    ``max(1, ceil(p * n))`` — shared by the sample-quantile resolution
    and the exact audit leg (review r16: the rule was duplicated, and
    it is exactly the arithmetic two registered oracles mirror; a
    drift between the copies would silently diverge the accuracy
    gates). ``ranked`` carries ``_rn`` (1-based rank within group)
    and ``_n`` (group size)."""
    pf = F.array(*[F.lit(p) for p in ps])
    return (
        ranked.select(
            *gcols,
            F.col(value_col).alias("_v"),
            "_rn",
            "_n",
            F.explode(pf).alias("p"),
        )
        .filter(
            F.col("_rn")
            == F.greatest(F.lit(1), F.ceil(F.col("p") * F.col("_n")))
        )
        .select(*gcols, "p", F.col("_v").alias(out_name))
    )


def bottomk_sample_quantiles(
    sample: DataFrame,
    probs: tuple[float, ...] | list[float],
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Resolve a bottom-k sample to quantile estimates: one row per
    (group, p) with ``q`` = the type-1 (order-statistic) sample
    quantile — the value at rank ``max(1, ceil(p * n))`` of the
    sample's values sorted ascending. No interpolation, deliberately:
    the estimate is an ELEMENT of the sample, so both engines pick the
    IDENTICAL double and the cross-engine oracle is bit-exact (an
    interpolated quantile is arithmetic on two doubles and would be
    too — but element selection also survives any future widening of
    the value type unchanged). ``n`` is the sample size, so estimates
    inherit the sample's rank error (~1.04 * sqrt(p(1-p)/k)); an empty
    group simply emits no rows.
    """
    ps = _validated_probs(probs)
    gcols = list(group_cols)
    w = Window.partitionBy(*gcols).orderBy("v", "h")
    ranked = (
        sample.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(Window.partitionBy(*gcols)))
    )
    return _type1_rank_select(ranked, gcols, ps, "v", "q").orderBy(
        *gcols, "p"
    )


def exact_type1_quantiles(
    df: DataFrame,
    value_col: str,
    probs: tuple[float, ...] | list[float],
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Exact type-1 quantiles over the FULL frame: one row per
    (group, p) with ``exact_q`` = the value at rank
    ``max(1, ceil(p * n))`` — the audit leg the sample-sketch
    estimates gate against (``bottomk_sample_quantiles``' rank
    selection, applied to the population instead of the sample; one
    shared implementation so the two queries that ride an exact leg
    cannot drift, review r16). Element selection, no interpolation —
    bit-comparable across engines. The caller owns the population
    filter (NULL/NaN discipline), so the leg prices one per-group rank
    window over whatever it is handed.
    """
    ps = _validated_probs(probs)
    gcols = list(group_cols)
    w = Window.partitionBy(*gcols).orderBy(value_col)
    ranked = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(Window.partitionBy(*gcols)))
    )
    return _type1_rank_select(ranked, gcols, ps, value_col, "exact_q")


def weighted_sample_build(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 1024,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Build a deterministic WEIGHTED sample without replacement as a
    mergeable summary — the bottom-k sample's importance-weighted twin
    (Efraimidis & Spirakis 2006, the same construction as the
    registered ``corpus_weighted_sample`` query, packaged as a
    persistable sketch): each row draws an exponential key
    ``e = -ln(u) / w`` from the DETERMINISTIC md5 uniform of its key
    (no RNG, no partition dependence), and the k smallest ``e`` per
    group ARE a weighted sample without replacement — higher-weight
    rows exponentially likelier to survive, the exact inclusion law
    A-ES proves. This is how a training pipeline maintains a
    quality-weighted subset of an unbounded crawl: per-batch samples
    merge into THE whole-corpus sample (min-k associativity) without
    ever re-scanning history, and a replayed batch changes nothing
    (dedup on the key — the HLL-register idempotence that makes the
    streaming monitor's at-least-once delivery invisible).

    Returns ``(group_cols..., item string, e double, w double,
    k int)``: ``item`` is the key cast to string (the join-back handle
    for payloads), ``w`` rides for audit. ``key_col`` must be
    row-unique with a STABLE weight: the retake dedups on the key, so
    the same key re-ingested with a different weight keeps ONE
    partition-order-arbitrary row — the determinism guarantee (and
    merge == whole-build) holds only while weights are fixed per key;
    fix the weight at first ingest or dedup upstream. Rows with NULL
    keys or NULL/NaN/non-positive weights are dropped (a weight <= 0
    has no A-ES key; -ln(u)/w would flip its sign and poison the
    bottom-k order).

    Spark shape: the same one narrow projection + per-group rank
    window as ``bottomk_sample_build``; the persisted artifact is k
    rows per group forever. Cross-engine gate: u derives from the
    first 8 md5 hex digits exactly like the registered query's
    oracle, so a SQL engine rebuilds the identical sample.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    gcols = list(group_cols)
    w = F.col(weight_col).cast("double")
    hx = F.md5(F.col(key_col).cast("string"))
    v = F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint")
    u = (v + F.lit(1)).cast("double") / F.lit(4294967297.0)
    e = -F.log(u) / w
    ranked = (
        df.filter(
            F.col(key_col).isNotNull()
            & w.isNotNull()
            & ~F.isnan(w)
            & (w > 0)
        )
        .select(
            *gcols,
            F.col(key_col).cast("string").alias("item"),
            e.alias("e"),
            w.alias("w"),
        )
        .withColumn("k", F.lit(int(k)))
    )
    return weighted_sample_retake(ranked, gcols)


def weighted_sample_retake(
    sample: DataFrame, group_cols: tuple[str, ...] | list[str] = ()
) -> DataFrame:
    """The weighted twin of ``bottomk_retake``: dedup on (group, item)
    — a replayed batch's rows collapse onto themselves — and keep the
    k smallest ``(e, item)`` per group, ``k`` read from the rows.
    Shared by the builder, the merge, the streaming state reader, and
    the state compactor.
    """
    gcols = list(group_cols)
    w = Window.partitionBy(*gcols).orderBy("e", "item")
    return (
        sample.dropDuplicates([*gcols, "item"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("k"))
        .drop("_rn")
    )


def weighted_sample_merge(
    a: DataFrame,
    b: DataFrame,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Merge two weighted samples built with the SAME ``k``: union,
    dedup on (group, item), re-take the k smallest exponential keys
    per group. Equals ``weighted_sample_build`` over the concatenated
    inputs, and merging a sample with itself is the identity. Mixed
    ``k`` fails LOUD in-plan (the ``bottomk_sample_merge`` contract).
    """
    gcols = list(group_cols)
    guarded = a.unionByName(b).withColumn(
        "k",
        F.when(
            F.assert_true(
                F.size(F.collect_set("k").over(Window.partitionBy(*gcols)))
                <= 1,
                "weighted_sample_merge: mixed k within one group — these "
                "are different sketches; rebuild one side",
            ).isNull(),
            F.col("k"),
        ),
    )
    return weighted_sample_retake(guarded, gcols)
