"""Text-analysis operators for LLM training-data pipelines: token
counting, shingling, fingerprinting, language ID, quality scoring.

All pure Column expressions / higher-order functions — JVM-side,
whole-stage-codegen'd, no Python in the hot path.  ``documents.text``
tokenizes on single spaces (FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingest_utils_spark.operators.exprs import let_bind

#: Stopword list used by quality scoring / language scoring demos; the
#: oracles read it too (``plans.llm._STOP_SQL``), so it is not a parameter.
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")

#: BPE-ish word/number token pattern (dialect-portable: same meaning in
#: Java regex and RE2).
TOKEN_RE = "[a-z0-9]+"


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space-separated corpus)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column, pattern: str = TOKEN_RE) -> Column:
    """BPE-ish token count: number of regex-token matches.

    Column-API form (not a string-built ``expr``) so the ``text``
    argument is honored for any column and the pattern survives quotes.
    """
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings: transform over a sequence of
    start offsets — one JVM higher-order expression, no explode yet.

    Documents with fewer than ``n`` tokens yield an EMPTY array
    (matching the oracle's ``range(1, len-1)`` semantics); the guard
    matters because ``sequence(1, 0)`` descends by default and would
    otherwise index ``element_at(t, 0)`` → runtime error.

    The token array is LET-BOUND (:func:`~data_ingest_utils_spark.
    operators.exprs.let_bind`): with the naive capture, each of the n
    ``element_at(t, i+k)`` calls re-ran the ``split`` per offset,
    making shingling O(tokens²) per doc.  Measured on the 50 k-doc
    sf1.0 bench corpus (round 13): distinct-shingle-hash arrays
    4.6 s → 0.6 s (7.5×), byte-identical output including the
    <n-token, blank, and multi-space edge cases.
    """

    def _body(t: Column) -> Column:
        offsets = F.sequence(F.lit(1), F.size(t) - (n - 1))
        return F.when(
            F.size(t) >= n,
            F.transform(
                offsets,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, (i + k).cast("int")) for k in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_bind(tokens(text), _body)


def distinct_shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """Explode to distinct (id, shingle) rows — the join key space for
    n-gram Jaccard / fingerprinting."""
    return (
        df.select(id_col, F.explode(shingles(F.col("text"), n)).alias("shingle"))
        .distinct()
    )


def stopword_ratio(text: Column) -> Column:
    t = tokens(text)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x)))
    return n_stop.cast("double") / F.size(t)


def avg_token_len(text: Column) -> Column:
    """Mean token length = non-space chars / token count."""
    t = tokens(text)
    return (
        F.length(F.regexp_replace(text, " ", "")).cast("double") / F.size(t)
    )


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0, 1]: length-capped token
    count damped by stopword density.  (Real pipelines plug in model
    scores; the plumbing — pure column expr over the corpus — is what
    scales.)"""
    n = token_count(text)
    return F.round(
        (1 - stopword_ratio(text)) * F.least(n, F.lit(200)).cast("double") / 200.0, 6
    )


def explode_packed_sequences(
    t: DataFrame, *, id_col: str = "doc_id", seq_len: int = 2048
) -> DataFrame:
    """Turn a (id, n, cum) token-cumsum frame into one row per
    (document, training sequence) with the token count contributed.

    ``cum`` is the INCLUSIVE running token total at this document in
    pack order; a document spans sequences floor((cum-n)/L) ..
    floor((cum-1)/L) and contributes the overlap of its token interval
    with each sequence's [s*L, (s+1)*L) slot.  Pure codegen arithmetic
    + one explode — how ``cum`` was produced (global window or
    shard-local window + offset) is the caller's scaling decision.
    """
    cap = F.lit(seq_len).cast("long")
    first_seq = F.floor((F.col("cum") - F.col("n")) / cap)
    last_seq = F.floor((F.col("cum") - 1) / cap)
    # Zero-token guard FIRST: without it a 0-token doc sitting
    # mid-sequence (cum not on a boundary) has first_seq == last_seq
    # and would emit a phantom (doc, seq, 0) row — only the boundary
    # case descends and self-suppresses.  Then the empty-range guard:
    # sequence(first, last) DESCENDS for the boundary case and would
    # otherwise emit spurious rows.
    seq_ids = F.when(
        (F.col("n") > 0) & (first_seq <= last_seq),
        F.sequence(first_seq, last_seq),
    ).otherwise(F.array().cast("array<long>"))
    return t.withColumn("seq_id", F.explode(seq_ids)).select(
        id_col,
        # seq_id stays LONG: a ~100 TB corpus packs ~12 B sequences at
        # L=2048, past int32 — an int cast would throw under ANSI mode
        # (or silently wrap without it).  n_tokens_in_seq is bounded by
        # seq_len, so int is safe there.
        F.col("seq_id").alias("seq_id"),
        (
            F.least(F.col("cum"), (F.col("seq_id") + 1) * cap)
            - F.greatest(F.col("cum") - F.col("n"), F.col("seq_id") * cap)
        )
        .cast("int")
        .alias("n_tokens_in_seq"),
    )


def shard_by_id_range(
    df: DataFrame, *, id_col: str = "doc_id", n_shards: int = 32
) -> DataFrame:
    """Assign the contiguous, id-monotone shard column that
    :func:`pack_sequences_sharded` requires — distributed, no global
    sort.

    ``repartitionByRange`` samples the id distribution to pick
    ``n_shards - 1`` range boundaries (one pass, reservoir sampling on
    executors), then ``spark_partition_id()`` labels each row with its
    range index: shard k holds ids strictly below every id in shard
    k+1, which is exactly the contiguity contract.  Boundaries are
    sample-dependent, so shard SIZES may vary slightly run-to-run —
    the packed output is identical regardless, because packing depends
    only on the global id order, which any contiguous sharding
    preserves.  CAVEAT: the sampling is re-drawn per JOB, so two
    actions over this lazy frame may see different shard memberships —
    consumers that run multiple jobs over one sharding must pin it
    first (:func:`pack_sequences_sharded` localCheckpoints its narrow
    projection for exactly this reason).
    """
    return (
        df.repartitionByRange(n_shards, F.col(id_col))
        .withColumn("shard", F.spark_partition_id())
    )


def pack_sequences_sharded(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    n_col: str = "n",
    shard_col: str = "shard",
    seq_len: int = 2048,
) -> DataFrame:
    """Scale-safe GPT-style sequence packing: shard-local running sums
    offset by broadcast per-shard token bases — the production path for
    packing a 100 TB corpus without a global ``Window.orderBy``.

    Requires the shard assignment to be MONOTONE in ``id_col`` (each
    shard holds a contiguous id range, shards ordered by shard id);
    under that contract the output is bit-identical to packing the
    whole corpus with one global running sum, because
    ``shard_base + shard-local cumsum == global cumsum``.

    Plan: (1) one tiny hash-agg to per-shard token totals, (2) a
    driver-side exclusive cumsum over ``num_shards`` rows (the one
    sanctioned collect — kilobytes, same pattern as the k-means
    model), (3) a broadcast join of the bases, (4) a running-sum
    window PARTITIONED BY shard — every partition bounded by shard
    size, no single-partition stage anywhere.

    The narrow (id, shard, n) projection is pinned with an EAGER
    ``localCheckpoint`` before anything else: this function runs TWO
    jobs over the sharded frame (the totals collect, then the packed
    output), and :func:`shard_by_id_range`'s ``repartitionByRange``
    re-SAMPLES its boundaries per job — without the pin, a doc near a
    boundary could be counted in shard k's base by job 1 but assigned
    shard k+1 by job 2, corrupting every downstream cumsum.  Only the
    three small columns are materialized (~20 B/row), never the text.
    """
    df = df.select(
        id_col, shard_col, F.col(n_col).cast("long").alias(n_col)
    ).localCheckpoint()
    totals = (
        df.groupBy(shard_col)
        .agg(F.sum(n_col).alias("shard_tokens"))
        .orderBy(shard_col)
        .collect()
    )
    spark = df.sparkSession
    bases, running = [], 0
    for row in totals:
        bases.append((row[shard_col], running))
        # a shard of only NULL-n rows sums to NULL — contribute 0
        # instead of a driver TypeError on += None
        running += row["shard_tokens"] or 0
    shard_type = df.schema[shard_col].dataType.simpleString()
    bases_df = spark.createDataFrame(
        bases, schema=f"{shard_col} {shard_type}, shard_base long"
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = (
        # n_col was already pinned long by the checkpointed projection
        df.select(id_col, shard_col, F.col(n_col).alias("n"))
        .join(F.broadcast(bases_df), shard_col)
        .withColumn("cum", F.col("shard_base") + F.sum("n").over(w))
    )
    return explode_packed_sequences(t, id_col=id_col, seq_len=seq_len)


def min_shingle_fingerprint(df: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: lexicographic MIN of sha256(shingle).

    Engine-portable stand-in for min-hash with a single permutation:
    sha256 exists bit-identically in Spark and DuckDB, so the oracle
    can verify it exactly (unlike xxhash64/murmur).  Returns one row
    per document: (id, fingerprint, n_shingles).

    MAP-ONLY (round 9): per-doc ``array_min(transform(array_distinct(
    shingles), sha256))`` — the whole fingerprint evaluates inside the
    scan stage with ZERO shuffles.  The previous explode → global
    distinct → groupBy form paid two full shuffles of the (id,
    shingle) stream for a per-document reduction that never needed
    cross-partition state; at 100 TB those exchanges would have been
    the entire job.  Output identical: array_distinct preserves the
    distinct set, lexicographic min commutes, and docs with < n
    tokens are dropped (size > 0 filter) exactly as the explode's
    inner semantics and the oracle's ``range(1, len-1)`` did.

    The parallelism guard matters here MORE than in the shuffle form:
    map-only means the sha256/shingle work runs wherever the SCAN
    runs, and a single-file source is one partition — measured 9.6 s
    single-threaded vs ~2 s guarded on the sf0.1 fixture (the old
    form's shuffles accidentally re-parallelized it).  At 100 TB the
    guard is a no-op and the zero-shuffle property holds.
    """
    from data_ingest_utils_spark.operators.relational import ensure_parallelism

    arr = F.array_distinct(shingles(F.col("text"), n))
    return (
        ensure_parallelism(df, id_col).select(
            id_col,
            F.array_min(
                F.transform(arr, lambda s: F.sha2(s, 256))
            ).alias("fingerprint"),
            F.size(arr).cast("long").alias("n_shingles"),
        )
        .filter(F.col("n_shingles") > 0)
    )


# ------------------------------------------------------ bloom filter

#: Bloom geometry for benchmark-contamination probing: 32768 bits
#: (512 × 64-bit words, ~4 KB as a literal array) with 3 md5-derived
#: hash functions.  At the fixtures' ~1k bench shingles the fill rate
#: is kn/m ≈ 0.1 → false-positive rate ≈ 8e-4 — low enough to be a
#: useful filter, high enough that false positives actually occur in
#: the fixture corpus, so the oracle certifies the BLOOM (including
#: its false positives), not exact membership.  ``build_bloom`` takes a
#: larger ``m`` for larger reference sets; ``bloom_probe`` reads m from
#: the word array it is given.
BLOOM_M = 32768
BLOOM_K = 3


def bloom_position(value: Column, j: int, m: int = BLOOM_M) -> Column:
    """j-th bloom bit position of a string value: the first 48 bits of
    ``md5(value || '#j')`` mod m.  Engine-portable by construction —
    DuckDB reproduces it exactly as
    ``CAST(('0x' || substr(md5(v || '#j'), 1, 12)) AS BIGINT) % m``,
    which is what makes a bloom key hash-certifiable."""
    hex12 = F.substring(F.md5(F.concat(value, F.lit(f"#{j}"))), 1, 12)
    return (F.conv(hex12, 16, 10).cast("long") % m).alias(f"p{j}")


def build_bloom(
    values: DataFrame,
    col: str = "shingle",
    m: int = BLOOM_M,
) -> list[int]:
    """Build an m-bit bloom filter over a value column, returned as
    m/64 longs.  One map + a ≤ m/64-row ``bit_or`` aggregate + a
    bounded driver collect — the build is how a production bloom is
    made: reduce the (small) reference set once, then ship the ~4 KB
    word array into every probe task as a literal.  Unlike a broadcast
    of the raw value set (llm_contamination's shape), the probe-side
    memory is O(m) regardless of how many reference values exist."""
    pos = values.select(
        F.explode(
            F.array(*[bloom_position(F.col(col), j, m) for j in range(BLOOM_K)])
        ).alias("pos")
    )
    words = (
        pos.select(
            F.expr("CAST(pos DIV 64 AS INT)").alias("w"),
            F.expr("CAST(pos % 64 AS INT)").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(1L, b))").alias("mask"))
        .collect()
    )
    bloom = [0] * (m // 64)
    for r in words:
        bloom[r.w] = r.mask
    return bloom


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: list[int],
) -> DataFrame:
    """Append a boolean ``bloom_hit`` column: true iff ALL k bloom bits
    of ``col`` are set.  The bit count m is ``64 * len(bloom)``, the
    geometry :func:`build_bloom` gave the array, so a bloom built at any
    m probes at that m and a member never reads as a miss.  The word
    array rides as a literal ``array<bigint>`` (~4 KB at the default
    geometry) and each bit test is one ``element_at & shiftleft``
    expression — fully JVM-side, map-only, zero shuffle added to the
    probe scan.

    The bit tests are built as inline expressions (no intermediate
    ``withColumn`` helpers), so no input column can collide with
    probe internals (ADVICE r9 — the previous form silently clobbered
    same-named ``_bloom``/``_p{j}`` columns); only the output name
    ``bloom_hit`` is reserved, and that collision raises."""
    if "bloom_hit" in df.columns:
        raise ValueError(
            "bloom_probe: input already has a 'bloom_hit' column"
        )
    m = 64 * len(bloom)
    words = F.array(*[F.lit(w).cast("long") for w in bloom])
    hit = None
    for j in range(BLOOM_K):
        p = bloom_position(F.col(col), j, m)
        test = (
            F.element_at(words, F.floor(p / 64).cast("int") + 1).bitwiseAND(
                # call_function: F.shiftleft only takes a Python int
                # for numBits; the SQL function accepts a column
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                )
            )
            != 0
        )
        hit = test if hit is None else (hit & test)
    return df.withColumn("bloom_hit", hit)
