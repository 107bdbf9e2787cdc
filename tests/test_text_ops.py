"""Unit tests for text operators — short-document edge cases and
column-parameter honoring (regressions for round-1 advisor findings).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingest_utils_spark.operators import text as tx


def test_shingles_short_docs_yield_empty_arrays(spark):
    """Docs with fewer than n tokens must produce an EMPTY shingle
    array — not a runtime error (sequence(1,0) descends) nor a
    spurious short shingle."""
    df = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "one two"), (3, "one two three"),
         (4, "one two three four")],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r.sh
        for r in df.select("doc_id", tx.shingles(F.col("text"), 3).alias("sh")).collect()
    }
    assert rows[0] == []
    assert rows[1] == []
    assert rows[2] == []
    assert rows[3] == ["one two three"]
    assert rows[4] == ["one two three", "two three four"]


def test_distinct_shingles_drops_short_docs(spark):
    df = spark.createDataFrame(
        [(0, "a b"), (1, "x y z"), (2, "x y z")], "doc_id int, text string"
    )
    out = tx.distinct_shingles(df, 3).collect()
    assert {(r.doc_id, r.shingle) for r in out} == {(1, "x y z"), (2, "x y z")}


def test_regex_token_count_honors_column_argument(spark):
    """The counted column is the one passed in — not a hardcoded
    'text' name (round-1 bug: F.expr string always read `text`)."""
    df = spark.createDataFrame(
        [("zz", "a1 b2 c3 d4")], "text string, body string"
    )
    row = df.select(
        tx.regex_token_count(F.col("body")).alias("n_body"),
        tx.regex_token_count(F.col("text")).alias("n_text"),
    ).head()
    assert row.n_body == 4
    assert row.n_text == 1


def test_regex_token_count_pattern_with_quote(spark):
    """Patterns containing quotes must not break (no SQL-literal
    string interpolation)."""
    df = spark.createDataFrame([("it's a don't list",)], "s string")
    n = df.select(tx.regex_token_count(F.col("s"), "[a-z]+'[a-z]+").alias("n")).head().n
    assert n == 2


def test_bloom_no_false_negatives_and_word_layout(spark):
    """Every inserted value MUST probe true (blooms have no false
    negatives), and the built word array has the declared geometry."""
    vals = [f"value number {i}" for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], ["shingle"])
    bloom = tx.build_bloom(df)
    assert len(bloom) == tx.BLOOM_M // 64
    assert any(w != 0 for w in bloom)
    probed = tx.bloom_probe(df, "shingle", bloom)
    assert probed.filter(~F.col("bloom_hit")).count() == 0
    # helper columns are dropped, bloom_hit appended
    assert probed.columns == ["shingle", "bloom_hit"]


def test_bloom_low_false_positive_rate(spark):
    """Non-members probe mostly false: at ~150 inserted values the
    fill is tiny, so 500 disjoint probes should see ≲ a handful of
    false positives (deterministic — md5 positions, no RNG)."""
    members = spark.createDataFrame(
        [(f"in {i}",) for i in range(150)], ["shingle"]
    )
    bloom = tx.build_bloom(members)
    others = spark.createDataFrame(
        [(f"out {i}",) for i in range(500)], ["shingle"]
    )
    fp = tx.bloom_probe(others, "shingle", bloom).filter("bloom_hit").count()
    assert fp <= 5, f"false-positive burst: {fp}/500"


def test_bloom_probe_is_map_only(spark):
    """The probe adds no exchange: probing a parallelized scan keeps
    the plan shuffle-free (the 100 TB contract of bloom_probe)."""
    df = spark.range(0, 1000, 1, 4).select(
        F.concat(F.lit("s"), F.col("id")).alias("shingle")
    )
    bloom = tx.build_bloom(df.limit(100))
    plan = tx.bloom_probe(df, "shingle", bloom)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_bloom_probe_reads_m_from_a_larger_bloom(spark):
    """A bloom built at a non-default m probes at that m with no
    geometry argument: the probe derives m from the word array, so
    every member of a 65536-bit bloom hits (testing its bits mod 32768
    would read some members as misses — a false negative)."""
    members = spark.range(2000).select(
        F.concat(F.lit("member "), F.col("id")).alias("shingle")
    )
    bloom = tx.build_bloom(members, m=65536)
    assert len(bloom) == 65536 // 64
    probed = tx.bloom_probe(members, "shingle", bloom)
    assert probed.filter(~F.col("bloom_hit")).count() == 0


def test_bloom_m_scaling_holds_fp_bound(spark):
    """The m-scaling rule (VERDICT r9 #3): geometry is sized by fill
    rate kn/m, so a real benchmark suite (more reference shingles)
    just takes a proportionally larger m — ``build_bloom(m=...)`` —
    and the standard bound p ≈ (1 - e^(-kn/m))^k keeps holding.
    Deterministic: md5-derived positions, no RNG, so the observed FP
    counts are fixed for these inputs."""
    import math

    n = 4000
    members = spark.range(n).select(
        F.concat(F.lit("member "), F.col("id")).alias("shingle")
    )
    probes = spark.range(8000).select(
        F.concat(F.lit("probe "), F.col("id")).alias("shingle")
    )

    n_probe = 8000

    def fp_count(m: int) -> tuple[int, float]:
        bloom = tx.build_bloom(members, m=m)
        assert len(bloom) == m // 64
        fp = (
            tx.bloom_probe(probes, "shingle", bloom)
            .filter("bloom_hit")
            .count()
        )
        # expected FP count at the analytic rate (1 - e^(-kn/m))^k
        exp = n_probe * (1.0 - math.exp(-tx.BLOOM_K * n / m)) ** tx.BLOOM_K
        return fp, exp

    # Count-based bound with Poisson slack (at the big geometry the
    # expectation is <1 FP in 8000 probes, so a relative-rate bound
    # would flag ordinary fluctuation): observed ≤ exp + 4·sqrt(exp)+4.
    # default fixture geometry overloaded at 4k members (kn/m ≈ 0.37)
    fp_small, exp_small = fp_count(tx.BLOOM_M)
    assert fp_small <= exp_small + 4 * math.sqrt(exp_small) + 4, (fp_small, exp_small)
    # scaling m 8× restores a low fill (kn/m ≈ 0.046) and the FP count
    # collapses with it — the rule a production suite applies
    fp_big, exp_big = fp_count(tx.BLOOM_M * 8)
    assert fp_big <= exp_big + 4 * math.sqrt(exp_big) + 4, (fp_big, exp_big)
    assert fp_big < fp_small / 10.0, (fp_big, fp_small)


def test_bloom_probe_collision_safe(spark):
    """ADVICE r9: probe internals must not clobber same-named input
    columns.  Inputs carrying `_bloom`/`_p0` pass through untouched;
    only the output name `bloom_hit` is reserved (raises)."""
    import pytest

    df = spark.createDataFrame(
        [("a", 7, 9)], "shingle string, _bloom int, _p0 int"
    )
    bloom = tx.build_bloom(df.select("shingle"))
    out = tx.bloom_probe(df, "shingle", bloom)
    assert out.columns == ["shingle", "_bloom", "_p0", "bloom_hit"]
    row = out.head()
    assert (row["_bloom"], row["_p0"], row.bloom_hit) == (7, 9, True)

    clash = spark.createDataFrame([("a", False)], "shingle string, bloom_hit boolean")
    with pytest.raises(ValueError, match="bloom_hit"):
        tx.bloom_probe(clash, "shingle", bloom)


def test_minhash_incremental_admit_crafted_dups(spark):
    """The incremental near-dup probe on a crafted batch/corpus split:
    exact duplicates and near duplicates of corpus docs are rejected,
    unrelated and sub-shingle docs are admitted — and the rejections
    are a SUPERSET of exact-hash dedup's rejections (an exact dup is a
    near dup at J=1: identical signatures collide in every band), the
    cross-key invariant behind llm_dedup_minhash_incremental."""
    from data_ingest_utils_spark.operators import dedup as dd

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest before the winter snow arrives"
    )
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "completely different corpus text about spark shuffle "
                "partitions and adaptive query execution at scale"),
        ],
        "doc_id long, text string",
    )
    near = base.replace("lazy dog", "sleepy dog")  # 1-token edit: J >> 0.5
    batch = spark.createDataFrame(
        [
            (100, base),                        # exact dup of corpus 1
            (101, near),                        # near dup of corpus 1
            (102, "unrelated new document text mentioning bloom filters "
                  "minhash bands and jaccard verification stages today"),
            (103, "two tokens"),                # sub-shingle: admitted structurally
        ],
        "doc_id long, text string",
    )
    admitted = sorted(
        r.doc_id
        for r in dd.minhash_incremental_admit(
            batch, dd.minhash_corpus_index(corpus), threshold=0.5
        ).collect()
    )
    assert admitted == [102, 103]

    # Superset invariant vs the exact-hash anti-join (llm_incremental_dedup's
    # shape): exact-dedup rejects exactly {100}; near-dedup rejected {100, 101}.
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    exact_admitted = sorted(
        r.doc_id
        for r in batch.select("doc_id", h.alias("h"))
        .join(corpus.select(h.alias("h")), "h", "left_anti")
        .collect()
    )
    assert exact_admitted == [101, 102, 103]
    assert set(admitted) <= set(exact_admitted)
