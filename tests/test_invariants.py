"""Invariant tests for rows-only (randomized / hash-based) operators —
the verification layer the SQL oracle can't provide.

Covers the round-1 promises: LSH pair invariants (planted near-dups
found, no self-pairs, canonical ordering, distance bounds), banded
Jaccard recall vs the exact all-pairs result, approx_count_distinct
error bounds, and JDBC reader argument construction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingest_utils_spark.operators import dedup as dd
from data_ingest_utils_spark.operators import ingest as ing
from data_ingest_utils_spark.operators import similarity as sim
from tests.conftest import SF_T2, count_jobs


@pytest.fixture(scope="module")
def planted_docs(spark):
    """120 distinct docs + 10 planted near-duplicate pairs (one-token
    edits of ~40-token texts ⇒ Jaccard well above 0.5)."""
    rows = []
    for i in range(120):
        toks = [f"w{i}x{j}" for j in range(40)]
        rows.append((i, " ".join(toks)))
    for p in range(10):
        base_id = p * 7
        toks = [f"w{base_id}x{j}" for j in range(40)]
        toks[20] = "EDITED"
        rows.append((1000 + p, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_planted_near_dups(spark, planted_docs):
    pairs = dd.minhash_lsh_pairs(planted_docs, max_distance=0.6).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    for p in range(10):
        assert (p * 7, 1000 + p) in found, f"planted pair {p} missed"
    for r in pairs:
        assert r.doc_a < r.doc_b
        assert r.jaccard_dist <= 0.6


def test_banded_jaccard_matches_exact_survivors(spark, planted_docs):
    """SimHash-band blocking must (a) generate far fewer candidates
    than n²/2 and (b) keep every survivor the exact all-pairs scorer
    finds at the threshold."""
    n_docs = planted_docs.count()
    cands = dd.simhash_band_candidates(planted_docs)
    n_cand = cands.count()
    assert n_cand < n_docs * (n_docs - 1) // 2 / 4, (
        f"banding isn't pruning: {n_cand} candidates for {n_docs} docs"
    )
    banded = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dd.ngram_jaccard_banded(planted_docs, threshold=0.5).collect()
    }
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dd.ngram_jaccard_pairs(
            planted_docs.withColumn("lang", F.lit("xx")),
            block_cols=("lang",),
            threshold=0.5,
        ).collect()
    }
    # Precision is exact: every banded survivor carries the true
    # Jaccard and appears in the all-pairs result.
    assert banded <= exact
    # Recall is probabilistic (4×16-bit bands guarantee only
    # Hamming<=3); with one-token edits it must stay high.  xxhash64
    # is deterministic, so this bound is stable run-to-run.
    assert len(banded) >= 0.8 * len(exact), (len(banded), len(exact))


def test_banded_collision_verify_identical_and_gated(
    spark, planted_docs, monkeypatch
):
    """Round 17 (sf10 probe): the corpus size picks the verify shape.
    Below COLLISION_VERIFY_MIN_DOCS (every graded fixture is far below
    it, so certified outputs and bench plans are unchanged) the attach
    shape runs; at/above it the COLLISION shape — arrays ride the band
    shuffle, collisions scored in-place, no per-pair array re-shuffle.
    Forcing each shape through the floor, the two must be
    byte-identical at every threshold (the shared scoring contract)
    and plan as distinct physical shapes."""
    import re as _re

    def sig(df):
        # the discriminating shape fact: the array path dedups the
        # CANDIDATE pairs (HashAggregate keyed on doc_a, doc_b only,
        # before the attach joins); the collision path dedups the
        # SURVIVORS (keys include the scored jaccard column)
        p = df._jdf.queryExecution().executedPlan().toString()
        return bool(_re.search(r"HashAggregate\(keys=\[[^\]]*jaccard", p))

    def rows(thr):
        return sorted(
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dd.ngram_jaccard_banded(
                planted_docs, threshold=thr).collect()
        )

    arr = {thr: rows(thr) for thr in (0.3, 0.5)}
    arr_sig = sig(dd.ngram_jaccard_banded(planted_docs))
    monkeypatch.setattr(dd, "COLLISION_VERIFY_MIN_DOCS", 1)
    coll = {thr: rows(thr) for thr in (0.3, 0.5)}
    coll_sig = sig(dd.ngram_jaccard_banded(planted_docs))
    for thr in (0.3, 0.5):
        assert arr[thr] and arr[thr] == coll[thr], thr
    # the default floor resolves to the attach shape, the forced one
    # to the collision shape
    assert not arr_sig and coll_sig


def test_cosine_pairs_lsh_invariants(spark):
    pairs = sim.cosine_pairs_lsh(
        spark.read.parquet(f"{SF_T2}/embeddings.parquet"), threshold=0.3
    ).collect()
    assert pairs, "LSH found no pairs at 0.3 on fixture embeddings"
    for r in pairs:
        assert r.vec_a < r.vec_b
        assert r.cos_sim >= 0.3


def test_minhash_lsh_recall_vs_exact(spark):
    """llm_dedup_near's operator must recover >=90% of the pairs its
    exact twin (all-pairs shingle Jaccard) finds at the matching
    similarity on the real documents fixture — the recall contract a
    rows-only key owes in place of a SQL oracle."""
    docs = spark.read.parquet(f"{SF_T2}/documents.parquet")
    # max_distance 0.6 ⇒ the LSH net is cast at Jaccard >= 0.4; demand
    # recall on exact pairs comfortably inside it (>= 0.5).
    exact = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_pairs(
            docs.withColumn("_one", F.lit("x")),
            block_cols=("_one",),  # constant block = true all-pairs
            threshold=0.5,
        ).collect()
    }
    assert exact, "fixture has no near-dup pairs at J>=0.5; test is vacuous"
    approx = {
        (r.doc_a, r.doc_b)
        for r in dd.minhash_lsh_pairs(docs, max_distance=0.6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, (recall, len(exact), len(approx))


def test_cosine_lsh_recall_vs_exact(spark):
    """llm_sim_pairs_lsh's operator must recover >=90% of the pairs the
    exact all-pairs cosine scorer finds at the same threshold on the
    real embeddings fixture."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    exact = {
        (r.vec_a, r.vec_b)
        for r in sim.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    assert exact, "fixture has no cosine pairs at >=0.4; test is vacuous"
    approx = {
        (r.vec_a, r.vec_b)
        for r in sim.cosine_pairs_lsh(emb, threshold=0.4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, (recall, len(exact), len(approx))


def test_approx_count_distinct_within_rsd(spark):
    """approx_count_distinct(rsd=0.05) within 3*rsd of exact."""
    li = spark.read.parquet(f"{SF_T2}/lineitem.parquet")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", 0.05).alias("approx"),
        F.countDistinct("l_orderkey").alias("exact"),
    ).head()
    assert abs(row.approx - row.exact) <= 3 * 0.05 * row.exact


def test_watermark_noop_in_batch(spark):
    """Batch watermarked agg equals the unwatermarked agg (documented
    Spark semantics — the streaming twin is tests/test_streaming.py)."""
    from data_ingest_utils_spark.plans import QUERIES

    wm = QUERIES["evt_watermark_late"](spark, SF_T2).toPandas()
    plain = (
        QUERIES["evt_tumbling"](spark, SF_T2)
        .toPandas()[["bucket_start", "event_type", "n"]]
    )
    key = ["bucket_start", "event_type"]
    assert (
        wm.sort_values(key).reset_index(drop=True)
        .equals(plain.sort_values(key).reset_index(drop=True))
    )


def test_jdbc_reader_argument_construction(spark, monkeypatch):
    """read_jdbc wires url/table/partitioning into the DataFrameReader
    options and rejects partial bounds (no RDBMS in sandbox — capture
    the option calls, stub load)."""
    from data_ingest_utils_spark.sources.jdbc import read_jdbc

    captured: dict[str, str] = {}

    class FakeReader:
        def format(self, fmt):
            captured["format"] = fmt
            return self

        def option(self, k, v):
            captured[k] = v
            return self

        def load(self):
            captured["loaded"] = "yes"
            return "sentinel"

    class FakeSpark:
        read = FakeReader()

    out = read_jdbc(
        FakeSpark(), "jdbc:postgresql://db/x", "public.orders",
        partition_column="o_orderkey", lower_bound=0, upper_bound=1_000_000,
        num_partitions=16, properties={"fetchsize": "10000"},
    )
    assert out == "sentinel"
    assert captured == {
        "format": "jdbc",
        "url": "jdbc:postgresql://db/x",
        "dbtable": "public.orders",
        "partitionColumn": "o_orderkey",
        "lowerBound": "0",
        "upperBound": "1000000",
        "numPartitions": "16",
        "fetchsize": "10000",
        "loaded": "yes",
    }
    with pytest.raises(ValueError, match="bounds"):
        read_jdbc(FakeSpark(), "jdbc:x", "t", partition_column="id")


def test_range_partition_predicates_contract():
    """The shared JDBC-style partition planner: disjoint half-open
    interior ranges, first partition unbounded below + NULL pickup,
    last unbounded above (out-of-bounds rows are READ, not filtered),
    and degenerate ranges collapse to one full-scan partition."""
    from data_ingest_utils_spark.sources.jdbc import range_partition_predicates

    preds = range_partition_predicates("id", 0, 100, 4)
    assert preds == [
        "id < 25 OR id IS NULL",
        "id >= 25 AND id < 50",
        "id >= 50 AND id < 75",
        "id >= 75",
    ]
    # every integer (and NULL) lands in exactly one partition —
    # including values outside [lower, upper)
    for v in (-10, 0, 24, 25, 74, 75, 99, 100, 10**9):
        hits = sum(
            1 for p in preds
            if eval(  # predicates are pure int comparisons by construction
                p.replace("id IS NULL", "False").replace("id", str(v))
                .replace("AND", "and").replace("OR", "or")
            )
        )
        assert hits == 1, (v, preds)
    assert range_partition_predicates("id", 0, 0, 4) == [None]
    assert range_partition_predicates("id", 5, 100, 1) == [None]
    # more partitions than range width: clamp, never a zero stride
    assert range_partition_predicates("id", 0, 2, 8) == [
        "id < 1 OR id IS NULL", "id >= 1",
    ]
    # width-1 range collapses to ONE full-scan partition — the else
    # branch must never interpolate absent bounds into SQL (round-8
    # review: this returned the literal string 'None OR id IS NULL')
    assert range_partition_predicates("id", 5, 6, 4) == [None]


def test_sqlite_partitioned_scan_partition_count(spark):
    """scan_sqlite_partitioned plans exactly numPartitions executor
    tasks (ranged SELECTs), and the union of partitions returns every
    source row exactly once."""
    from data_ingest_utils_spark.plans import QUERIES

    df = QUERIES["scan_sqlite_partitioned"](spark, SF_T2)
    assert df.rdd.getNumPartitions() == 4
    n = df.count()
    assert n == df.select("c_custkey").distinct().count() > 0


def test_stratified_sample_rates(spark):
    """sel_sample_stratified draws ~10% per stratum (seeded)."""
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.sources.readers import load_table

    sampled = {
        r.l_returnflag: r.n_sampled
        for r in QUERIES["sel_sample_stratified"](spark, SF_T2).collect()
    }
    full = {
        r.l_returnflag: r.n
        for r in load_table(spark, SF_T2, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for flag, n in full.items():
        assert 0.05 * n <= sampled[flag] <= 0.15 * n, (flag, sampled[flag], n)


def test_connected_components_chain_and_islands(spark):
    """A 30-vertex path (worst-case diameter) plus a separate triangle
    and an isolated pair all collapse to min-id components — pointer
    jumping must converge well under the round cap (dd.CC_MAX_ITER)."""
    edges = [(i, i + 1) for i in range(100, 129)]          # path, min=100
    edges += [(500, 501), (501, 502), (500, 502)]          # triangle, min=500
    edges += [(900, 901)]                                  # pair, min=900
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    comp = {r.v: r.component for r in dd.connected_components(df).collect()}
    assert all(comp[v] == 100 for v in range(100, 130))
    assert all(comp[v] == 500 for v in (500, 501, 502))
    assert comp[900] == comp[901] == 900
    assert len(comp) == 35


def test_hll_union_within_error(spark):
    """Merged HLL estimate within 5% of exact global distinct."""
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.sources.readers import load_table

    est = QUERIES["agg_hll_union"](spark, SF_T2).head().est_distinct_orders
    exact = (
        load_table(spark, SF_T2, "lineitem")
        .agg(F.countDistinct("l_orderkey").alias("n")).head().n
    )
    assert abs(est - exact) <= 0.05 * exact, (est, exact)


def test_pack_sequences_conservation(spark):
    """Packing conserves tokens: per-doc contributions sum to the doc
    token count, and every sequence except the last holds exactly 2048
    tokens."""
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.sources.readers import load_table
    from data_ingest_utils_spark.operators import text as tx

    packed = QUERIES["llm_pack_sequences"](spark, SF_T2).toPandas()
    docs = (
        load_table(spark, SF_T2, "documents")
        .select("doc_id", tx.token_count(F.col("text")).alias("n"))
        .toPandas()
    )
    per_doc = packed.groupby("doc_id").n_tokens_in_seq.sum()
    assert (per_doc == docs.set_index("doc_id").n).all()
    per_seq = packed.groupby("seq_id").n_tokens_in_seq.sum()
    assert (per_seq.iloc[:-1] == 2048).all()
    assert 0 < per_seq.iloc[-1] <= 2048


def test_pack_sequences_sharded_equals_global(spark):
    """The production sharded packing path (shard-local windows +
    broadcast shard-base offsets) is bit-identical to the global
    running-sum oracle form when shards are contiguous id ranges —
    and its physical plan has no single-partition global window."""
    import contextlib
    import io

    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.sources.readers import load_table
    from data_ingest_utils_spark.operators import text as tx

    docs = load_table(spark, SF_T2, "documents").select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n"),
        # Monotone-in-doc_id shard assignment (contiguous ranges).
        F.floor(F.col("doc_id") / 100).cast("int").alias("shard"),
    )
    sharded = tx.pack_sequences_sharded(
        docs, id_col="doc_id", n_col="n", shard_col="shard", seq_len=2048
    )
    n_shards = docs.select("shard").distinct().count()
    assert n_shards > 1, "fixture must exercise multiple shards"
    got = sharded.toPandas().sort_values(["doc_id", "seq_id"]).reset_index(drop=True)
    want = (
        QUERIES["llm_pack_sequences"](spark, SF_T2)
        .toPandas()
        .sort_values(["doc_id", "seq_id"])
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # Every Window in the sharded plan is partitioned by shard — the
    # global-sort single-partition stage must not exist.
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sharded.explain("formatted")
    plan = buf.getvalue()
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "shard" in line, f"unpartitioned window:\n{line}"


def test_shard_by_id_range_feeds_sharded_packing(spark):
    """End-to-end production path: shard_by_id_range (distributed
    range sharding, no global sort) produces contiguous id-monotone
    shards, and packing through it matches the global oracle form."""
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.sources.readers import load_table
    from data_ingest_utils_spark.operators import text as tx

    docs = load_table(spark, SF_T2, "documents").select(
        "doc_id", tx.token_count(F.col("text")).alias("n")
    )
    sharded_in = tx.shard_by_id_range(docs, id_col="doc_id", n_shards=8)
    # Contiguity: shard id ranges must not overlap.
    spans = (
        sharded_in.groupBy("shard")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .orderBy("shard")
        .collect()
    )
    assert len(spans) > 1
    for prev, cur in zip(spans, spans[1:]):
        assert prev["hi"] < cur["lo"]
    got = (
        tx.pack_sequences_sharded(
            sharded_in, id_col="doc_id", n_col="n", shard_col="shard"
        )
        .toPandas()
        .sort_values(["doc_id", "seq_id"])
        .reset_index(drop=True)
    )
    want = (
        QUERIES["llm_pack_sequences"](spark, SF_T2)
        .toPandas()
        .sort_values(["doc_id", "seq_id"])
        .reset_index(drop=True)
    )
    assert got.equals(want)


def test_window_sessionize_agrees_with_session_window(spark):
    """win_session_id (lag+cumsum, 30-min gap) and evt_session
    (session_window, 30-min gap) are two formulations of the SAME
    semantics — their per-user session counts must be identical."""
    from data_ingest_utils_spark.plans import QUERIES

    by_window = (
        QUERIES["win_session_id"](spark, SF_T2)
        .groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"))
    )
    by_session_window = (
        QUERIES["evt_session"](spark, SF_T2)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    diff = by_window.join(
        by_session_window, "user_id", "full_outer"
    ).filter(
        by_window["n_sessions"].eqNullSafe(by_session_window["n_sessions"])
        == False  # noqa: E712
    )
    assert diff.count() == 0


def test_gap_fill_preserves_totals_and_density(spark):
    """evt_gap_fill must (a) conserve the total event count and (b)
    emit a DENSE hourly axis: rows per type == span hours, with zero
    rows where no events fell."""
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.sources.readers import load_table

    filled = QUERIES["evt_gap_fill"](spark, SF_T2).cache()
    try:
        total_filled = filled.agg(F.sum("n_events")).collect()[0][0]
        total_raw = load_table(spark, SF_T2, "events").count()
        assert total_filled == total_raw

        spans = filled.groupBy("event_type").agg(
            F.count("*").alias("n_rows"),
            (
                F.expr(
                    "timestampdiff(HOUR, min(bucket_start), max(bucket_start))"
                )
                + 1
            ).cast("long").alias("span_hours"),
        )
        bad = spans.filter(F.col("n_rows") != F.col("span_hours"))
        assert bad.count() == 0
    finally:
        filled.unpersist()


def test_approx_topk_sketch_regime(spark):
    """approx_top_k in the APPROXIMATION regime (capacity 64 << 2001
    distinct): Spark surfaces only provably-frequent items (datasketches
    no-false-positives policy — a near-uniform tail returns nothing,
    verified), estimates never undercount, and the planted heavy hitter
    is always present."""
    base = spark.range(20000).select(
        F.concat(F.lit("t"), F.col("id") % 2000).alias("tok")
    )
    heavy = spark.range(3000).select(F.lit("heavy").alias("tok"))
    toks = base.union(heavy)
    exact = {
        r["tok"]: r["cnt"]
        for r in toks.groupBy("tok").agg(F.count("*").alias("cnt")).collect()
    }
    sketched = toks.agg(
        F.expr("approx_top_k(tok, 5, 64)").alias("topk")
    ).collect()[0]["topk"]
    est = {e["item"]: e["count"] for e in sketched}
    assert 1 <= len(est) <= 5
    assert "heavy" in est, "planted heavy hitter missing from sketch top-k"
    for item, cnt in est.items():
        assert cnt >= exact[item], f"sketch undercounts {item}"


def test_flatten_structs_deep_and_mixed(spark):
    """flatten_structs: 3-level nesting flattens to leaf columns, flat
    columns and arrays pass through untouched, order preserved."""
    from data_ingest_utils_spark.operators.ingest import flatten_structs

    df = spark.sql(
        """SELECT 1 AS id,
                  named_struct('a', 2,
                               'b', named_struct('c', 3,
                                                 'd', named_struct('e', 4))) AS s,
                  array(5, 6) AS arr"""
    )
    out = flatten_structs(df)
    assert out.columns == ["id", "s_a", "s_b_c", "s_b_d_e", "arr"]
    row = out.collect()[0]
    assert (row["id"], row["s_a"], row["s_b_c"], row["s_b_d_e"]) == (1, 2, 3, 4)
    assert list(row["arr"]) == [5, 6]


def test_flatten_structs_underscore_prefix_and_collision(spark):
    """Separator-prefixed struct names keep their prefix (no lstrip
    mangling), and a flattened name colliding with an existing flat
    column raises instead of emitting duplicate columns."""
    import pytest as _pytest

    from data_ingest_utils_spark.operators.ingest import flatten_structs

    df = spark.sql("SELECT named_struct('x', 1) AS `_meta`")
    assert flatten_structs(df).columns == ["_meta_x"]

    clash = spark.sql("SELECT 1 AS a_b, named_struct('b', 2) AS a")
    with _pytest.raises(ValueError, match="duplicate output column"):
        flatten_structs(clash)


def test_kmeans_rejects_fewer_rows_than_k(spark):
    """kmeans_fit_predict must fail loudly when the input cannot seed
    k centroids (empty or < k rows), not IndexError downstream."""
    import pytest as _pytest

    from data_ingest_utils_spark.operators.similarity import kmeans_fit_predict

    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet").limit(3)
    with _pytest.raises(ValueError, match="at least k=8"):
        kmeans_fit_predict(emb, k=8)


def test_rerank_recall_vs_exact(spark):
    """Two-stage int8 rerank: recall@5 vs exact brute-force cosine >=
    4/5 (coarse_k=50 absorbs quantization rank noise; observed 5/5 on
    the fixture), and returned sims are non-increasing."""
    from data_ingest_utils_spark.plans import QUERIES

    exact = [r.vec_id for r in QUERIES["llm_sim_topk"](spark, SF_T2).collect()]
    rows = QUERIES["llm_sim_rerank"](spark, SF_T2).collect()
    rerank = [r.vec_id for r in rows]
    assert len(set(exact) & set(rerank)) >= 4
    sims = [r.sim for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_binary_hamming_recall_and_packing(spark):
    """Binary-quantization rung (round 13): recall@5 vs exact >= 4/5
    on the fixture (coarse_k=100 of 500 vectors), sims non-increasing;
    with coarse_k >= corpus the pipeline must equal exact brute-force
    top-k EXACTLY (the prune is then a no-op and only the rerank
    arithmetic remains); and the in-plan 64-bit packer must agree with
    the driver-side pack_sign_bits on every corpus row, including a
    poisoned row with NULL elements (clear bits both sides)."""
    from data_ingest_utils_spark.operators import similarity as sim
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.plans.llm import _query_vec

    exact_rows = QUERIES["llm_sim_topk"](spark, SF_T2).collect()
    exact = [r.vec_id for r in exact_rows]
    rows = QUERIES["llm_sim_binary_hamming"](spark, SF_T2).collect()
    bq = [r.vec_id for r in rows]
    assert len(set(exact) & set(bq)) >= 4
    sims = [r.sim for r in rows]
    assert sims == sorted(sims, reverse=True)

    q, _ = _query_vec(spark, SF_T2, 0)
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet").filter(
        F.col("vec_id") != 0
    )
    full = sim.binary_hamming_topk(emb, [(0, q)], k=5, coarse_k=10_000_000)
    assert [(r.vec_id, r.sim) for r in full.collect()] == [
        (r.vec_id, r.sim) for r in exact_rows
    ]

    poisoned = emb.limit(8).union(
        spark.createDataFrame(
            [(999_999, [None, 1.0] + [0.0] * 62, 0)],
            "vec_id long, embedding array<float>, label int",
        )
    )
    planned = {
        r.vec_id: list(r._bits)
        for r in sim.binary_sign_codes(poisoned, dim=64).collect()
    }
    for r in poisoned.collect():
        assert planned[r.vec_id] == sim.pack_sign_bits(
            list(r.embedding), 1
        ), f"packer mismatch on vec_id={r.vec_id}"


def _retrieval_rung(spark, rung: str, exclude: tuple):
    """``call(corpus, queries)`` for a retrieval rung at k=5: exact,
    int8, binary, PQ, or the IVF rungs at nprobe=2.  The PQ and IVF
    rungs serve from the SF_T2 fingerprint caches, with the
    ``exclude`` ids filtered out of the PQ codes."""
    from data_ingest_utils_spark.plans.llm import (
        _kmeans_centroids_cached,
        _pq_codebooks_cached,
        _pq_codes_cached,
    )

    if rung == "exact":
        return lambda df, qs: sim.cosine_topk(df, qs, k=5)
    if rung == "int8":
        return lambda df, qs: sim.quantized_rerank_topk(df, qs, k=5, coarse_k=50)
    if rung == "binary":
        return lambda df, qs: sim.binary_hamming_topk(df, qs, k=5, coarse_k=100)
    cents = _kmeans_centroids_cached(spark, SF_T2, k=8, iters=2)
    if rung == "ivf_kmeans":
        return lambda df, qs: sim.ivf_topk_kmeans(
            df, qs, k=5, nprobe=2, centroids=cents
        )
    books = _pq_codebooks_cached(spark, SF_T2)
    codes = _pq_codes_cached(spark, SF_T2).filter(~F.col("vec_id").isin(*exclude))
    if rung == "pq":
        return lambda df, qs: sim.pq_rerank_topk(
            df, qs, k=5, codebooks=books, codes=codes
        )
    return lambda df, qs: sim.ivf_pq_topk(
        df, qs, k=5, nprobe=2, centroids=cents, codebooks=books, codes=codes
    )


RUNGS = ["exact", "ivf_kmeans", "int8", "binary", "pq", "ivf_pq"]


@pytest.mark.parametrize("rung", RUNGS)
def test_binary_hamming_batch_equals_per_query_single(spark, rung):
    """Every retrieval rung's 3-query call must reproduce three
    1-query calls EXACTLY, row for row, on the same corpus: the batch
    takes its cuts with a per-query window, one query with
    TakeOrdered, over the same coarse scores, tie-breaks and rerank
    arithmetic — so any divergence is a real defect (ordering, the
    per-query cut, the Hamming negation, or the query literal)."""
    from data_ingest_utils_spark.plans.llm import _query_batch

    qids = (0, 1, 2)
    queries = _query_batch(spark, SF_T2, qids)
    corpus = spark.read.parquet(f"{SF_T2}/embeddings.parquet").filter(
        ~F.col("vec_id").isin(*qids)
    )
    call = _retrieval_rung(spark, rung, qids)
    batch = [tuple(r) for r in call(corpus, queries).collect()]
    single = [tuple(r) for q in queries for r in call(corpus, [q]).collect()]
    assert len(batch) == 5 * len(qids)
    assert batch == single


@pytest.mark.parametrize(
    "bad, match",
    [("nan", "norm"), ("inf", "norm"), ("zero_norm", "norm"),
     ("wrong_dim", "dim"), ("dup_id", "duplicate")],
)
@pytest.mark.parametrize("rung", RUNGS)
def test_retrieval_rung_rejects_bad_query(spark, rung, bad, match):
    """Every rung shares one query check, run on the driver before any
    plan is built: a NaN, infinite or zero vector has no cosine
    ranking (the PQ and exact rungs used to return 0 rows for NaN,
    every rung for an infinite element), a query whose dim differs
    from the batch's or the PQ index's m·ds must not be silently
    truncated into the LUT, and a repeated query id must not merge two
    queries under one window."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head().embedding)
    queries = {
        "nan": [(0, [float("nan")] + q[1:])],
        "inf": [(0, [float("inf")] + q[1:])],
        "zero_norm": [(0, [0.0] * len(q))],
        "wrong_dim": [(0, q), (1, q + [0.5])],
        "dup_id": [(0, q), (0, q[::-1])],
    }[bad]
    call = _retrieval_rung(spark, rung, (0, 1))
    with pytest.raises(ValueError, match=match):
        call(emb.filter(~F.col("vec_id").isin(0, 1)), queries)


SCALE_SF1 = ".scale/sf1.0"

#: the sf1.0 tests run only on a COMPLETE scale dir: the generator
#: writes embeddings last, and Spark's committer writes its _SUCCESS
#: marker only when that write finished
needs_scale_sf1 = pytest.mark.skipif(
    not __import__("os").path.isfile(f"{SCALE_SF1}/embeddings.parquet/_SUCCESS"),
    reason="scale dir absent or incomplete — run tools/make_scale_data.py",
)


@needs_scale_sf1
def test_binary_hamming_recall_monotone_in_coarse_k_at_scale(spark):
    """The cheapest retrieval rung's quality AT SCALE (VERDICT r13 #3):
    recall@5 vs exact brute-force cosine over the 20 k-vector sf1.0
    embeddings, swept over coarse_k ∈ {20, 100, 500} — the curve must
    be non-decreasing (the Hamming candidate set is nested by
    construction: same deterministic ordering, longer prefix) and
    reach >= 4/5 at coarse_k=500 (2.5% of the corpus), so the
    binary rung's sf0.01 recall certificate isn't an artifact of the
    tiny fixture.  Protocol mirrors the PQ/IVF rungs'
    monotone-in-nprobe invariant."""
    from data_ingest_utils_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SCALE_SF1}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head().embedding)
    rest = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in sim.cosine_topk(rest, [(0, q)], k=5).collect()}
    recalls = []
    for coarse_k in (20, 100, 500):
        got = {
            r.vec_id
            for r in sim.binary_hamming_topk(
                rest, [(0, q)], k=5, coarse_k=coarse_k
            ).collect()
        }
        recalls.append(len(exact & got))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] >= 4, recalls


@needs_scale_sf1
def test_int8_and_pq_recall_monotone_in_coarse_k_at_scale(spark):
    """The OTHER two coarse rungs' quality at scale (round 14,
    completing the ladder after the binary rung's certificate): int8
    quantized-rerank and PQ-ADC rerank recall@5 vs exact brute force
    over the 20 k-vector sf1.0 embeddings, swept over coarse_k ∈
    {20, 100, 500} — non-decreasing (nested candidate prefixes, both
    rungs break coarse ties by id) and >= 4/5 at coarse_k=500, so no
    rung's fixture-scale recall certificate is a small-corpus
    artifact."""
    from data_ingest_utils_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SCALE_SF1}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head().embedding)
    rest = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in sim.cosine_topk(rest, [(0, q)], k=5).collect()}
    books = sim.pq_fit_codebooks(rest, m=32, codebook_k=16, iters=2)
    codes = sim.pq_encode_packed(rest, books)
    for rung, make in (
        ("int8", lambda ck: sim.quantized_rerank_topk(
            rest, [(0, q)], k=5, coarse_k=ck)),
        ("pq", lambda ck: sim.pq_rerank_topk(
            rest, [(0, q)], k=5, coarse_k=ck, codebooks=books, codes=codes)),
    ):
        recalls = []
        for coarse_k in (20, 100, 500):
            got = {r.vec_id for r in make(coarse_k).collect()}
            recalls.append(len(exact & got))
        assert recalls == sorted(recalls), (rung, recalls)
        assert recalls[-1] >= 4, (rung, recalls)


@needs_scale_sf1
def test_banded_jaccard_planted_recall_at_scale(spark):
    """Banded-dedup candidate recall AT SCALE (round 14, same evidence
    pattern as the binary rung's sf1.0 certificate): 15 planted
    one-token-edit near-dups unioned into the full 50 k-doc sf1.0
    corpus must ALL survive the SimHash-band blocking + exact-Jaccard
    verify — the fixture-scale planted test can't show that band
    selectivity holds when every band bucket is ~100× fuller.  Every
    planted pair must also carry its true exact Jaccard >= 0.5 (the
    verify stage is exact, so recall is the only approximate part)."""
    docs = spark.read.parquet(f"{SCALE_SF1}/documents.parquet")
    bases = [
        (int(r.doc_id), r.text)
        for r in docs.orderBy("doc_id").limit(15).collect()
    ]
    planted = []
    for i, (base_id, text) in enumerate(bases):
        toks = text.split()
        toks[len(toks) // 2] = "PLANTEDEDIT"
        planted.append((1_000_000 + base_id, " ".join(toks)))
    corpus = docs.select("doc_id", "text").union(
        spark.createDataFrame(planted, "doc_id long, text string")
    )
    found = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_banded(corpus, n=3, threshold=0.5).collect()
    }
    missing = [
        (base_id, 1_000_000 + base_id)
        for base_id, _ in bases
        if (base_id, 1_000_000 + base_id) not in found
    ]
    assert not missing, f"planted pairs lost at scale: {missing}"


def test_pq_recall_at_least_int8_rerank(spark):
    """PQ retrieve-then-rerank (VERDICT r10 #6 done-criterion): its
    recall@5 vs exact brute force must be >= the int8 rerank's on the
    same fixture (both observed 5/5 — the PQ key's driver oracle IS
    the exact top-5, so anything below 5/5 also fails parity), sims
    non-increasing, and the fit deterministic across runs (seeded
    codebooks, pinned tie-breaks)."""
    from data_ingest_utils_spark.plans import QUERIES

    exact = [r.vec_id for r in QUERIES["llm_sim_topk"](spark, SF_T2).collect()]
    int8 = [r.vec_id for r in QUERIES["llm_sim_rerank"](spark, SF_T2).collect()]
    rows = QUERIES["llm_sim_pq"](spark, SF_T2).collect()
    pq = [r.vec_id for r in rows]
    assert len(set(exact) & set(pq)) >= len(set(exact) & set(int8))
    sims = [r.sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    rows2 = QUERIES["llm_sim_pq"](spark, SF_T2).collect()
    assert [(r.vec_id, r.sim) for r in rows2] == [(r.vec_id, r.sim) for r in rows]


def test_kmeans_sse_monotone_and_deterministic(spark):
    """Lloyd's algorithm: SSE non-increasing across iterations, all k
    cells used on the fixture, and two runs agree exactly (seeded by
    lowest ids — no RNG anywhere)."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    a1, cents, sse = sim.kmeans_fit_predict(emb, k=8, iters=3)
    assert len(sse) == 4
    for earlier, later in zip(sse, sse[1:]):
        assert later <= earlier * (1 + 1e-9), f"SSE rose: {sse}"
    cells1 = {r.vec_id: r.cell for r in a1.collect()}
    assert len(set(cells1.values())) == 8, "degenerate clustering"
    a2, _, sse2 = sim.kmeans_fit_predict(emb, k=8, iters=3)
    assert sse == sse2
    assert {r.vec_id: r.cell for r in a2.collect()} == cells1


def test_kmeans_assign_matches_literal_form(spark):
    """The r9 broadcast-model assign (centroids as a one-row DATA
    DataFrame, transform-index argmin) must reproduce the pre-r9
    literal-expression argmin bit-for-bit: identical cell per vector
    AND identical final SSE double (the sum of the very sq_dist
    values the new plan computes).  The arithmetic (zip_with
    squared-diff, left-fold sum, (d, id) struct tie-break) is
    unchanged — only the plan shape moved, so any drift here is a
    bug, not tolerance."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    assigned, cents, sse = sim.kmeans_fit_predict(emb, k=8, iters=2)

    def sq_dist_to(c):  # the pre-r9 O(k·dim) literal-expression form
        clit = F.array(*[F.lit(v) for v in c])
        return F.aggregate(
            F.zip_with(F.col("embedding"), clit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    best = F.array_min(
        F.array(
            *[
                F.struct(sq_dist_to(c).alias("d"), F.lit(ci).alias("c"))
                for ci, c in enumerate(cents)
            ]
        )
    )
    literal = emb.select(
        "vec_id", best["c"].alias("cell"), best["d"].alias("sq_dist")
    )
    lit_cells = {r.vec_id: r.cell for r in literal.collect()}
    new_cells = {r.vec_id: r.cell for r in assigned.collect()}
    assert new_cells == lit_cells
    lit_sse = literal.agg(F.sum("sq_dist")).collect()[0][0]
    # assignments are bit-exact; the SSE double SUM is only equal up
    # to accumulation-order ulp — the r10 parallelism guard
    # repartitions the checkpointed base, which reorders the
    # reduction (same float-sum class BASELINE.md documents for
    # money sums).  Per-element sq_dist values are still identical
    # (cells prove it); only the Σ order moved.
    assert abs(float(lit_sse) - sse[-1]) <= 1e-9 * max(1.0, abs(sse[-1]))


def test_scale_data_embedding_replication(spark, tmp_path):
    """tools/make_scale_data's embedding replication contract (guards
    the r9 sf1 vector-family certification): replica 0 byte-identical
    to the source, labels replica-DISJOINT (block-quadratic keys must
    scale ×n, not ×n²), vec_ids strided without collision, and no
    exact-duplicate vectors planted across replicas (perturbation is
    per-element deterministic noise, not a copy)."""
    import sys as _sys

    _sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from tools.make_scale_data import generate

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "scale")
    assert generate(spark, src, dst, 2) == 0

    orig = spark.read.parquet(f"{src}/embeddings.parquet")
    rep = spark.read.parquet(f"{dst}/embeddings.parquet")
    n0 = orig.count()
    assert rep.count() == 2 * n0
    assert rep.select("vec_id").distinct().count() == 2 * n0

    stride_l = orig.agg(F.max("label")).collect()[0][0] + 1
    stride_v = orig.agg(F.max("vec_id")).collect()[0][0] + 1
    r0 = rep.filter(F.col("vec_id") < stride_v)
    r1 = rep.filter(F.col("vec_id") >= stride_v)
    # replica 0 byte-identical (join on vec_id, arrays + labels equal)
    joined = orig.alias("o").join(r0.alias("r"), "vec_id")
    assert joined.count() == n0
    assert (
        joined.filter(
            (F.col("o.embedding") != F.col("r.embedding"))
            | (F.col("o.label") != F.col("r.label"))
        ).count()
        == 0
    )
    # labels replica-disjoint
    assert r1.agg(F.min("label")).collect()[0][0] >= stride_l
    assert r0.agg(F.max("label")).collect()[0][0] < stride_l
    # perturbation: no vector appears twice anywhere in the output.
    # The global distinct-count check implicitly assumes the SOURCE
    # has no duplicate vectors (ADVICE r9) — make that explicit so a
    # fixture change fails here, not as a phantom product bug, and
    # additionally compare replica-1 to replica-0 by vec_id directly.
    assert orig.select("embedding").distinct().count() == n0
    assert rep.select("embedding").distinct().count() == 2 * n0
    paired = orig.alias("o").join(
        r1.withColumn("vec_id", F.col("vec_id") - stride_v).alias("p"), "vec_id"
    )
    assert paired.count() == n0
    assert paired.filter(F.col("o.embedding") == F.col("p.embedding")).count() == 0


def test_scale_data_bad_source_leaves_no_dst(spark, tmp_path):
    """A source that cannot be read fails the generator before anything
    is written: no empty destination is left behind to pass for a scale
    dir."""
    import sys as _sys

    _sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from tools.make_scale_data import generate

    dst = tmp_path / "dst"
    with pytest.raises(Exception):
        generate(spark, str(tmp_path / "missing"), str(dst), 2)
    assert not dst.exists()


def test_kmeans_k256_constant_plan(spark):
    """VERDICT r8 #1 done-criterion: fitting k=256 must not blow the
    Catalyst plan up — the centroid model rides as broadcast DATA, so
    the optimized assignment plan stays KBs at any k (the pre-r9
    literal form was ~190 KB of plan at k=256·dim=64 and would hit
    millions of nodes at production cell counts)."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    assert emb.count() >= 256
    assigned, cents, sse = sim.kmeans_fit_predict(emb, k=256, iters=1)
    assert len(cents) == 256
    plan = assigned._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000, f"assignment plan ballooned: {len(plan)} chars"
    for earlier, later in zip(sse, sse[1:]):
        assert later <= earlier * (1 + 1e-9)


def test_ivf_kmeans_recall_and_full_probe_exact(spark):
    """Learned-cell IVF: nprobe=2/8 keeps majority recall vs brute
    force on the fixture (observed 3/5), and probing ALL cells must
    reproduce the exact brute-force top-k — the lossiness comes only
    from skipped cells, never from the mechanism."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).head()
    q = list(qrow.embedding)
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in sim.cosine_topk(rest, [(0, q)], k=5).collect()]
    _, cents, _ = sim.kmeans_fit_predict(rest, k=8, iters=2)

    def ivf(nprobe):
        out = sim.ivf_topk_kmeans(rest, [(0, q)], k=5, nprobe=nprobe, centroids=cents)
        return [r.vec_id for r in out.collect()]

    assert len(set(exact) & set(ivf(2))) >= 3
    assert ivf(8) == exact


def test_ivf_pq_full_probe_equals_flat_pq(spark):
    """IVF-PQ composition certificate (VERDICT r11 #3): with nprobe =
    n_cells the cell cut keeps everything, so the routing machinery —
    assignment pass, probe selection, cell union — must reproduce the
    FLAT PQ pipeline's output row-for-row (ids AND sims).  Any loss
    the graded llm_sim_ivf_pq key shows is therefore attributable to
    the declared nprobe cell cut alone, never to the mechanism."""
    from data_ingest_utils_spark.plans.llm import (
        _kmeans_centroids_cached,
        _pq_codebooks_cached,
        _pq_codes_cached,
    )

    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head().embedding)
    rest = emb.filter(F.col("vec_id") != 0)
    cents = _kmeans_centroids_cached(spark, SF_T2, k=8, iters=2)
    books = _pq_codebooks_cached(spark, SF_T2)
    codes = _pq_codes_cached(spark, SF_T2).filter(F.col("vec_id") != 0)
    flat = [
        (r.vec_id, r.sim)
        for r in sim.pq_rerank_topk(
            rest, [(0, q)], k=5, codebooks=books, codes=codes
        ).collect()
    ]
    full = [
        (r.vec_id, r.sim)
        for r in sim.ivf_pq_topk(
            rest, [(0, q)], k=5, nprobe=8, centroids=cents, codebooks=books,
            codes=codes,
        ).collect()
    ]
    assert full == flat


def test_ivf_pq_batch_full_probe_equals_flat_batch(spark):
    """Batched IVF-PQ composition certificate (round 13): with
    nprobe = n_cells every query's cell cut keeps everything, so the
    batched routing (per-query probe lists + array_contains filter
    over the packed index) must reproduce pq_rerank_topk's flat output
    row-for-row for EVERY query — any loss the rows-only
    llm_sim_ivf_pq_batch key shows is the declared per-query cell cut
    alone.  Also pins probed-cell membership at nprobe=2 and
    determinism across two invocations."""
    from data_ingest_utils_spark.plans.llm import (
        _kmeans_centroids_cached,
        _pq_codebooks_cached,
        _pq_codes_cached,
        _query_batch,
    )

    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    qids = (0, 1, 2)
    queries = _query_batch(spark, SF_T2, qids)
    corpus = emb.filter(~F.col("vec_id").isin(*qids))
    cents = _kmeans_centroids_cached(spark, SF_T2, k=8, iters=2)
    books = _pq_codebooks_cached(spark, SF_T2)
    codes = _pq_codes_cached(spark, SF_T2).filter(~F.col("vec_id").isin(*qids))

    flat = [
        (r.query_id, r.vec_id, r.sim)
        for r in sim.pq_rerank_topk(
            corpus, queries, k=5, codebooks=books, codes=codes
        ).collect()
    ]
    full = [
        (r.query_id, r.vec_id, r.sim)
        for r in sim.ivf_pq_topk(
            corpus, queries, k=5, nprobe=8,
            centroids=cents, codebooks=books, codes=codes,
        ).collect()
    ]
    assert full == flat

    # nprobe=2: every returned vector lives in its query's probed cells
    probed = sim.ivf_pq_topk(
        corpus, queries, k=5, nprobe=2,
        centroids=cents, codebooks=books, codes=codes,
    )
    again = sim.ivf_pq_topk(
        corpus, queries, k=5, nprobe=2,
        centroids=cents, codebooks=books, codes=codes,
    )
    got = [(r.query_id, r.vec_id, r.sim) for r in probed.collect()]
    assert got == [(r.query_id, r.vec_id, r.sim) for r in again.collect()]
    cell_of = {
        int(r.vec_id): int(r.cell)
        for r in codes.select("vec_id", "cell").collect()
    }
    for qid, vec in queries:
        probe = sorted(
            range(len(cents)),
            key=lambda ci: (
                sum((a - b) * (a - b) for a, b in zip(vec, cents[ci])), ci
            ),
        )[:2]
        for q2, vid, _ in got:
            if q2 == qid:
                assert cell_of[vid] in probe, (qid, vid, cell_of[vid], probe)


def test_ivf_pq_probe_membership_exact_sims_and_monotone_recall(spark):
    """The graded llm_sim_ivf_pq key's invariants: every returned id
    lives in a PROBED cell; reported sims are the exact 4-dp cosines
    (recomputed brute-force per returned id — PQ only chose
    candidates, it never scores the output); recall@5 vs brute force
    is monotone in nprobe; and two invocations agree exactly
    (deterministic models from the fingerprint caches)."""
    import math

    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.plans.llm import (
        _kmeans_centroids_cached,
        _pq_codebooks_cached,
        _pq_codes_cached,
    )

    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head().embedding)
    rest = emb.filter(F.col("vec_id") != 0)
    rows = QUERIES["llm_sim_ivf_pq"](spark, SF_T2).collect()
    got = [(r.vec_id, r.sim) for r in rows]

    cents = _kmeans_centroids_cached(spark, SF_T2, k=8, iters=2)

    def sq(c):
        return sum((a - b) * (a - b) for a, b in zip(q, c))

    probe = set(sorted(range(len(cents)), key=lambda ci: (sq(cents[ci]), ci))[:2])
    ids = [v for v, _ in got]
    cells = {
        r.vec_id: r.cell
        for r in sim.kmeans_assign(rest, cents)
        .filter(F.col("vec_id").isin(ids))
        .collect()
    }
    assert all(cells[v] in probe for v in ids), (cells, probe)

    vecs = {
        r.vec_id: list(r.embedding)
        for r in rest.filter(F.col("vec_id").isin(ids)).collect()
    }
    qn = math.sqrt(sum(x * x for x in q))
    for v, s in got:
        vv = vecs[v]
        cos = sum(a * b for a, b in zip(vv, q)) / (
            math.sqrt(sum(a * a for a in vv)) * qn
        )
        assert abs(round(cos, 4) - s) <= 1e-9, (v, s, cos)

    exact = {r.vec_id for r in sim.cosine_topk(rest, [(0, q)], k=5).collect()}
    books = _pq_codebooks_cached(spark, SF_T2)
    codes = _pq_codes_cached(spark, SF_T2).filter(F.col("vec_id") != 0)
    recalls = []
    for nprobe in (2, 4, 8):
        out = sim.ivf_pq_topk(
            rest, [(0, q)], k=5, nprobe=nprobe, centroids=cents,
            codebooks=books, codes=codes,
        )
        recalls.append(len(exact & {r.vec_id for r in out.collect()}))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 5  # full probe reaches the exact answer

    rows2 = QUERIES["llm_sim_ivf_pq"](spark, SF_T2).collect()
    assert [(r.vec_id, r.sim) for r in rows2] == got


def test_embedding_incremental_admit_planted(spark):
    """Incremental embedding admission: exact copies of corpus vectors
    (cos = 1 within the same block) are rejected; vectors whose block
    has NO corpus member are admitted structurally (the equi-join
    generates zero candidates), regardless of similarity."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") < 400)
    copies = corpus.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    # same vectors again, but in a block absent from the corpus — the
    # probe join finds no candidate, so they must be admitted
    moved = corpus.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.lit(999999).alias("label"),
        "embedding",
    )
    batch = copies.select("vec_id", "label", "embedding").unionByName(moved)
    out = sim.embedding_incremental_admit(batch, corpus, threshold=0.95)
    got = {r.vec_id for r in out.select("vec_id").collect()}
    assert got == {200000 + i for i in range(5)}, got


def test_semdedup_drops_planted_duplicates(spark):
    """SemDeDup: exact-copy vectors planted at higher ids are dropped
    (cos=1 to their original, and identical vectors always land in the
    same k-means cell); originals and non-duplicates survive."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    originals = emb.filter(F.col("vec_id") < 20)
    copies = originals.withColumn("vec_id", F.col("vec_id") + 100000)
    planted = emb.unionByName(copies)
    out = sim.semdedup(planted, threshold=0.95, n_cells=8, iters=2).collect()
    kept = {r.vec_id for r in out if r.is_kept}
    dropped = {r.vec_id for r in out if not r.is_kept}
    for i in range(20):
        assert 100000 + i in dropped, f"planted copy of {i} survived"
        assert i in kept, f"original {i} was dropped"
    assert len(kept) + len(dropped) == planted.count()


def test_minhash_banded_exactverify_planted(spark, planted_docs):
    """Two-stage banded-MinHash → exact-verify: every planted pair is
    confirmed with its exact Jaccard, no false positives survive, and
    pairs are canonically ordered."""
    out = dd.minhash_jaccard_verified(planted_docs, threshold=0.5).collect()
    found = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    for p in range(10):
        pair = (p * 7, 1000 + p)
        assert pair in found, f"planted pair {p} missed"
        # one token of 40 edited ⇒ 3-gram shingle sets differ in ≤ 3+3
        # of 38 shingles each ⇒ J ≥ (38-3)/(38+3) ≈ 0.85
        assert found[pair] >= 0.8
    for (a, b), j in found.items():
        assert a < b
        assert 0.5 <= j <= 1.0
    # distinct base docs never pair (disjoint vocabularies)
    assert all(b >= 1000 for (a, b) in found)


def test_minhash_band_parameterization(spark, planted_docs):
    """bands must divide num_perm; precision dial (fewer bands, more
    rows/band) can only shrink the candidate set."""
    with pytest.raises(ValueError, match="must divide"):
        dd.minhash_band_candidates(planted_docs, num_perm=16, bands=5)
    high_recall = dd.minhash_band_candidates(planted_docs, num_perm=16, bands=16)
    high_precision = dd.minhash_band_candidates(planted_docs, num_perm=16, bands=4)
    hr = {(r.doc_a, r.doc_b) for r in high_recall.collect()}
    hp = {(r.doc_a, r.doc_b) for r in high_precision.collect()}
    assert hp <= hr
    # the planted near-dups survive even the precision dial (J≈0.85,
    # P(band match) = J^4 ≈ 0.52 per band, 4 bands ⇒ ~0.95 — and the
    # xxhash64 permutations are deterministic, so this is replay-stable)
    assert sum(1 for p in range(10) if (p * 7, 1000 + p) in hp) >= 7


def test_minhash_signatures_deterministic(spark, planted_docs):
    """Signatures are identical across independent computations — the
    determinism Spark ML's MinHashLSH cannot promise across sessions."""
    a = {r.doc_id: tuple(r[f"mh{i}"] for i in range(8))
         for r in dd.minhash_signatures(planted_docs, num_perm=8).collect()}
    b = {r.doc_id: tuple(r[f"mh{i}"] for i in range(8))
         for r in dd.minhash_signatures(planted_docs, num_perm=8).collect()}
    assert a == b and len(a) == 130


def test_salted_hotkey_join_bounds_per_reducer_rows(spark):
    """The join_skew_stress contract: with salt_mod=32 and a
    high-cardinality salt source, the hot key's rows spread across all
    32 (key, salt) groups and no group exceeds ~2x the even share —
    i.e. max-task-rows drops from |hot| to O(|hot| / salt_mod).  Also
    asserts the targeted form is result-invariant vs the unsalted
    join on real fixture data."""
    from data_ingest_utils_spark.operators.relational import salted_join_hotkeys
    from data_ingest_utils_spark.sources.readers import load_table

    li = load_table(spark, SF_T2, "lineitem").select(
        F.when(F.col("l_linenumber") % 3 == 0, F.lit(1).cast("long"))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_linenumber",
        "l_partkey",
        "l_extendedprice",
    )
    n_hot = li.filter(F.col("k") == 1).count()
    assert n_hot > 1000  # the remap really is pathological at sf0.01
    salted = li.filter(F.col("k") == 1).withColumn(
        "_salt", F.pmod(F.xxhash64("l_partkey", "l_linenumber"), F.lit(32))
    )
    per_salt = salted.groupBy("_salt").count().collect()
    assert len(per_salt) == 32, "hot rows must reach every salt bucket"
    assert max(r["count"] for r in per_salt) <= 2 * n_hot / 32

    orders = load_table(spark, SF_T2, "orders").select("o_orderkey", "o_orderstatus")
    got = (
        salted_join_hotkeys(
            li, orders, "k", "o_orderkey", [1],
            salt_src=["l_partkey", "l_linenumber"], salt_mod=32,
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s"))
    )
    want = (
        li.join(orders, li["k"] == orders["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_hotkey_join_rejects_bad_args(spark):
    from data_ingest_utils_spark.operators.relational import salted_join_hotkeys

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="non-empty"):
        salted_join_hotkeys(df, df, "k", "k", [], ["v"])
    with pytest.raises(ValueError, match="result-invariant"):
        salted_join_hotkeys(df, df, "k", "k", [1], ["v"], how="full")


def test_salted_hotkey_join_keeps_null_keys(spark):
    """NULL-keyed fact rows must survive fact-preserving joins: `~isin`
    is NULL (not false) for them, so a naive branch split drops them
    from BOTH branches — left/left_anti results would silently lose
    rows the unsalted join keeps."""
    from data_ingest_utils_spark.operators.relational import salted_join_hotkeys

    fact = spark.createDataFrame(
        [(1, "hot1"), (1, "hot2"), (2, "cold"), (None, "nullkey")],
        "k long, v string",
    )
    dim = spark.createDataFrame([(1, "x"), (3, "y")], "dk long, d string")
    for how in ("left", "left_anti"):
        got = salted_join_hotkeys(
            fact, dim, "k", "dk", [1], salt_src=["v"], salt_mod=4, how=how
        )
        want = fact.join(dim, fact["k"] == dim["dk"], how)
        key = lambda row: tuple(map(repr, row))  # None-safe total order
        assert sorted(map(tuple, got.select(*want.columns).collect()), key=key) == \
            sorted(map(tuple, want.collect()), key=key), how


def test_audit_hash_distinguishes_nulls_and_delimiter_injection(spark):
    """Deterministic audit fingerprints must differ for (a) rows
    differing only in WHICH column is NULL (concat_ws skips NULL args)
    and (b) rows where a value CONTAINS the chr(31) field delimiter
    (length-prefixing pins field extents)."""
    from data_ingest_utils_spark.operators import ingest as ing

    df = spark.createDataFrame(
        [
            (1, "a", None),
            (2, None, "a"),
            (3, "a\x1fb", "c"),
            (4, "a", "b\x1fc"),
            (5, "\x1e", None),
            (6, None, None),
        ],
        "id long, x string, y string",
    )
    rows = ing.with_audit(df.select("x", "y"), deterministic=True).select(
        "_audit_row_hash"
    ).collect()
    hashes = [r[0] for r in rows]
    assert len(set(hashes)) == len(hashes), hashes


def test_verify_pairs_array_drops_zero_overlap_candidates(spark):
    """The shared verify stage must never surface zero-intersection
    candidate pairs, even at threshold=0.0 — band collisions with no
    shared shingles would otherwise appear with jaccard=0.0 and feed
    spurious edges to connected_components."""
    cands = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    hv = spark.createDataFrame(
        [(1, [10, 20]), (2, [30]), (3, [10])], "doc_id long, hv array<long>"
    )
    out = {
        (r.doc_a, r.doc_b)
        for r in dd._verify_pairs_array(cands, hv, "doc_id", 0.0).collect()
    }
    assert out == {(1, 3)}


def test_verify_broadcast_and_shuffle_attach_identical(
    spark, planted_docs, monkeypatch
):
    """The broadcast gate changes ONLY the physical attach strategy:
    forced-broadcast and forced-shuffle runs of the banded verify must
    return identical (doc_a, doc_b, jaccard) sets, and the broadcast
    run's physical plan must attach both arrays via broadcast-hash
    joins (no per-pair array re-shuffle)."""
    monkeypatch.setattr(dd, "_resolve_broadcast_verify", lambda *a: True)
    bcast_df = dd.ngram_jaccard_banded(planted_docs, threshold=0.0)
    bcast = {(r.doc_a, r.doc_b, r.jaccard) for r in bcast_df.collect()}
    monkeypatch.setattr(dd, "_resolve_broadcast_verify", lambda *a: False)
    shuf = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dd.ngram_jaccard_banded(planted_docs, threshold=0.0).collect()
    }
    assert bcast == shuf and len(bcast) > 0
    plan = bcast_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_verify_broadcast_auto_gate(spark, monkeypatch):
    """Local masters always take the shuffle attach (no network
    exchange to save — measured slower with broadcast); distributed
    masters broadcast iff the doc count fits
    BROADCAST_VERIFY_MAX_DOCS, so the 100 TB path fails closed to
    shuffle."""
    docs = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(8)],
        "doc_id long, text string",
    )
    cluster = "spark://host:7077"
    # local-cluster spawns real executor JVMs (netty shuffle/torrent
    # broadcast over loopback) — the DISTRIBUTED arm, despite the
    # "local" prefix; ABCHECK_r09.json executed it for real
    # (git show 6d6278f:tools/broadcast_verify_ab.py)
    lc = "local-cluster[2,4,4096]"
    monkeypatch.setattr(dd, "BROADCAST_VERIFY_MAX_DOCS", 100)
    # this suite runs on local[*]: resolves to shuffle
    assert dd._resolve_broadcast_verify(docs, "doc_id") is False
    # distributed masters: count-gated
    assert dd._resolve_broadcast_verify(docs, "doc_id", cluster) is True
    assert dd._resolve_broadcast_verify(docs, "doc_id", lc) is True
    monkeypatch.setattr(dd, "BROADCAST_VERIFY_MAX_DOCS", 4)
    assert dd._resolve_broadcast_verify(docs, "doc_id", cluster) is False
    assert dd._resolve_broadcast_verify(docs, "doc_id", lc) is False


def test_cosine_nan_contract(spark):
    """A NaN element (failed encoder) must yield NULL cosine — Spark
    treats NaN as larger than everything, so without the nanvl fold a
    poisoned vector passes every >= threshold filter and sorts FIRST
    under desc, displacing real neighbors (round-8 review —
    reproduced on llm_knn_join and llm_embed_near_dup)."""
    nan = float("nan")
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [nan, 1.0]), (2, [1.0, 0.0], [1.0, 0.0]),
         (3, [0.0, 0.0], [1.0, 0.0])],
        "id long, a array<double>, b array<double>",
    )
    rows = {r.id: r.c for r in df.select(
        "id", sim.pairwise_cosine(F.col("a"), F.col("b")).alias("c")
    ).collect()}
    assert rows[1] is None        # NaN element -> NULL, not NaN
    assert abs(rows[2] - 1.0) < 1e-12
    assert rows[3] is None        # zero norm -> NULL (existing contract)
    # and NULL fails a threshold filter, matching the SQL oracles'
    # NOT isnan guards
    kept = df.filter(
        sim.pairwise_cosine(F.col("a"), F.col("b")) >= 0.4
    ).count()
    assert kept == 1


def test_knn_join_drops_nan_poisoned_vectors(spark, monkeypatch):
    """llm_knn_join's per-row guard must exclude NaN-poisoned vectors:
    NaN sq_norm passes `> 0` (NaN compares larger than everything), so
    the isnan leg is load-bearing."""
    from data_ingest_utils_spark.plans import llm as llm_plans

    nan = float("nan")
    emb = spark.createDataFrame(
        [(1, "c0", [1.0, 0.0]), (2, "c0", [0.9, 0.1]),
         (3, "c0", [nan, 1.0]), (4, "c0", [0.0, 1.0])],
        "vec_id long, label string, embedding array<double>",
    )
    monkeypatch.setattr(llm_plans, "load_table", lambda s, d, t: emb)
    out = llm_plans.llm_knn_join(spark, "ignored").collect()
    ids = {r.vec_id for r in out} | {r.nbr_id for r in out}
    assert 3 not in ids, out
    assert all(r.cos_sim is not None for r in out)


def test_with_audit_reaudit_is_content_idempotent(spark):
    """Re-auditing an already-audited frame must hash only the
    business columns: folding stale _audit_* values into the new
    fingerprint would give identical content different hashes per
    prior load (round-8 review).  Both branches, and the non-file
    source column surfaces NULL, not ''."""
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    for det in (False, True):
        once = ing.with_audit(df, load_id="A", deterministic=det)
        twice = ing.with_audit(once, load_id="B", deterministic=det)
        h1 = once.select("_audit_row_hash").first()[0]
        h2 = twice.select("_audit_row_hash").first()[0]
        assert h1 == h2, f"deterministic={det}"
        # in-memory frame: no input file -> NULL lineage, not ''
        assert twice.select("_audit_source_file").first()[0] is None


def test_simhash_band_candidates_drop_blank_docs(spark):
    """Blank/whitespace docs must never produce band-candidate pairs:
    before the round-8 fix every blank doc hashed the single ''
    feature to the identical signature and all four bands collided —
    a quadratic blowup on blank-heavy corpora (reproduced: 4 docs, 2
    blank + 1 whitespace -> 3 bogus pairs)."""
    docs = spark.createDataFrame(
        [(1, ""), (2, " "), (3, "real tokens here okay"), (4, "")],
        "doc_id long, text string",
    )
    assert dd.simhash_band_candidates(docs).count() == 0
    sigs = dd.simhash64(docs)
    assert {r.doc_id for r in sigs.collect()} == {3}


def test_simhash_double_signature_geometry(spark, planted_docs):
    """Round 16 (8×16-band landing): ``signatures=2`` must (a) keep
    the FIRST signature and its four bands bit-identical to the
    historical ``signatures=1`` form — ``llm_dedup_simhash``'s
    driver-certified output rides that path, (b) produce a genuinely
    independent second signature, and (c) make the band candidate set
    a SUPERSET of the 4-band one (extra bands only add collision
    opportunities — the measured recall lift's mechanism)."""
    one = {r.doc_id: r for r in dd.simhash64(planted_docs).collect()}
    two = {r.doc_id: r for r in
           dd.simhash64(planted_docs, signatures=2).collect()}
    assert set(one) == set(two)
    for d, r1 in one.items():
        r2 = two[d]
        assert r2.simhash == r1.simhash
        for b in range(4):
            assert r2[f"band{b}"] == r1[f"band{b}"]
    # salted hash family is independent: signatures differ for
    # (essentially) every doc
    diff = sum(1 for d in one if two[d].simhash1 != two[d].simhash)
    assert diff >= 0.99 * len(one)
    # the sha256 hash_fn composes with multi-signature salting too
    # (the salted term feeds sha2 exactly as it feeds xxhash64):
    # first signature matches the historical sha256 form, second is
    # independent
    sha1 = {r.doc_id: r.simhash
            for r in dd.simhash64(planted_docs, hash_fn="sha256").collect()}
    sha2 = {r.doc_id: r for r in dd.simhash64(
        planted_docs, hash_fn="sha256", signatures=2).collect()}
    assert all(sha2[d].simhash == s for d, s in sha1.items())
    assert sum(1 for d in sha1 if sha2[d].simhash1 != sha2[d].simhash) \
        >= 0.99 * len(sha1)
    c1 = {(r.doc_a, r.doc_b) for r in
          dd.simhash_band_candidates(planted_docs, signatures=1).collect()}
    c2 = {(r.doc_a, r.doc_b) for r in
          dd.simhash_band_candidates(planted_docs, signatures=2).collect()}
    assert c1 <= c2, "8-band candidates must contain every 4-band pair"


def _simhash64_explode_agg_form(df, unit, n, hash_fn, signatures):
    """The pre-r17 simhash64 formulation, reproduced verbatim for the
    twin test below: explode the feature stream, hash per (doc, term)
    row, 64·S conditional ±1 sums per doc, sign-of-sum bit packing.
    This WAS the production path through round 16 (and the form the
    r17 Arrow kernel's ad-hoc 16-dial equivalence sweep ran against);
    keeping it as a test-local reference pins the kernel the same way
    test_kmeans_assign_matches_literal_form pins the k-means kernel."""
    from data_ingest_utils_spark.operators.relational import ensure_parallelism
    from data_ingest_utils_spark.operators.text import shingles, tokens

    feats = (
        F.array_remove(tokens(F.col("text")), "")
        if unit == "token"
        else shingles(F.col("text"), n)
    )
    tok = ensure_parallelism(df, "doc_id").select(
        "doc_id", F.explode(feats).alias("term")
    )
    for s in range(signatures):
        term = (
            F.col("term") if s == 0
            else F.concat(F.col("term"), F.lit("\x01" * s))
        )
        if hash_fn == "xxhash64":
            tok = tok.withColumn(f"th{s}", F.xxhash64(term))
        else:
            h = F.sha2(term, 256)
            upper = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            lower = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
            tok = tok.withColumn(
                f"th{s}", F.shiftleft(upper, 32).bitwiseOR(lower)
            )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"th{s}"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{s}b{i}")
        for s in range(signatures)
        for i in range(64)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    sig_names = ["simhash"] + [f"simhash{s}" for s in range(1, signatures)]
    sigs = [
        sum(
            (
                F.when(
                    F.col(f"s{s}b{i}") > 0,
                    F.shiftleft(F.lit(1).cast("long"), i),
                ).otherwise(F.lit(0).cast("long"))
                for i in range(64)
            ),
            start=F.lit(0).cast("long"),
        ).alias(sig_names[s])
        for s in range(signatures)
    ]
    out = per_doc.select("doc_id", *sigs)
    for s in range(signatures):
        for b in range(4):
            out = out.withColumn(
                f"band{s * 4 + b}",
                F.shiftrightunsigned(F.col(sig_names[s]), b * 16).bitwiseAND(
                    F.lit(0xFFFF)
                ),
            )
    return out


@pytest.mark.parametrize(
    "unit,hash_fn,signatures",
    [
        ("token", "xxhash64", 2),   # the production banded-dedup dials
        ("shingle", "sha256", 1),   # the oracle-checkable + shingle arm
    ],
)
def test_simhash64_kernel_matches_explode_agg_form(
    spark, planted_docs, unit, hash_fn, signatures
):
    """Round 17: the mapInArrow bit-count kernel (numpy unpackbits +
    reduceat) must reproduce the pre-r17 explode + 64·S-conditional-sum
    hash-agg formulation BIT-FOR-BIT — every signature long and every
    16-bit band, including blank-doc drops and two's-complement sign
    wraps.  Pure integer arithmetic both sides, so equality is exact,
    not tolerance.  Corpus: planted near-dups + blank/whitespace/
    unicode/single-token edge docs + real fixture documents."""
    edge = spark.createDataFrame(
        [
            (5001, ""),                      # drops (no features)
            (5002, "   "),                   # whitespace-only (see below)
            (5003, "one"),                   # single feature
            (5004, "répété répété ünïcode"),  # repeated + non-ascii
            (5005, "a b c d e f g h i j"),   # short distinct tokens
        ],
        "doc_id long, text string",
    )
    real = (
        spark.read.parquet(f"{SF_T2}/documents.parquet")
        # +10000 keeps fixture ids disjoint from planted/edge ids: a
        # collision would merge two docs in the agg form (groupBy) but
        # not in the kernel (row-per-row), failing spuriously
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        .limit(200)
    )
    docs = planted_docs.unionByName(edge).unionByName(real)
    kw = dict(unit=unit, hash_fn=hash_fn, signatures=signatures)
    new = {r["doc_id"]: r.asDict() for r in dd.simhash64(docs, **kw).collect()}
    old = {
        r["doc_id"]: r.asDict()
        for r in _simhash64_explode_agg_form(
            docs, unit=unit, n=3, hash_fn=hash_fn, signatures=signatures
        ).collect()
    }
    assert set(new) == set(old), "doc drop semantics drifted"
    # Blank text drops on both arms ("" → 1 token < n for shingles;
    # array_remove leaves nothing for tokens).  Whitespace-only drops
    # only on the TOKEN arm: split(" ") preserves empty tokens, so
    # "   " has 4 tokens and yields 2 shingles — a real signature that
    # both formulations must (and do) agree on.
    assert 5001 not in new
    assert (5002 not in new) if unit == "token" else (5002 in new)
    for d, row in old.items():
        assert new[d] == row, f"doc {d}: kernel {new[d]} != agg {row}"


def test_zorder_write_null_fractional_propagates(spark, tmp_path):
    """ADVICE r15: a NULL clustering value in the FRACTIONAL quant
    branch must propagate NULL into the z-value (nulls-first range
    placement, matching the integral branch's floor(NULL)) — not be
    silently clamped by F.least into top bucket 65535, co-locating
    NULL-keyed rows with the max-value rows."""
    from data_ingest_utils_spark.sources.writers import zorder_write

    rows = [(i, float(i), float(i % 97)) for i in range(1, 2001)]
    src = spark.createDataFrame(
        rows, "k int, x double, y double"
    ).unionByName(
        spark.createDataFrame(
            [(9001, None, 50.0), (9002, None, 51.0)],
            "k int, x double, y double",
        )
    )
    zp = str(tmp_path / "znull")
    zorder_write(src, zp, "x", "y", n_files=4)
    back = spark.read.parquet(zp)
    assert back.count() == 2002  # NULL-keyed rows never lost
    wf = back.withColumn("f", F.input_file_name())
    null_files = {
        r.f for r in wf.filter(F.col("x").isNull()).select("f").collect()
    }
    max_file = wf.orderBy(F.desc("x")).select("f").first().f
    assert null_files, "NULL rows vanished from the layout"
    assert max_file not in null_files, (
        "NULL-keyed rows co-located with the max-value bucket — the "
        "F.least clamp regression"
    )


def test_with_audit_default_hash_distinguishes_null_position(spark):
    """xxhash64 skips null inputs, so without the per-column null
    flags ('a', NULL) and (NULL, 'a') collide on the default row
    fingerprint (round-8 review — reproduced)."""
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, "a"), (3, "a", "a"), (4, None, None)],
        "id long, x string, y string",
    )
    hashes = [
        r[0]
        for r in ing.with_audit(df.select("x", "y"))
        .select("_audit_row_hash")
        .collect()
    ]
    assert len(set(hashes)) == len(hashes), hashes


def test_sample_frames_validates_params(spark):
    """every/frame_bytes must fail fast at call time, not as an opaque
    per-task PythonException after the payload scan."""
    from data_ingest_utils_spark.operators import multimodal as mm

    df = spark.createDataFrame([(1, bytearray(b"abc"))], "doc_id long, payload binary")
    with pytest.raises(ValueError, match="every"):
        mm.sample_frames(df, every=0)
    with pytest.raises(ValueError, match="frame_bytes"):
        mm.sample_frames(df, frame_bytes=0)


def test_minhash_paths_drop_empty_and_whitespace_docs(spark):
    """split('', ' ') is [''] — empty/whitespace docs must be DROPPED
    (documented contract), not collapsed onto the shared {''} feature
    set where every blank doc pairs with every other at distance 0."""
    docs = spark.createDataFrame(
        [(1, ""), (2, " "), (3, "real tokens here okay")],
        "doc_id long, text string",
    )
    sigs = dd.minhash_signatures(docs, num_perm=4)
    assert {r.doc_id for r in sigs.collect()} == {3}
    pairs = dd.minhash_lsh_pairs(docs, max_distance=0.9)
    assert pairs.count() == 0


def test_explode_packed_sequences_zero_token_docs_emit_nothing(spark):
    """A zero-token doc must emit NO (doc, seq) rows regardless of
    whether its cumsum sits mid-sequence or exactly on a boundary."""
    from data_ingest_utils_spark.operators.text import explode_packed_sequences

    t = spark.createDataFrame(
        [(1, 100, 100), (2, 0, 100), (3, 1948, 2048), (4, 0, 2048), (5, 5, 2053)],
        "doc_id long, n long, cum long",
    )
    out = explode_packed_sequences(t, seq_len=2048)
    by_doc = {r.doc_id for r in out.collect()}
    assert by_doc == {1, 3, 5}, sorted(by_doc)


def test_extract_features_validates_dim(spark):
    from data_ingest_utils_spark.operators import multimodal as mm

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    packed = mm.pack_payload(df)
    with pytest.raises(ValueError, match=r"dim=9"):
        mm.extract_features(packed, dim=9)


def test_parse_ppm_known_image():
    """The real PPM decoder against a hand-built 2x1 image: header
    fields and every pixel byte recovered exactly; malformed payloads
    (bad magic, truncated raster, 16-bit maxval) raise ValueError
    rather than poisoning downstream statistics."""
    import numpy as np
    import pytest

    from data_ingest_utils_spark.operators import multimodal as mm

    raw = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    w, h, px = mm.parse_ppm(raw)
    assert (w, h) == (2, 1)
    assert px.shape == (1, 2, 3)
    assert px.tolist() == [[[10, 20, 30], [40, 50, 60]]]
    assert float(px.reshape(-1, 3).mean(axis=0)[0]) == 25.0  # (10+40)/2

    with pytest.raises(ValueError, match="magic"):
        mm.parse_ppm(b"P5\n2 1\n255\n" + bytes(2))
    with pytest.raises(ValueError, match="truncated"):
        mm.parse_ppm(b"P6\n2 1\n255\n" + bytes(5))
    with pytest.raises(ValueError, match="maxval"):
        mm.parse_ppm(b"P6\n1 1\n65535\n" + bytes(6))
    # magic not followed by whitespace: b"P642..." must not merge
    # "42" into the width token (ADVICE r8)
    with pytest.raises(ValueError, match="whitespace"):
        mm.parse_ppm(b"P642 12 255\n" + bytes(12))
    # int() accepts b"1_0" (underscore separators) and b"+2" — the
    # header tokens must be plain ASCII digits (ADVICE r8)
    with pytest.raises(ValueError, match="non-numeric"):
        mm.parse_ppm(b"P6\n1_0 1\n255\n" + bytes(30))
    with pytest.raises(ValueError, match="non-numeric"):
        mm.parse_ppm(b"P6\n+2 1\n255\n" + bytes(6))
    assert np.issubdtype(px.dtype, np.uint8)


def test_parse_wav_known_clip():
    """The real WAV decoder against a stdlib-written 4-sample clip:
    frame count, rate, and int16 samples recovered exactly; non-WAV
    bytes and unsupported layouts (stereo) raise ValueError."""
    import io
    import struct
    import wave

    import pytest

    from data_ingest_utils_spark.operators import multimodal as mm

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(struct.pack("<4h", -32768, -1, 0, 32767))
    n, rate, s = mm.parse_wav(buf.getvalue())
    assert (n, rate) == (4, 8000)
    assert s.tolist() == [-32768, -1, 0, 32767]

    with pytest.raises(ValueError, match="WAV"):
        mm.parse_wav(b"definitely not a riff chunk")
    stereo = io.BytesIO()
    with wave.open(stereo, "wb") as wv:
        wv.setnchannels(2)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    with pytest.raises(ValueError, match="mono"):
        mm.parse_wav(stereo.getvalue())
    # data chunk truncated at an EVEN byte count: readframes silently
    # returns fewer samples than the header's getnframes(), desyncing
    # n_samples from the sample array (ADVICE r8) — must raise
    with pytest.raises(ValueError, match="truncated|WAV"):
        mm.parse_wav(buf.getvalue()[:-2])


def test_parse_bmp_known_image():
    """The real BMP decoder against a hand-built 2x2 24-bit bitmap:
    bottom-up row order flipped back, BGR swapped to RGB, and the
    2-byte row padding stripped; unsupported layouts (8-bit, RLE) and
    bad magic raise ValueError.  parse_image dispatches PPM vs BMP on
    the magic, not the filename."""
    import struct

    import pytest

    from data_ingest_utils_spark.operators import multimodal as mm

    # image rows (top-down RGB): [[R0,G0,B0],[R1,G1,B1]] / [[R2..],[R3..]]
    want = [
        [[10, 11, 12], [20, 21, 22]],
        [[30, 31, 32], [40, 41, 42]],
    ]
    row_size = (2 * 3 + 3) & ~3  # 8: two padding bytes per row
    raster = b""
    for y in (1, 0):  # bottom-up storage
        row = b"".join(
            bytes((px[2], px[1], px[0])) for px in want[y]  # BGR
        )
        raster += row + b"\x00" * (row_size - len(row))
    payload = (
        struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(raster),
                      2835, 2835, 0, 0)
        + raster
    )
    w, h, px = mm.parse_bmp(payload)
    assert (w, h) == (2, 2)
    assert px.tolist() == want
    # dispatcher: same payload through parse_image
    assert mm.parse_image(payload)[2].tolist() == want

    with pytest.raises(ValueError, match="magic"):
        mm.parse_bmp(b"XX" + payload[2:])
    bad_bpp = payload[:28] + struct.pack("<H", 8) + payload[30:]
    with pytest.raises(ValueError, match="24-bit"):
        mm.parse_bmp(bad_bpp)
    with pytest.raises(ValueError, match="truncated"):
        mm.parse_bmp(payload[:-3])
    # data_offset below the 14 + hdr_size header span (here 0) would
    # slice header bytes into the raster and decode garbage pixels
    # silently (ADVICE r8) — must be a classifiable decode error
    bad_off = payload[:10] + struct.pack("<I", 0) + payload[14:]
    with pytest.raises(ValueError, match="data offset"):
        mm.parse_bmp(bad_off)
    bad_off2 = payload[:10] + struct.pack("<I", 53) + payload[14:]
    with pytest.raises(ValueError, match="data offset"):
        mm.parse_bmp(bad_off2)
    with pytest.raises(ValueError, match="unrecognized"):
        mm.parse_image(b"\x89PNG\r\n")


def test_semdedup_nan_vector_poisons_nothing(spark):
    """A NaN-element vector (failed encoder) must not mark same-cell
    neighbors as duplicates: its pair cosine is NaN, and Spark
    evaluates NaN >= threshold as TRUE unless folded to NULL — the
    round-8 pairwise_cosine contract, applied to semdedup's inline
    precomputed-norm filter."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0 — must be kept
        (2, [float("nan"), 1.0, 0.0, 0.0]),  # poisoned
        (3, [0.0, 0.0, 1.0, 0.0]),   # orthogonal to all — must be kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # n_cells=1 forces every vector into ONE cell, so each poisoned
    # pair (0,2), (1,2), (2,3) is definitely generated — pre-fix,
    # NaN >= 0.95 evaluated TRUE and dropped vectors 2 and 3
    out = {r.vec_id: r.is_kept for r in
           sim.semdedup(df, threshold=0.95, n_cells=1, iters=1).collect()}
    # NO vector may be dropped: there is no real cosine >= 0.95 pair
    assert all(out.values()), out


def test_parse_y4m_known_clip():
    """The real Y4M decoder against a hand-built 2-frame 2x2 mono
    clip: header tags parsed, per-FRAME planes extracted exactly;
    truncated frames, chroma-subsampled streams, and bad magic raise
    ValueError."""
    import pytest

    from data_ingest_utils_spark.operators import multimodal as mm

    payload = (
        b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono\n"
        b"FRAME\n" + bytes([1, 2, 3, 4]) +
        b"FRAME\n" + bytes([5, 6, 7, 8])
    )
    w, h, frames = mm.parse_y4m(payload)
    assert (w, h) == (2, 2)
    assert frames.shape == (2, 2, 2)
    assert frames[0].tolist() == [[1, 2], [3, 4]]
    assert frames[1].tolist() == [[5, 6], [7, 8]]

    with pytest.raises(ValueError, match="magic"):
        mm.parse_y4m(b"RIFFYUV4MPEG2")
    with pytest.raises(ValueError, match="Cmono"):
        mm.parse_y4m(b"YUV4MPEG2 W2 H2 C420\nFRAME\n" + bytes(6))
    with pytest.raises(ValueError, match="truncated|marker"):
        mm.parse_y4m(b"YUV4MPEG2 W2 H2 Cmono\nFRAME\n" + bytes(3))
    with pytest.raises(ValueError, match="no frames"):
        mm.parse_y4m(b"YUV4MPEG2 W2 H2 Cmono\n")


def test_kmeans_iterations_do_not_rescan_source(spark):
    """VERDICT r9 #2: the (id, vec) projection is localCheckpoint'ed
    once before the Lloyd loop, so per-iteration actions (stats
    collect + reassignment) read the materialized projection instead
    of re-deriving the full lineage from the source scan — at 100 TB
    the old shape re-read the corpus every iteration.  Assert the
    final assignment plan has NO file scan (it reads the checkpoint's
    ExistingRDD) while a plain projection of the same input does."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    assigned, _, _ = sim.kmeans_fit_predict(emb, k=8, iters=2)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    control = emb.select("vec_id")._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in control.lower()  # the probe string is valid
    assert "parquet" not in plan.lower(), plan
    assert "ExistingRDD" in plan or "Scan" in plan


def test_pq_plan_shapes(spark):
    """PQ scale-shape assertions (the new-key .explain hygiene):

    - the graded llm_sim_pq runs the CACHED-codebook read path (round
      12): no Lloyd fit, no checkpoint — the plan is exactly TWO
      parquet scans (one feeding encode+ADC, one the exact-rerank
      join back to the float vectors), each consumed once.  One scan
      would mean a checkpoint crept back in (fit cost on the read
      path); three+ would mean a stage re-derives the source.  The
      queries attach by a Generate inline of one folded literal and
      the only join is the broadcast id-list rerank join — never a
      cartesian product over data;
    - the incremental MinHash probe's full plan contains no cartesian
      product: band candidates ride the (band_idx, band_hash)
      equi-join, verify rides id equi-joins, admission is a left-anti
      join.
    """
    from data_ingest_utils_spark.plans import QUERIES

    pq = QUERIES["llm_sim_pq"](spark, SF_T2)
    plan = pq._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("scan parquet") == 2, plan
    assert "CartesianProduct" not in plan, plan
    # round 13 (cached CODES): the coarse side now scans the packed
    # (vec_id, _codes) parquet index and folds the LUT per row — the
    # subvector explode and its groupBy hash-agg must be GONE from
    # the graded plan (their cost moved to the epoch build)
    assert "posexplode" not in plan.lower(), plan
    generators = [l for l in plan.splitlines() if "Generate " in l]
    assert all("Generate inline(" in l for l in generators), plan

    inc = QUERIES["llm_dedup_minhash_incremental"](spark, SF_T2)
    iplan = inc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in iplan, iplan
    assert "LeftAnti" in iplan, iplan

    # batched PQ: the per-query LUTs attach by a Generate inline of one
    # folded literal, never a cartesian product over data, and the
    # rerank join is broadcast
    batch = QUERIES["llm_sim_pq_batch"](spark, SF_T2)
    bplan = batch._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in bplan, bplan
    assert "posexplode" not in bplan.lower(), bplan  # cached codes path

    # IVF-PQ with the persisted (vec_id, cell, _codes) index: probe =
    # a cell filter on the codes scan, rerank = the embeddings scan —
    # two scans, no explode, no cartesian
    ivf = QUERIES["llm_sim_ivf_pq"](spark, SF_T2)
    vplan = ivf._jdf.queryExecution().executedPlan().toString()
    assert vplan.lower().count("scan parquet") == 2, vplan
    assert "posexplode" not in vplan.lower(), vplan
    assert "CartesianProduct" not in vplan, vplan


def _nearest_literal(sv, book):
    """The Catalyst nearest-codeword argmin the PQ encode and fit ran
    before the shared numpy one, as its ``(d, c)`` struct: squared-L2
    left fold per codeword, array_min over (d, index) structs — ties
    to the lower index, NaN above every double."""
    return F.array_min(
        F.transform(
            book,
            lambda cv, i: F.struct(
                F.aggregate(
                    F.zip_with(sv, cv, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                i.alias("c"),
            ),
        )
    )


def test_pq_packed_encode_matches_literal_form(spark):
    """pq_encode_packed's numpy argmin (similarity._nearest) must give
    every vector the codes of the literal Catalyst argmin over the same
    unit subvectors, so serving from the cached packed index can never
    drift from the expression form it replaced."""
    from pyspark.sql import types as T

    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    books = sim.pq_fit_codebooks(emb, m=8, codebook_k=4, iters=1)
    ds = len(books[0][0])
    packed = {
        r["vec_id"]: list(r["_codes"])
        for r in sim.pq_encode_packed(emb, books).collect()
    }
    lit = sim._plan_literal(books, T.ArrayType(T.ArrayType(sim._VEC)))
    subs = F.array(*[F.slice("_uv", j * ds + 1, ds) for j in range(8)])
    codes = F.transform(
        subs, lambda sv, j: _nearest_literal(sv, F.element_at(lit, j + 1))["c"]
    )
    base = sim._pq_unit_base(emb, "embedding", "vec_id")
    literal = {
        r["vec_id"]: list(r["_codes"])
        for r in base.select("vec_id", codes.alias("_codes")).collect()
    }
    assert len(packed) == 200
    assert packed == literal


def test_nearest_ties_and_nan_match_struct_min(spark):
    """similarity._nearest on the cases Spark's struct ordering pins:
    an exact tie goes to the lower index, a NaN distance loses to every
    number, and an all-NaN row lands on index 0 — indices AND distance
    doubles equal the literal argmin's."""
    import numpy as np

    nan = float("nan")
    book = [[nan, 0.0], [0.0, 1.0], [1.0, 0.0], [0.0, 1.0]]
    rows = [[1.0, 1.0], [0.0, 1.0], [nan, 0.0], [0.9, 0.1]]
    idx, d = sim._nearest(np.asarray(rows), np.asarray(book))
    df = spark.createDataFrame(list(enumerate(rows)), "i int, v array<double>")
    lit = F.array(*[F.array(*[F.lit(x) for x in c]) for c in book])
    want = (
        df.select("i", _nearest_literal(F.col("v"), lit).alias("b"))
        .orderBy("i")
        .select("b.c", "b.d")
        .collect()
    )
    assert list(idx) == [r.c for r in want] == [1, 1, 0, 2]
    np.testing.assert_array_equal(d, [r.d for r in want])


def test_fits_run_one_job_per_lloyd_pass(spark):
    """Each Lloyd iteration is ONE job (a _lloyd_pass collect): k-means
    k=8 iters=2 runs checkpoint + seed collect + 2 passes + the final
    SSE pass, the PQ fit checkpoint + seed collect + 2 passes."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    _, km = count_jobs(spark, lambda: sim.kmeans_fit_predict(emb, k=8, iters=2))
    _, pq = count_jobs(
        spark, lambda: sim.pq_fit_codebooks(emb, m=32, codebook_k=16, iters=2)
    )
    assert km <= 5 and pq <= 4, (km, pq)


def test_fits_reject_ragged_and_skip_null_vectors(spark):
    """Fit input the model cannot place: a vector of another length
    than the seeds, or one with a NULL element, raises instead of
    landing in cell 0 and skewing its means; a NULL vector adds
    nothing, so an extra high-id NULL row leaves the centroids as they
    were."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    top = emb.agg(F.max("vec_id")).collect()[0][0]

    def plus(vec):
        return emb.union(spark.createDataFrame([(top + 1, vec)], emb.schema))

    _, cents, _ = sim.kmeans_fit_predict(emb, k=8, iters=2)
    assert sim.kmeans_fit_predict(plus(None), k=8, iters=2)[1] == cents
    dim = len(cents[0])
    for bad in ([0.5] * (dim - 1), [None] + [0.5] * (dim - 1)):
        with pytest.raises(ValueError, match="NULL element"):
            sim.kmeans_fit_predict(plus(bad), k=8, iters=2)
    with pytest.raises(ValueError, match="NULL element"):
        sim.pq_fit_codebooks(plus([0.5] * (dim + 8)), m=8, codebook_k=4, iters=1)


def test_pq_dim_mismatch_raises(spark):
    """ADVICE r12: a codebook/data dimension mismatch must fail
    loudly — F.slice truncates and zip_with null-pads silently, so
    without the in-plan check wrong codes would flow through ADC."""
    import pytest as _pytest
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet").limit(50)
    books = sim.pq_fit_codebooks(emb, m=8, codebook_k=4, iters=1)
    shrunk = emb.select(
        "vec_id", F.slice("embedding", 1, 12).alias("embedding")
    )
    with _pytest.raises(Exception, match="data dim"):
        sim.pq_encode_packed(shrunk, books).collect()


def test_kmeans_survives_cents_named_input(spark):
    """ADVICE r9: an input whose vector column is literally named
    `_cents` must not make the centroid-model attach ambiguous."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet").select(
        "vec_id", F.col("embedding").alias("_cents")
    )
    assigned, cents, sse = sim.kmeans_fit_predict(
        emb, k=4, iters=1, vec_col="_cents"
    )
    assert assigned.count() == emb.count()
    assert len(cents) == 4


def test_bloom_incremental_matches_plain_anti_join(spark):
    """llm_dedup_bloom_incremental must admit EXACTLY the docs the
    plain anti-join key admits (a bloom has no false negatives; hits
    are exactly-verified), with bloom_hit=true only on certified
    false positives — the r10 scale path's no-lost-docs contract."""
    from data_ingest_utils_spark.plans import QUERIES

    plain = {
        r.doc_id
        for r in QUERIES["llm_incremental_dedup"](spark, SF_T2).collect()
    }
    rows = QUERIES["llm_dedup_bloom_incremental"](spark, SF_T2).collect()
    assert {r.doc_id for r in rows} == plain
    # surviving hits are the bloom's false positives — they must have
    # cleared the exact verify, i.e. still be in the plain result
    fps = {r.doc_id for r in rows if r.bloom_hit}
    assert fps <= plain


def test_embed_near_dup_gemm_matches_join_path(spark):
    """The GEMM pair scorer (round 13) must reproduce the equi-join +
    fold path exactly — ids AND 4-dp sims — at the t2 fixture, so the
    graded key's switch is a plan change, not an output change."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    gemm = (
        sim.embedding_near_dup_pairs_gemm(emb, threshold=0.4, block_col="label")
        .orderBy("vec_a", "vec_b")
        .collect()
    )
    join = (
        sim.embedding_near_dup_pairs(emb, threshold=0.4, block_col="label")
        .orderBy("vec_a", "vec_b")
        .collect()
    )
    assert [tuple(r) for r in gemm] == [tuple(r) for r in join]
    # strip chunking must not change anything (strip smaller than blocks)
    small = (
        sim.embedding_near_dup_pairs_gemm(
            emb, threshold=0.4, block_col="label", strip=7
        )
        .orderBy("vec_a", "vec_b")
        .collect()
    )
    assert [tuple(r) for r in small] == [tuple(r) for r in join]


def test_embed_near_dup_gemm_null_semantics(spark):
    """Code-review r13: a NULL block label must not become a pairable
    group (the join path's equi-join drops NULL keys) and a NULL
    vector must drop silently (the join path's NULL cosine filtered
    it) instead of making np.stack raise."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet").limit(40)
    poisoned = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
        F.when(F.col("vec_id") % 3 == 0, F.lit(None)).otherwise(
            F.col("label")
        ).alias("label"),
    )
    gemm = (
        sim.embedding_near_dup_pairs_gemm(poisoned, threshold=0.0, block_col="label")
        .orderBy("vec_a", "vec_b")
        .collect()
    )
    join = (
        sim.embedding_near_dup_pairs(poisoned, threshold=0.0, block_col="label")
        .orderBy("vec_a", "vec_b")
        .collect()
    )
    assert [tuple(r) for r in gemm] == [tuple(r) for r in join]
    null_label_ids = {
        r.vec_id for r in poisoned.filter(F.col("label").isNull()).collect()
    }
    for r in gemm:
        assert r.vec_a not in null_label_ids and r.vec_b not in null_label_ids


def test_mixture_weighted_semantics(spark):
    """llm_mixture_weighted's SEMANTIC contract (the parity hash pins
    values; this pins the mixture MATH against future edits): the
    binding language — argmin((T_l*65536) div w_l) — keeps every
    token (rate saturates at 1, the no-upsampling rule), every other
    language is strictly downsampled, achieved token shares track the
    /65536 targets within hash-sampling variance, and the draw is
    deterministic across invocations."""
    from data_ingest_utils_spark.plans import QUERIES

    rows = {
        r.lang: r
        for r in QUERIES["llm_mixture_weighted"](spark, SF_T2).collect()
    }
    assert set(rows) == {"en", "zh", "de", "fr", "es"}
    binding = min(rows.values(), key=lambda r: ((r.t_tokens * 65536) // r.w))
    # binding language: w*S = w*floor(T*65536/w) > T*65536 - w, so at
    # most ceil(w/T) of the 65536 buckets reject — rate ~1, and any
    # formula breakage would drop retention to ~target share (<0.5).
    # 0.95 absorbs the unlikely token-heavy doc in a rejected bucket.
    assert binding.n_tokens_kept >= 0.95 * binding.t_tokens, binding
    total_kept = sum(r.n_tokens_kept for r in rows.values())
    for r in rows.values():
        assert r.n_tokens_kept <= r.t_tokens
        # achieved share within 35% relative of the /65536 target
        # (md5-bucket draw over ~100 docs/lang at sf0.01 — binomial
        # noise; the parity hash pins the exact values, this bound
        # only has to catch a broken formula, which is off by 2x+)
        target = r.w / 65536.0
        achieved = r.n_tokens_kept / total_kept
        assert abs(achieved - target) / target < 0.35, (r.lang, achieved, target)
    again = {
        r.lang: (r.n_docs_kept, r.n_tokens_kept)
        for r in QUERIES["llm_mixture_weighted"](spark, SF_T2).collect()
    }
    assert again == {
        lang: (r.n_docs_kept, r.n_tokens_kept) for lang, r in rows.items()
    }


def test_zorder_layout_bounds_both_column_spans(spark, tmp_path):
    """zorder_write's layout contract: every output file's min/max
    span is bounded on BOTH clustering columns (~1/sqrt(n_files) of
    the domain + curve-crossing slop), which is what lets parquet
    file/row-group skipping serve box predicates on either column —
    while a 1-D range layout on l_orderkey leaves l_partkey spans at
    ~the full domain.  Asserted from the real parquet footers."""
    import glob

    import pyarrow.parquet as pq

    from data_ingest_utils_spark.sources.writers import zorder_write

    li = spark.read.parquet(f"{SF_T2}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )

    def spans(path, per_file_out=None):
        rel = {"l_orderkey": [], "l_partkey": []}
        glo = {c: [float("inf"), float("-inf")] for c in rel}
        per_file = per_file_out if per_file_out is not None else []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            if md.num_row_groups == 0:
                continue  # empty range partition: no layout evidence
            fmin = {c: float("inf") for c in rel}
            fmax = {c: float("-inf") for c in rel}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    stats = col.statistics
                    if name in rel and stats is not None and stats.has_min_max:
                        fmin[name] = min(fmin[name], stats.min)
                        fmax[name] = max(fmax[name], stats.max)
            # fail loudly on a data file whose footer carries no
            # min/max for a clustering column — a silent inf would
            # corrupt the averaged spans into a vacuous pass
            assert all(fmin[c] <= fmax[c] for c in rel), (f, fmin, fmax)
            per_file.append((fmin, fmax))
            for c in rel:
                glo[c][0] = min(glo[c][0], fmin[c])
                glo[c][1] = max(glo[c][1], fmax[c])
        assert len(per_file) >= 8, f"too few data files under {path}"
        for c in rel:
            width = glo[c][1] - glo[c][0] + 1
            rel[c] = [
                (fmax[c] - fmin[c] + 1) / width for fmin, fmax in per_file
            ]
        return {c: sum(v) / len(v) for c, v in rel.items()}

    zp = str(tmp_path / "z")
    zorder_write(li, zp, "l_orderkey", "l_partkey", n_files=16)
    z_files = []
    z_spans = spans(zp, z_files)
    # both dimensions bounded — the property no 1-D layout has
    assert z_spans["l_orderkey"] < 0.6, z_spans
    assert z_spans["l_partkey"] < 0.6, z_spans

    op = str(tmp_path / "o")
    (
        li.repartitionByRange(16, F.col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(op)
    )
    o_files = []
    o_spans = spans(op, o_files)
    assert o_spans["l_orderkey"] < 0.2, o_spans  # 1-D sort: tight on its key
    assert o_spans["l_partkey"] > 0.8, o_spans  # ...and blind on the other

    # Skip-count invariant (round 15, VERDICT r14 #3): pin the READ
    # benefit the spans imply, with the same min/max overlap test the
    # parquet reader runs.  For a bottom-quarter predicate on the
    # NON-sort column, the z-layout must let the reader skip at least
    # 1/4 of its files while the 1-D layout can skip none; measured
    # decode volumes at sf1.0 are in ZORDER_AB_r15.json / BASELINE.md
    # (z decodes 32% of rows vs 100% for the 1-D twin on this shape).
    pk_max = max(h["l_partkey"] for _, h in o_files)
    cut = pk_max // 4

    def files_skipped(per_file):
        return sum(1 for lo, _hi in per_file if lo["l_partkey"] > cut)

    assert files_skipped(z_files) >= 4, [l["l_partkey"] for l, _ in z_files]
    assert files_skipped(o_files) == 0, [l["l_partkey"] for l, _ in o_files]


def test_zorder_write_nan_does_not_collapse_dimension(spark, tmp_path):
    """Code-review r16 (live-reproduced): Spark's min/max order NaN
    LARGEST, so one NaN row used to make span = NaN and
    floor(x / NaN) quantize EVERY row to bucket 0 — silently
    collapsing the whole dimension's layout.  With the fix, bounds
    exclude NaN, NaN rows take the NULL (nulls-first) slot, and the
    non-NaN rows still get a genuinely bounded per-file span."""
    import glob
    import math

    import pyarrow.parquet as pq

    from data_ingest_utils_spark.sources.writers import zorder_write

    rows = [(i, float(i), float(i % 97)) for i in range(1, 2001)]
    src = spark.createDataFrame(
        rows, "k int, x double, y double"
    ).unionByName(
        spark.createDataFrame(
            [(9001, float("nan"), 50.0)], "k int, x double, y double"
        )
    )
    zp = str(tmp_path / "znan")
    zorder_write(src, zp, "x", "y", n_files=8)
    back = spark.read.parquet(zp)
    assert back.count() == 2001  # the NaN row survives
    assert back.filter(F.isnan("x")).count() == 1
    # the x dimension did NOT collapse: per-file x spans are bounded
    # (bucket-0 collapse would put the full domain in every file)
    spans = []
    for f in sorted(glob.glob(f"{zp}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo, hi = float("inf"), float("-inf")
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                stats = col.statistics
                if col.path_in_schema == "x" and stats is not None \
                        and stats.has_min_max and not math.isnan(stats.min):
                    lo, hi = min(lo, stats.min), max(hi, stats.max)
        if hi >= lo:
            spans.append((hi - lo) / 2000.0)
    assert spans and sum(spans) / len(spans) < 0.8, spans


def test_zorder_write_inf_does_not_collapse_dimension(spark, tmp_path):
    """ADVICE r17: the r16 NaN fix excluded NaN from the min/max
    domain bounds but not ±Infinity — a single inf row made
    span = inf, so floor(x / inf) quantized every FINITE row to
    bucket 0, silently collapsing the dimension via a different
    special value.  With the fix, bounds exclude all non-finite
    values, ±inf rows take the NULL (nulls-first) slot alongside
    NaN, and the finite rows keep a genuinely bounded per-file span."""
    import glob
    import math

    import pyarrow.parquet as pq

    from data_ingest_utils_spark.sources.writers import zorder_write

    rows = [(i, float(i), float(i % 97)) for i in range(1, 2001)]
    src = spark.createDataFrame(
        rows, "k int, x double, y double"
    ).unionByName(
        spark.createDataFrame(
            [(9001, float("inf"), 50.0), (9002, float("-inf"), 51.0)],
            "k int, x double, y double",
        )
    )
    zp = str(tmp_path / "zinf")
    zorder_write(src, zp, "x", "y", n_files=8)
    back = spark.read.parquet(zp)
    assert back.count() == 2002  # both inf rows survive
    assert back.filter(F.col("x") == float("inf")).count() == 1
    assert back.filter(F.col("x") == float("-inf")).count() == 1
    # the x dimension did NOT collapse: per-file x spans over the
    # finite domain are bounded (span=inf collapse would put the full
    # finite domain in every file)
    spans = []
    for f in sorted(glob.glob(f"{zp}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo, hi = float("inf"), float("-inf")
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                stats = col.statistics
                if col.path_in_schema == "x" and stats is not None \
                        and stats.has_min_max and math.isfinite(stats.min) \
                        and math.isfinite(stats.max):
                    lo, hi = min(lo, stats.min), max(hi, stats.max)
        if hi >= lo:
            spans.append((hi - lo) / 2000.0)
    assert spans and sum(spans) / len(spans) < 0.8, spans


def test_zorder16_nd_reference_and_2col_compat(spark):
    """zorder16_nd (round 16): the N-dim interleave must (a) match a
    hand-rolled Python Morton reference bit-for-bit for D=2 and D=3
    (the D=2 case IS the historical zorder16 the certified layouts
    were built with — a drift here would silently invalidate the
    fingerprint-cached z-fixtures), and (b) reject D outside 1..4."""
    import pytest

    from data_ingest_utils_spark.sources.writers import zorder16_nd

    def ref_morton(coords):
        z = 0
        d = len(coords)
        for i in range(16):
            for j, q in enumerate(coords):
                z |= ((q >> i) & 1) << (d * i + j)
        return z

    cases = [
        (0, 0, 0), (1, 2, 3), (65535, 65535, 65535),
        (65535, 0, 1), (12345, 54321, 4097), (32768, 16384, 8192),
    ]
    df = spark.createDataFrame(cases, "qx long, qy long, qz long")
    got2 = df.select(
        zorder16_nd(F.col("qx"), F.col("qy")).alias("z")
    ).collect()
    got3 = df.select(
        zorder16_nd(F.col("qx"), F.col("qy"), F.col("qz")).alias("z")
    ).collect()
    for (qx, qy, qz), r2, r3 in zip(cases, got2, got3):
        assert r2.z == ref_morton((qx, qy)), (qx, qy)
        assert r3.z == ref_morton((qx, qy, qz)), (qx, qy, qz)
    with pytest.raises(ValueError):
        zorder16_nd()
    with pytest.raises(ValueError):
        zorder16_nd(*[F.col("qx")] * 5)


def test_zorder16_nd_d4_nonnegative_and_reference(spark):
    """ADVICE r17: with 16-bit coordinates, D=4 wrote dimension 3's
    top bit to position 63 — the JVM long's sign bit — so half the
    domain became negative z-values and repartitionByRange's signed
    ordering split the Morton curve at the sign seam.  The fix
    quantizes D=4 to 15 bits (z ≤ 60 bits, always non-negative).
    Pin: (a) D=4 matches the 15-bit Python Morton reference
    bit-for-bit, (b) the all-max coordinate (32767⁴) yields a
    POSITIVE z, (c) zorder_bits is 16 for D ≤ 3 / 15 for D = 4."""
    from data_ingest_utils_spark.sources.writers import (
        zorder16_nd,
        zorder_bits,
    )

    assert [zorder_bits(d) for d in (1, 2, 3, 4)] == [16, 16, 16, 15]

    def ref_morton(coords, bits):
        z = 0
        d = len(coords)
        for i in range(bits):
            for j, q in enumerate(coords):
                z |= ((q >> i) & 1) << (d * i + j)
        return z

    cases = [
        (0, 0, 0, 0), (1, 2, 3, 4), (32767, 32767, 32767, 32767),
        (32767, 0, 1, 16384), (12345, 21321, 4097, 32000),
        (16384, 8192, 4096, 2048),
    ]
    df = spark.createDataFrame(cases, "qa long, qb long, qc long, qd long")
    got = df.select(
        zorder16_nd(
            F.col("qa"), F.col("qb"), F.col("qc"), F.col("qd")
        ).alias("z")
    ).collect()
    for coords, r in zip(cases, got):
        assert r.z == ref_morton(coords, 15), coords
        assert r.z >= 0, coords


def test_zorder4_layout_no_sign_seam_file(spark, tmp_path):
    """ADVICE r17 regression at the layout level: before the 15-bit
    fix, the file straddling the z sign seam spanned nearly the full
    domain on ALL FOUR clustering columns (signed range ordering cut
    the Morton curve at the sign flip).  After the fix every file's
    span is bounded: no file may span >90% of the domain on all four
    columns simultaneously, and the per-column mean span over files
    stays below the ~1.0 a collapsed layout would show."""
    import glob

    import pyarrow.parquet as pq

    from data_ingest_utils_spark.sources.writers import zorder_write

    n = 4096
    rows = [
        (i, (i * 7) % n, (i * 131) % n, (i * 631) % n) for i in range(n)
    ]
    src = spark.createDataFrame(rows, "a long, b long, c long, d long")
    zp = str(tmp_path / "z4")
    zorder_write(src, zp, "a", "b", "c", "d", n_files=16)
    cols = ["a", "b", "c", "d"]
    per_file = []
    for f in sorted(glob.glob(f"{zp}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = {c: float("inf") for c in cols}
        hi = {c: float("-inf") for c in cols}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                s = col.statistics
                if col.path_in_schema in lo and s is not None \
                        and s.has_min_max:
                    lo[col.path_in_schema] = min(lo[col.path_in_schema], s.min)
                    hi[col.path_in_schema] = max(hi[col.path_in_schema], s.max)
        per_file.append(
            {c: (hi[c] - lo[c]) / (n - 1) for c in cols if hi[c] >= lo[c]}
        )
    assert len(per_file) >= 8
    # the sign-seam pathology: one file spanning ~everything on all 4
    seam_files = [
        s for s in per_file if len(s) == 4 and all(v > 0.9 for v in s.values())
    ]
    assert not seam_files, per_file
    for c in cols:
        spans = [s[c] for s in per_file if c in s]
        assert sum(spans) / len(spans) < 0.85, (c, spans)


def test_zorder3_layout_bounds_all_three_spans(spark, tmp_path):
    """3-column z-order (round 16, VERDICT r15 #7): every output
    file's min/max span bounded on ALL THREE clustering columns.
    Geometry: 16 files fix the top 4 z-bits — with D=3 that pins the
    top bit of two dims (span ≈ 1/2) and the top two bits of one
    (span ≈ 1/4), plus curve-crossing slop on boundary files — so the
    honest bound is ~0.5–0.6 average with slop, strictly below the
    ~1.0 a 1-D sort leaves on its non-sort columns.  This is the
    capability grade for D=3; the registry's graded read path stays
    the 2-col fixture (a second fingerprint-cached layout build would
    double the sweep's one-time ceiling for no new read-path code)."""
    import glob

    import pyarrow.parquet as pq

    from data_ingest_utils_spark.sources.writers import zorder_write

    li = spark.read.parquet(f"{SF_T2}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    cols = ["l_orderkey", "l_partkey", "l_suppkey"]
    zp = str(tmp_path / "z3")
    zorder_write(li, zp, *cols, n_files=16)

    glo = {c: [float("inf"), float("-inf")] for c in cols}
    per_file = []
    for f in sorted(glob.glob(f"{zp}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        if md.num_row_groups == 0:
            continue
        fmin = {c: float("inf") for c in cols}
        fmax = {c: float("-inf") for c in cols}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                stats = col.statistics
                if col.path_in_schema in cols and stats is not None \
                        and stats.has_min_max:
                    c = col.path_in_schema
                    fmin[c] = min(fmin[c], stats.min)
                    fmax[c] = max(fmax[c], stats.max)
        assert all(fmin[c] <= fmax[c] for c in cols), (f, fmin, fmax)
        per_file.append((fmin, fmax))
        for c in cols:
            glo[c][0] = min(glo[c][0], fmin[c])
            glo[c][1] = max(glo[c][1], fmax[c])
    assert len(per_file) >= 8, f"too few data files under {zp}"
    avg_span = {}
    for c in cols:
        width = glo[c][1] - glo[c][0] + 1
        avg_span[c] = sum(
            (fmax[c] - fmin[c] + 1) / width for fmin, fmax in per_file
        ) / len(per_file)
    for c in cols:
        assert avg_span[c] < 0.8, avg_span  # every dim bounded
    # and the layout is genuinely 3-D: no dim is left near-unbounded
    # the way a 1-D or 2-D layout leaves its unclustered columns
    assert sum(avg_span.values()) / 3 < 0.65, avg_span


def test_zorder_write_fractional_columns(spark, tmp_path):
    """zorder_write on DOUBLE clustering columns (ADVICE r14: the
    integer span formula hi-lo+1 skewed fractional bucket boundaries;
    the quantizer now branches on column type).  Contracts: (a) every
    row survives the rewrite — a NaN/null z from a bad span formula
    would silently drop rows into a null range partition or crash the
    interleave; (b) the layout still bounds BOTH columns' per-file
    spans; (c) a constant fractional column (span 0) degenerates to
    bucket 0 instead of divide-by-zero null z."""
    import glob

    import pyarrow.parquet as pq

    from data_ingest_utils_spark.sources.writers import zorder_write

    n = 4096
    df = spark.range(n).select(
        (F.hash(F.col("id").cast("string")) / 2147483648.0).alias("x"),
        (F.hash((F.col("id") + 7).cast("string")) / 2147483648.0).alias("y"),
        F.col("id"),
    )
    zp = str(tmp_path / "zf")
    zorder_write(df, zp, "x", "y", n_files=16)
    back = spark.read.parquet(zp)
    assert back.count() == n
    assert back.agg(F.sum("id")).head()[0] == n * (n - 1) // 2

    per_file = []
    for f in sorted(glob.glob(f"{zp}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        if md.num_row_groups == 0:
            continue
        lo = {"x": float("inf"), "y": float("inf")}
        hi = {"x": float("-inf"), "y": float("-inf")}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                s = col.statistics
                if col.path_in_schema in lo and s is not None and s.has_min_max:
                    lo[col.path_in_schema] = min(lo[col.path_in_schema], s.min)
                    hi[col.path_in_schema] = max(hi[col.path_in_schema], s.max)
        per_file.append((lo, hi))
    assert len(per_file) >= 8
    for c in ("x", "y"):  # domain ≈ [-1, 1): true-span form, no +1 skew
        mean_span = sum(h[c] - l[c] for l, h in per_file) / len(per_file) / 2.0
        assert mean_span < 0.6, (c, mean_span)

    # constant fractional column: span 0 must not null out the curve
    cp = str(tmp_path / "zc")
    const = spark.range(64).select(
        F.lit(0.5).alias("x"), (F.col("id") / 64.0).alias("y"), "id"
    )
    zorder_write(const, cp, "x", "y", n_files=4)
    assert spark.read.parquet(cp).count() == 64


def test_ngram_banded_recall_floor_table():
    """Round 17 (VERDICT r16 task #5): the banded-dedup recall floor
    is PER-SCALE, each entry derived as measured-recall − explicit
    tolerance (replacing the single global 0.95 that sat 1.5 pts
    under the sf0.1 measurement).  Pin the derivation: every floor is
    strictly below its measured point by its own tolerance, the
    measured points match SIMHASH8_r16's committed band, and the
    resolver maps sf dirs (trailing slash included) and unknown
    scales correctly."""
    from tools.rowsonly_certificate import (
        NGRAM_BANDED_RECALL_FLOOR_DEFAULT,
        NGRAM_BANDED_RECALL_FLOORS,
        ngram_banded_recall_floor,
    )

    # the committed measured band (SIMHASH8_r16.json / BASELINE.md)
    assert NGRAM_BANDED_RECALL_FLOORS["sf0.01"][0] == 1.0
    assert NGRAM_BANDED_RECALL_FLOORS["sf0.1"][0] == 0.9648
    assert NGRAM_BANDED_RECALL_FLOORS["sf1.0"][0] == 0.976
    for scale, (measured, tol) in NGRAM_BANDED_RECALL_FLOORS.items():
        floor = ngram_banded_recall_floor(f"/root/testdata/{scale}")
        assert floor == round(measured - tol, 4), (scale, floor)
        assert 0.9 <= floor < measured, (scale, floor)
        assert 0.0 < tol <= 0.05, (scale, tol)
    # trailing slash and .scale-style parents resolve the same
    assert ngram_banded_recall_floor("/root/testdata/sf0.1/") == \
        ngram_banded_recall_floor("/root/testdata/sf0.1")
    assert ngram_banded_recall_floor("/root/repo/.scale/sf1.0") == \
        round(0.976 - 0.035, 4)
    # unknown scale falls back to the weakest measured point − tol
    assert ngram_banded_recall_floor("/tmp/whatever") == \
        round(NGRAM_BANDED_RECALL_FLOOR_DEFAULT, 4)


def test_knn_join_gemm_matches_join_path(spark):
    """The kNN GEMM scorer (round 17) must reproduce the equi-join +
    fold + window-top-k path exactly — ids, ranks AND 4-dp sims — so
    the graded key's switch is a plan change, not an output change
    (the near-dup GEMM twin-pinning pattern)."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    base = emb.filter((sq > 0) & ~F.isnan(sq))
    gemm = (
        sim.knn_join_gemm(base, k=3).orderBy("vec_id", "rnk").collect()
    )
    join = (
        sim.knn_join_blocked(base, k=3).orderBy("vec_id", "rnk").collect()
    )
    assert [tuple(r) for r in gemm] == [tuple(r) for r in join]
    assert len(gemm) > 0
    # strip chunking must not change anything (strip smaller than blocks)
    small = (
        sim.knn_join_gemm(base, k=3, strip=7).orderBy("vec_id", "rnk").collect()
    )
    assert [tuple(r) for r in small] == [tuple(r) for r in join]
    # k larger than any block: every vector still gets block_size-1
    # neighbors, rnk dense from 1 — same as the window path
    gbig = (
        sim.knn_join_gemm(base, k=10_000).orderBy("vec_id", "rnk").collect()
    )
    jbig = (
        sim.knn_join_blocked(base, k=10_000).orderBy("vec_id", "rnk").collect()
    )
    assert [tuple(r) for r in gbig] == [tuple(r) for r in jbig]


def test_readme_library_example_binds():
    """Every library call in README's "Using as a library" block binds
    to its function's current signature, so the example cannot go
    stale as parameters are removed or made keyword-only."""
    import ast
    import inspect
    from pathlib import Path

    readme = (Path(__file__).parents[1] / "README.md").read_text()
    section = readme.split("## Using as a library", 1)[1]
    tree = ast.parse(section.split("```python", 1)[1].split("```", 1)[0])
    ns: dict = {}
    imports = [n for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom))]
    exec(compile(ast.Module(imports, []), "README", "exec"), ns)

    def resolve(f):
        if isinstance(f, ast.Name):
            return ns.get(f.id)
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            return getattr(ns.get(f.value.id), f.attr, None)
        return None

    bound = set()
    for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
        fn = resolve(call.func)
        if getattr(fn, "__module__", "").startswith("data_ingest_utils_spark"):
            inspect.signature(fn).bind(
                *call.args, **{kw.arg: kw.value for kw in call.keywords}
            )
            bound.add(fn.__name__)
    assert {
        "minhash_jaccard_verified", "kmeans_fit_predict", "ivf_topk_kmeans"
    } <= bound, bound
