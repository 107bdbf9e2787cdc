"""Physical-plan shape assertions — the 100×-scale insurance layer.

Correctness tests prove the VALUES; these prove the PLAN: filters
reach the parquet scan, small dims broadcast, top-k uses
WindowGroupLimit / TakeOrderedAndProject, and pair generators never
degenerate into cartesian products.  A plan regression here is a
performance cliff at 100 TB even when every value still matches.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from data_ingest_utils_spark.plans import QUERIES
from tests.conftest import SF_T2


def _plan(spark, key: str) -> str:
    df = QUERIES[key](spark, SF_T2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushed_to_scan(spark):
    """sel_filter_date's date predicate must reach the parquet reader
    (PushedFilters), not run as a post-scan Filter only."""
    plan = _plan(spark, "sel_filter_date")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"empty PushedFilters in:\n{plan}"


def test_projection_pruned_at_scan(spark):
    """sel_project reads only the projected columns (ReadSchema)."""
    plan = _plan(spark, "sel_project")
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # The full 16-column lineitem schema must NOT be scanned.
    assert read_schema.count(",") < 8, read_schema


@pytest.mark.parametrize("key", ["join_inner_broadcast", "join_multiway_star"])
def test_dim_joins_broadcast(spark, key):
    """Small-dimension joins must be BroadcastHashJoin, never
    shuffle-both-sides for a dim that fits in memory."""
    assert "BroadcastHashJoin" in _plan(spark, key)


def test_topk_per_group_uses_window_group_limit(spark):
    """win_topk_per_group must carry the WindowGroupLimit optimization
    (per-partition top-k pruning before the shuffle)."""
    assert "WindowGroupLimit" in _plan(spark, "win_topk_per_group")


def test_order_limit_uses_take_ordered(spark):
    """sort_limit_topk must finish with TakeOrderedAndProject — a
    per-partition heap + driver merge, never a global sort."""
    assert "TakeOrderedAndProject" in _plan(spark, "sort_limit_topk")


@pytest.mark.parametrize(
    "key",
    ["llm_embed_near_dup", "llm_dedup_ngram_jaccard", "llm_dedup_near",
     "llm_sim_pairs_lsh", "llm_dedup_near_exactverify"],
)
def test_pair_generators_never_cartesian(spark, key):
    """Every pair-generating operator must block/bucket its pair space:
    no CartesianProduct or BroadcastNestedLoopJoin in the plan."""
    plan = _plan(spark, key)
    assert "CartesianProduct" not in plan, f"cartesian in {key}"
    assert "BroadcastNestedLoopJoin" not in plan, f"nested-loop in {key}"


@pytest.mark.parametrize("key", ["llm_sim_topk", "llm_sim_ivf", "llm_sim_ivf_kmeans"])
def test_sim_topk_no_join(spark, key):
    """The exact rung attaches its query batch from one folded literal
    — the plan must be scan → project → TakeOrderedAndProject with NO
    join, with or without a cell filter."""
    plan = _plan(spark, key)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_mips_dot_evaluated_once(spark):
    """llm_sim_mips scores each row with ONE dot product: its NULL
    drop sits after the cut, so no Filter pushed below the projection
    (or into the scan's DataFilters) evaluates the ``zip_with`` dot a
    second time."""
    df = QUERIES["llm_sim_mips"](spark, SF_T2)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("zip_with(") == 1, executed
    assert "TakeOrderedAndProject" in executed


@pytest.mark.parametrize(
    "key",
    ["llm_sim_binary_hamming", "llm_sim_rerank", "llm_sim_pq", "llm_sim_ivf_pq",
     "llm_sim_pq_batch"],
)
def test_binary_hamming_takeordered_coarse_broadcast_rerank(spark, key):
    """The retrieval rungs' shared tail picks its shape from the batch
    size.  One query: the coarse cut must finish as
    TakeOrderedAndProject (per-partition heads over the codes, no
    global sort, no window).  A query batch: each query's cut is a
    per-query Window.  Either way the candidate join-back is a
    broadcast hash join — the corpus never re-shuffles for the rerank
    — and the queries ride a folded literal, not a driver-built frame
    (ExistingRDD) attached by a nested-loop join."""
    plan = _plan(spark, key)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    if key.endswith("_batch"):
        assert "Window" in plan
    else:
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan
        assert "SortMergeJoin" not in plan


def test_global_agg_partial_final(spark):
    """agg_global must be a two-phase hash aggregate (partial map-side
    combine before the single-partition exchange)."""
    plan = _plan(spark, "agg_hash_group")
    # partial HashAggregate -> Exchange -> final HashAggregate
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_kmeans_assign_broadcast_model(spark):
    """The r17 k-means assignment computes the argmin in ONE map-only
    Arrow kernel (centroids ride the task closure): the plan must be a
    single MapInArrow with NO join/exchange of any kind, and stay
    constant-size in k (the pre-r9 literal form grew O(k·dim) Catalyst
    nodes; the r9–r16 form paid a BroadcastNestedLoopJoin model
    attach)."""
    import contextlib
    import io

    from data_ingest_utils_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    assigned, _, _ = sim.kmeans_fit_predict(emb, k=8, iters=1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assigned.explain("formatted")
    plan = buf.getvalue()
    assert "MapInArrow" in plan  # the vectorized assignment kernel
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange" not in plan  # map-only: no shuffle at any scale
    # constant-size: no per-centroid expression expansion in the plan
    assert len(plan) < 20_000, f"assign plan ballooned: {len(plan)} chars"


def test_knn_join_not_cartesian(spark):
    """llm_knn_join (r17 GEMM form) blocks by label with ONE exchange
    and takes the top-k inside the Arrow kernel — no pair-stream join,
    no cartesian, no post-kernel window pass."""
    plan = _plan(spark, "llm_knn_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the per-block GEMM kernel
    import re as _re

    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 1  # one label shuffle
    assert "Window" not in plan  # top-k taken in-kernel


def test_salted_join_spreads_key(spark):
    """join_skew_salted joins on (key, salt) — the equi-join keys must
    include the salt column."""
    plan = _plan(spark, "join_skew_salted")
    assert "_salt" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_self_join_no_exchange(spark):
    """Self-join of the bucketed table on the bucket key must read
    bucketed (SelectedBucketsCount) and join WITHOUT any Exchange —
    the write-once-shuffle-never payoff."""
    import contextlib
    import io

    from data_ingest_utils_spark.plans import QUERIES

    # Materialize the bucketed table (idempotent).
    QUERIES["sink_bucketed_table"](spark, SF_T2).collect()
    t = spark.table("dius_lineitem_bucketed")
    # At fixture scale the planner would BROADCAST this join (its own
    # BroadcastExchange, bucketed read "disabled by query planner") —
    # turn broadcast off so the plan is the large-large shape where
    # bucketing matters, then assert the WHOLE plan is Exchange-free.
    # (No aggregation either: a global agg adds its own exchange.)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = t.alias("a").join(t.alias("b"), "l_orderkey").select(
            "l_orderkey", F.col("a.l_quantity")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SelectedBucketsCount" in plan, plan
    assert "Exchange" not in plan, plan


def test_partitioned_sink_prunes_partitions(spark):
    """A filter on the partition column of the partitioned sink must
    become a PartitionFilter (directory pruning), not a data filter."""
    from data_ingest_utils_spark.plans import QUERIES

    QUERIES["sink_parquet_partitioned"](spark, SF_T2).collect()
    df = spark.read.parquet("/tmp/data_ingest_utils_spark/sink_customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "c_mktsegment" in pf[0], plan


def test_compacted_files_count(spark):
    """ing_compact_small_files actually reduces 64 files to 4."""
    import glob

    from data_ingest_utils_spark.plans import QUERIES

    QUERIES["ing_compact_small_files"](spark, SF_T2).collect()
    frag = glob.glob("/tmp/data_ingest_utils_spark/fragmented_lineitem/part-*")
    comp = glob.glob("/tmp/data_ingest_utils_spark/compacted_lineitem/part-*")
    assert len(frag) == 64 and len(comp) == 4, (len(frag), len(comp))


def test_embed_centroid_broadcasts_no_expansion_join(spark):
    """llm_embed_centroid must attach the 10 centroid arrays via a
    BroadcastHashJoin on label — never a shuffle of the exploded
    (n x 64)-row table back onto the vectors, and never a cartesian."""
    plan = _plan(spark, "llm_embed_centroid")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_topk_uses_window_group_limit(spark):
    """llm_ngram_counts' per-lang top-20 must ride WindowGroupLimit
    (per-partition k-limit before the full window sort)."""
    plan = _plan(spark, "llm_ngram_counts")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_funnel_single_window_no_self_join(spark):
    """evt_funnel_conversion is a window + filter + agg — the A-then-B
    pattern must not plan as a self-join (no second events scan joined
    back, no cartesian)."""
    plan = _plan(spark, "evt_funnel_conversion")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") == 0
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_partition_prune_reads_one_year(spark):
    """scan_partition_prune's year filter must resolve against the
    hive directory layout (PartitionFilters on order_year), so other
    years are never scanned."""
    plan = _plan(spark, "scan_partition_prune")
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "order_year" in pf, f"no partition filter in:\n{plan}"


def test_ivf_cells_partition_pruning(spark, tmp_path):
    """Execute the IVF 100 TB story the kmeans/ivf docstrings claim:
    fit cells, PERSIST assignments as the table's partition column,
    and verify a cell probe resolves to PartitionFilters (directory
    pruning — only nprobe/n_cells of the data is ever listed), with
    the pruned read returning exactly that cell's vectors."""
    import contextlib
    import io

    from data_ingest_utils_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    assigned, _, _ = sim.kmeans_fit_predict(emb, k=8, iters=1)
    path = str(tmp_path / "emb_by_cell")
    emb.join(assigned, "vec_id").write.partitionBy("cell").parquet(path)

    probed = spark.read.parquet(path).filter(F.col("cell") == 3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in pf, f"no cell partition filter in:\n{plan}"
    want = {r.vec_id for r in assigned.filter(F.col("cell") == 3).collect()}
    assert {r.vec_id for r in probed.collect()} == want and want


def test_subquery_exists_decorrelates_to_semi_join(spark):
    """sql_subquery_exists must plan as a semi join (Catalyst
    decorrelation), never a per-row subquery or cartesian."""
    plan = _plan(spark, "sql_subquery_exists")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_top_per_window_uses_window_group_limit(spark):
    """evt_top_per_window's rank-1 filter must push a WindowGroupLimit
    below the shuffle so only one row per (window, map partition)
    survives."""
    plan = _plan(spark, "evt_top_per_window")
    assert "WindowGroupLimit" in plan


def test_range_banded_join_is_hash_not_bnlj(spark):
    """join_range_banded's bucket rewrite must plan a broadcast HASH
    join — the whole point is avoiding BroadcastNestedLoopJoin."""
    plan = _plan(spark, "join_range_banded")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_sort_has_no_global_sort(spark):
    """sort_range_distributed must plan RangePartitioning + a LOCAL
    sort (global=false) — the distributed total-order shape — never a
    global merge Sort."""
    plan = _plan(spark, "sort_range_distributed")
    assert "rangepartitioning" in plan.lower()
    # formatted-mode Sort prints "Arguments: [keys...], <global>, 0"
    assert "], false, 0" in plan, f"no local sort in:\n{plan}"
    assert "], true, 0" not in plan, f"global sort found in:\n{plan}"


def test_bitmap_distinct_two_level_shuffle(spark):
    """agg_bitmap_distinct shuffles bitmaps, not rows: the
    (group, bucket) partial bitmap-OR runs map-side (partial agg
    before the first Exchange), and the whole plan has exactly the
    two exchanges the two-level rollup implies — never a per-distinct-
    key shuffle like COUNT(DISTINCT)'s expand."""
    import re

    plan = _plan(spark, "agg_bitmap_distinct")
    assert "bitmap_construct_agg" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "Expand" not in plan, "bitmap path must not use COUNT DISTINCT expand"


def test_inline_generator_no_shuffle(spark):
    """fn_inline's wide-to-long explode is a Generate fused into the
    scan stage — zero exchanges, versus the UNION ALL oracle's two
    scans."""
    import re

    plan = _plan(spark, "fn_inline")
    assert "Generate" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_map_in_arrow_stays_in_scan_stage(spark):
    """udf_map_in_arrow runs inside the scan stage: MapInArrow with no
    exchange — repartitioning around a batch UDF would be a silent
    extra shuffle at 100 TB."""
    import re

    plan = _plan(spark, "udf_map_in_arrow")
    assert "MapInArrow" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_sequence_pattern_single_shuffle(spark):
    """evt_sequence_pattern folds each user's history with ONE shuffle
    on user_id (partial collect_list map-side via ObjectHashAggregate);
    a join- or window-based CEP formulation would take two+."""
    import re

    plan = _plan(spark, "evt_sequence_pattern")
    assert "ObjectHashAggregate" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_zorder_layout_range_partition_local_sort(spark):
    """sort_zorder_layout: z-value computed in codegen, laid out via
    RangePartitioning + LOCAL sort only — the clustering write path
    must never pay a global merge sort."""
    plan = _plan(spark, "sort_zorder_layout")
    assert "rangepartitioning" in plan.lower()
    assert "], false, 0" in plan
    assert "], true, 0" not in plan


def test_geo_grid_join_is_hash_not_cartesian(spark):
    """join_geo_grid must plan a (broadcast) hash join on the grid
    cells — never BroadcastNestedLoop/Cartesian, which is what the
    naive distance predicate alone would produce."""
    plan = _plan(spark, "join_geo_grid")
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_coverage_topk_no_global_window(spark):
    """llm_vocab_coverage's top-100 vocab must be TakeOrderedAndProject
    (per-partition top-k, one merge) — never a row_number window over a
    single partition, which is a full sort of the distinct-token table
    (~10⁸ rows at 100 TB)."""
    plan = _plan(spark, "llm_vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def _n_exchanges(plan: str) -> int:
    """Count shuffle nodes via the formatted detail section — each
    node appears once as '(<id>) Exchange' there (the tree section
    repeats them)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))


def test_asof_forward_single_window_no_join(spark):
    """join_asof_forward is the window formulation of as-of: one
    shuffle on user_id, zero join operators — never a range/theta
    join that BNLJs at scale."""
    plan = _plan(spark, "join_asof_forward")
    assert "Join" not in plan
    assert _n_exchanges(plan) == 1, plan


def test_asof_nearest_reuses_one_exchange(spark):
    """join_asof_nearest brackets each event with prev+next purchase
    via TWO window passes that must share ONE hash partitioning on
    user_id (exchange reuse) — and still no join operator."""
    plan = _plan(spark, "join_asof_nearest")
    assert "Join" not in plan
    assert _n_exchanges(plan) == 1, plan


def test_null_safe_join_is_hash_join(spark):
    """join_null_safe (<=> keys) must stay a hash/sort-merge join —
    null-safe equality is still an equi-join to Spark, never a
    nested-loop fallback."""
    plan = _plan(spark, "join_null_safe")
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_skew_stress_single_scan_one_join(spark):
    """join_skew_stress (round-13 single-scan shape): ONE equi-join on
    (key, salt) — no hot/cold branch split, so no Union and exactly
    one join in the plan — and it must stay a hash join, never a
    nested loop.  The salt is an inline projection on both sides, so
    the fact is scanned once."""
    import re

    plan = _plan(spark, "join_skew_stress")
    assert "Union" not in plan
    # formatted explain repeats node names in the detail section —
    # count join NODES via their "(N) NodeName" detail headers
    joins = re.findall(r"^\(\d+\) (\w*Join\w*)$", plan, re.M)
    assert len(joins) == 1, joins
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "key", ["llm_image_decode", "llm_audio_decode", "llm_video_decode"]
)
def test_media_decode_runs_in_scan_stage(spark, key):
    """The real-decoder keys must decode WHERE THE BYTES LAND: a
    binaryFile scan feeding MapInPandas with NO Exchange anywhere —
    at 100 TB shuffling payload bytes to decode them elsewhere would
    multiply the job's network cost by the media volume.  Only
    (id, scalar features) may ever leave the scan stage."""
    plan = _plan(spark, key)
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan


def test_cobucketed_pair_join_no_exchange_no_sort(spark):
    """join_bucketed_pair's 100 TB claim, asserted in BOTH planner
    modes (broadcast disabled so the plan is the large-large shape):

    1. Default: the co-bucketed orders⋈lineitem sort-merge join reads
       both sides bucketed with NO Exchange — the shuffles are paid
       once at write time.  Sorts remain: since Spark 3, sortBy-aware
       scans are gated off by default because proving one-file-per-
       bucket needs a file listing at planning time.
    2. With spark.sql.legacy.bucketedTableScan.outputOrdering=true
       (and the write's repartition(8, key) guaranteeing one file per
       bucket), the scan reports its sort order and the plan drops
       the Sorts too — join input I/O only, no shuffle, no sort.
    """
    import contextlib
    import io

    from data_ingest_utils_spark.plans import QUERIES

    # Materialize both bucketed tables (idempotent).
    QUERIES["join_bucketed_pair"](spark, SF_T2).collect()

    def join_plan():
        o = spark.table("dius_orders_bucketed")
        li = spark.table("dius_lineitem_bucketed_pair")
        joined = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
            "o_orderpriority", "l_extendedprice"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        return buf.getvalue()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = join_plan()
        assert "SortMergeJoin" in plan, plan
        assert plan.count("SelectedBucketsCount") == 2, plan
        assert "Exchange" not in plan, plan

        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        try:
            sorted_plan = join_plan()
        finally:
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
            )
        assert "SortMergeJoin" in sorted_plan, sorted_plan
        assert "Exchange" not in sorted_plan, sorted_plan
        assert "Sort " not in sorted_plan.replace("SortMergeJoin", "SMJ"), (
            sorted_plan
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_fuzzy_blocked_join_broadcasts_not_cartesian(spark):
    """join_fuzzy_blocked must ride the blocking key as a broadcast
    equi-join — the edit-distance residual is a post-join filter, and
    the pair space must never degenerate into a cartesian product."""
    plan = _plan(spark, "join_fuzzy_blocked")
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan.lower(), plan


def test_substring_dedup_single_window_no_join_back(spark):
    """llm_substring_dedup's cross-doc count must ride ONE window over
    the shingle partition, not a corpus-wide join-back: the plan has
    no join at all, and exactly the three hash-agg exchanges the
    docstring promises (pre-agg on (doc_id, sh), window on sh,
    rollup on doc_id — the first agg's partial/final pair shares one
    exchange)."""
    plan = _plan(spark, "llm_substring_dedup")
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, plan
    assert "Window" in plan, plan
    # count physical nodes via the "(N) Exchange" detail headers —
    # each node appears once in the tree AND once in the detail list
    assert plan.count(") Exchange") <= 3, plan


def test_mixture_weighted_broadcast_rates_no_smj(spark):
    """llm_mixture_weighted's plan (round 14): the 5-row rate frame
    broadcast-joins onto the corpus for the keep filter and onto the
    kept aggregate for the audit join — no SortMergeJoin anywhere (a
    shuffle join against a 5-row side is the 100 TB cliff this key
    must never regress into), and the stats pass reads only the three
    columns it needs (column pruning at the scan)."""
    plan = _plan(spark, "llm_mixture_weighted")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "text" in plan.split("ReadSchema", 1)[1][:400]  # tok source col
    assert "n_chars" not in plan  # untouched corpus column stays pruned


def test_zorder_box_filter_pushed_to_scan(spark):
    """sink_zorder_cluster's box predicate must reach the parquet
    reader of the z-ordered files as pushed filters on BOTH columns —
    with the footer spans bounded (test_invariants), pushed min/max
    filters are what turns the layout into skipped IO."""
    from data_ingest_utils_spark.plans import QUERIES

    df = QUERIES["sink_zorder_cluster"](spark, SF_T2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the 1-row bounds frame attaches by broadcast nested-loop — never
    # a shuffle join or a real cartesian against the fact scan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the box filter's columns reach the z-ordered files' reader (the
    # bounds are runtime values, so the static pushdown is the
    # IsNotNull pair; min/max skipping uses the footer spans pinned in
    # test_invariants).  Containment, not exact-list equality — filter
    # order / extra pushed filters are Spark's business (same
    # tolerance as test_filter_pushed_to_scan).
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "IsNotNull(l_orderkey)" in pushed, plan
    assert "IsNotNull(l_partkey)" in pushed, plan


def test_zorder_pruned_read_literal_pushdown(spark):
    """scan_zorder_pruned (round 15): the read-path grade derives its
    bound as a LITERAL, so the non-sort-column predicate must push as
    a real comparison filter — LessThanOrEqual(l_partkey, …) — into
    the z-ordered files' parquet reader, where the bounded footer
    spans (test_invariants) turn it into skipped row groups.  No join
    of any kind: the graded plan is scan → filter → agg."""
    from data_ingest_utils_spark.plans import QUERIES

    df = QUERIES["scan_zorder_pruned"](spark, SF_T2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "LessThanOrEqual(l_partkey" in pushed, plan
    for node in ("Join", "CartesianProduct", "Exchange hashpartitioning"):
        assert node not in plan, plan


def test_funnel_single_shuffle_no_self_join(spark):
    """evt_funnel_steps: the ordered-sequence funnel must run as ONE
    user-keyed shuffle — two Window passes sharing the same sort, a
    per-user hash agg that REUSES the window's partitioning (no
    exchange between them), and the trivial single-partition rollup.
    The textbook funnel-by-self-join (one shuffled join per stage)
    must not appear."""
    from data_ingest_utils_spark.plans import QUERIES

    df = QUERIES["evt_funnel_steps"](spark, SF_T2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning") == 1, plan
    assert plan.count("- Window (") == 2, plan  # tree nodes, not detail text
    # events scan pruned to the three funnel columns
    read = plan.split("ReadSchema", 1)[1][:200]
    assert "user_id" in read and "event_type" in read, plan
    assert "props" not in read and "value" not in read, plan


def test_funnel_time_to_convert_single_event_shuffle(spark):
    """evt_funnel_time_to_convert (round 16): the funnel-latency
    percentiles must reuse the funnel spine's plan shape — ONE
    user-keyed shuffle serving both Window passes AND the per-user
    rollup, then one tiny stage-keyed exchange over one row per
    converting user.  No self-join per transition (the textbook
    funnel-latency query's cost), and the events scan pruned to the
    three funnel columns."""
    from data_ingest_utils_spark.plans import QUERIES

    df = QUERIES["evt_funnel_time_to_convert"](spark, SF_T2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert plan.count("hashpartitioning(stage") == 1, plan
    assert plan.count("- Window (") == 2, plan
    read = plan.split("ReadSchema", 1)[1][:200]
    assert "user_id" in read and "event_type" in read, plan
    assert "props" not in read and "value" not in read, plan


def test_runtime_bloom_filter_injection(spark):
    """Engine-capability certificate (round 15): Spark's runtime
    BLOOM-FILTER join pruning — the optimizer builds a bloom filter
    from the SELECTIVE side of a shuffle join (bloom_filter_agg over
    the filtered orders keys) and injects a ``might_contain`` filter
    on the fact side's scan, so at 100 TB the big side drops
    non-matching rows BEFORE the shuffle instead of shipping them.

    At fixture scale the default thresholds (creation side < 10 MB is
    satisfied, but the app-side scan must exceed 10 GB) keep the rule
    dormant and Catalyst prefers a broadcast join outright, so this
    test scopes the three confs that make the rule fire at test size
    — and restores them, since conf reads happen at OPTIMIZATION time
    (first action), not DataFrame build time.  Asserted: the
    might_contain + bloom_filter_agg pair in the optimized plan, AND
    result identity with the un-filtered twin (the runtime filter
    must be a pure pruning optimization)."""
    from pyspark.sql import functions as F

    from data_ingest_utils_spark.sources.readers import load_table

    li = load_table(spark, SF_T2, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = (
        load_table(spark, SF_T2, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )

    def run():
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("l_extendedprice"), 2).alias("rev"))
        )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    baseline = [tuple(r) for r in run().collect()]  # default confs
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = run()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
        filtered = [tuple(r) for r in df.collect()]  # executes WITH bloom
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert filtered == baseline
