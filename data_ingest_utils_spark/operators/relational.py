"""Relational core: joins, aggregations, windows, top-k, set ops
(SURVEY.md §2c–2h).

Everything is declarative DataFrame API so Catalyst keeps predicate
pushdown, column pruning, join selection/reordering, and AQE in play.
The helpers encode the *scale* decisions (broadcast hints, pinned
deterministic orderings, TakeOrderedAndProject phrasing) so call
sites can't get them wrong.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, key: str) -> DataFrame:
    """Parallelism guard for CPU-bound map stages: when the source
    scan yields fewer partitions than the cluster has cores (a
    single-file fixture ⇒ one split), hash-repartition on ``key`` so
    per-row work (interpreted higher-order lambdas, per-row
    session-struct building) runs on every core instead of one.  With
    ample scan partitions — the 100 TB case — this is a no-op, so the
    extra shuffle never appears at scale.

    The signal is the PHYSICAL scan partition count
    (``df.rdd.getNumPartitions()``), not ``len(df.inputFiles())``: a
    few-large-files layout (e.g. 16 × 31 GB parquet on a 64-core
    cluster) splits into thousands of scan partitions and must NOT be
    re-shuffled just because the file count is small.  In-memory test
    frames report their existing partitioning the same way.

    Cost note (ADVICE r7): the probe runs no job, but it DOES force a
    full physical-planning pass (plus the Python↔JVM plan round-trip)
    on every call — including the 100 TB no-op path.  That is a
    per-operator-call driver cost, deliberately accepted for the
    correctness of the few-large-files case above; the one free
    short-circuit is ``defaultParallelism <= 1``, where no
    repartition could ever help.
    """
    spark = df.sparkSession
    if spark.sparkContext.defaultParallelism <= 1:
        return df
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        return df.repartition(spark.sparkContext.defaultParallelism, F.col(key))
    return df


# ---------------------------------------------------------------- joins

def join_dim(
    fact: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """Fact ⋈ small-dimension join with an explicit broadcast hint.

    100 TB: a broadcast hash join ships the dim to every executor and
    avoids shuffling the fact table entirely — the only sane plan when
    the dim fits in memory (region/nation/date dims always do).  AQE
    would usually discover this, but the hint makes it deterministic.
    """
    return fact.join(F.broadcast(dim), on, how)


def join_facts(left: DataFrame, right: DataFrame, on, how: str = "inner") -> DataFrame:
    """Large-large equi join: plain shuffle join, AQE handles skew.

    100 TB: both sides hash-partition on the join keys (sort-merge or
    shuffled-hash chosen by the planner).  For repeated joins on the
    same keys, bucket both lake tables by the keys to eliminate the
    shuffle; for a single skewed key, AQE's skew-join splitting kicks
    in (enabled in session confs).
    """
    return left.join(right, on, how)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    left_key: str,
    right_key: str,
    salt_src: Sequence[str],
    salt_mod: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating salted equi-join.

    The fact side gets a DETERMINISTIC salt in [0, salt_mod) hashed
    from ``salt_src`` columns (not rand() — keeps the plan replayable
    and AQE-friendly); the dim side is replicated salt_mod× via an
    exploded literal range.  The join key becomes (key, salt), so a
    single hot key's rows spread across salt_mod shuffle partitions
    instead of hot-spotting one reducer.

    100 TB: use when ONE side is skewed and the other is replicable
    (salt_mod × dim must still be shuffle-affordable).  For ambient
    skew prefer AQE skew-join splitting (enabled in session confs);
    salting is the explicit fallback for pathological keys AQE can't
    split (e.g. a single key larger than a partition).

    Only fact-preserving joins are result-invariant under salting:
    the dim side is replicated salt_mod×, so right/full joins would
    emit duplicate / spurious null-padded rows for dim keys whose
    replicas match no fact salt.
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti", "cross"):
        raise ValueError(
            f"salted_join: how={how!r} is not result-invariant under dim "
            "replication; use the unsalted join for right/full outer"
        )
    fact_s = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in salt_src]), F.lit(salt_mod))
    )
    dim_s = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_mod - 1)).cast("array<long>")),
    )
    joined = fact_s.join(
        dim_s,
        (fact_s[left_key] == dim_s[right_key]) & (fact_s["_salt"] == dim_s["_salt"]),
        how,
    )
    return joined.drop("_salt")


def salted_join_hotkeys(
    fact: DataFrame,
    dim: DataFrame,
    left_key: str,
    right_key: str,
    hot_keys: Sequence,
    salt_src: Sequence[str],
    salt_mod: int = 32,
    how: str = "inner",
) -> DataFrame:
    """TARGETED salted join: only the known-hot keys are salted.

    :func:`salted_join` replicates the ENTIRE dim side salt_mod×,
    which is affordable only for broadcast-sized dims.  When skew is a
    handful of pathological keys in an otherwise well-distributed join
    (the common 100 TB case — discover them first with
    ``approx_top_k``/``count``), only hot rows get a deterministic
    salt in [0, salt_mod) and only the dim's hot rows replicate
    salt_mod× (|hot_keys| · salt_mod extra rows — dozens, not
    |dim| · salt_mod).  Each hot key's rows spread over salt_mod
    reducers, so max-task-rows drops from |hot| to ~|hot| / salt_mod,
    byte-identical to the unsalted join for fact-preserving join
    types.

    SINGLE-SCAN shape (round 13): instead of splitting the fact into
    hot/cold branches (two pruned scans + two joins + a union), BOTH
    sides carry an inline salt — hot fact rows a hashed salt in
    [0, salt_mod), cold fact rows the constant 0; hot dim rows explode
    over all salt_mod salts, cold dim rows get the one-element [0] —
    and ONE equi-join on (key, salt) does everything.  Each
    (fact row, dim row) match pairs on exactly one salt, so results
    are identical to the unsalted join for fact-preserving types,
    while the fact is scanned ONCE and the plan has a single join to
    AQE-tune.  Cold keys all sit at salt 0, so their shuffle
    distribution is exactly the plain join's; the hot key spreads over
    salt_mod reducers as before.
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join_hotkeys: how={how!r} is not result-invariant under "
            "hot-row replication; use the unsalted join for right/full outer"
        )
    hot_list = list(hot_keys)
    if not hot_list:
        raise ValueError("salted_join_hotkeys: hot_keys must be non-empty")
    # NULL-keyed fact rows take the cold (constant) salt: `isin` is
    # NULL (not false) for them, and a NULL salt would silently drop
    # rows that a left/left_anti join is required to keep.
    is_hot_fact = F.coalesce(F.col(left_key).isin(hot_list), F.lit(False))
    salted_fact = fact.withColumn(
        "_salt",
        F.when(
            is_hot_fact,
            F.pmod(F.xxhash64(*[F.col(c) for c in salt_src]), F.lit(salt_mod)),
        ).otherwise(F.lit(0).cast("long")),
    )
    is_hot_dim = F.coalesce(F.col(right_key).isin(hot_list), F.lit(False))
    salted_dim = dim.withColumn(
        "_salt",
        F.explode(
            F.when(
                is_hot_dim,
                F.sequence(F.lit(0), F.lit(salt_mod - 1)).cast("array<long>"),
            ).otherwise(F.array(F.lit(0).cast("long")))
        ),
    )
    return salted_fact.join(
        salted_dim,
        (salted_fact[left_key] == salted_dim[right_key])
        & (salted_fact["_salt"] == salted_dim["_salt"]),
        how,
    ).drop("_salt")


def as_of_attach(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    value_col: Column,
    out_name: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """As-of join expressed as a running ``last(..., ignoreNulls)``.

    Attaches, to every row, the most recent non-null ``value_col`` at
    or before the row's ``ts`` within its partition.  This is the
    shuffle-minimal formulation of "as-of join against events of the
    same stream": ONE window shuffle instead of a range join.  For an
    as-of join between two *different* tables, union the tables with a
    side tag first and apply the same window — still one shuffle.

    NULL timestamps sort FIRST in Spark's ascending window order
    (DuckDB defaults to NULLS LAST — a cross-engine twin must say
    ``NULLS FIRST`` explicitly), so a NULL-ts value row is "before"
    every real timestamp: engine-order semantics, not time semantics.
    Filter null ``ts_col`` upstream when that isn't intended; the
    tie/NULL contract is pinned cross-engine in
    tests/test_property.py::test_prop_asof_attach_cross_engine.
    """
    order = [F.col(ts_col)] + [F.col(t) for t in tiebreakers]
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_name, F.last(value_col, ignorenulls=True).over(w))


# ------------------------------------------------------------ windows

def ranked(
    df: DataFrame,
    partition_cols: Sequence[str],
    order: Sequence[Column],
    rank_fn=F.row_number,
    out_name: str = "rn",
) -> DataFrame:
    """Attach a ranking column over a deterministic window order."""
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return df.withColumn(out_name, rank_fn().over(w))


def topk_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order: Sequence[Column],
    k: int,
    out_name: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number + filter.

    100 TB: Spark's WindowGroupLimit pushes the k-limit into the sort
    of each partition before the full window materializes, so this is
    the scalable phrasing (never collect-and-slice).  ``order`` must
    end with a unique tiebreaker for deterministic results.
    """
    return ranked(df, partition_cols, order, F.row_number, out_name).filter(
        F.col(out_name) <= k
    )


def top_n_global(df: DataFrame, order: Sequence[Column], n: int) -> DataFrame:
    """Global top-n: ``orderBy().limit()`` — planned as
    TakeOrderedAndProject (per-partition heaps + driver merge of n
    rows, never a global sort).  ``order`` must pin a total order.
    """
    return df.orderBy(*order).limit(n)


# ----------------------------------------------------------- grouping

def distinct_on(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
) -> DataFrame:
    """DISTINCT ON (keys) with a deterministic pick order (first row
    per key under ``order``)."""
    # collision-proof scratch column: a user frame may legitimately
    # carry a column named _rn, which withColumn would REPLACE and the
    # trailing drop would silently destroy
    rn = "_rn"
    while rn in df.columns:
        rn += "_"
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) == 1)
        .drop(rn)
    )


def as_of_attach_forward(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    value_col: Column,
    out_name: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Forward as-of: attach the NEXT non-null ``value_col`` at or
    after each row's ``ts`` within its partition (first(..., ignore
    nulls) over a current-row→unbounded-following frame).  Same
    one-shuffle property as :func:`as_of_attach`; backward + forward
    together bracket each row between its neighbors — the
    nearest-event primitive."""
    order = [F.col(ts_col)] + [F.col(t) for t in tiebreakers]
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return df.withColumn(out_name, F.first(value_col, ignorenulls=True).over(w))
