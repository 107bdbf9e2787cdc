"""Streaming execution harness: file-source micro-batch streams with
availableNow triggers into memory sinks.

The engine's event-time transforms (streaming.transforms) are written
against plain DataFrames; this module runs THE SAME transform over an
unbounded file stream — the one-code-path property the batch plans
advertise.  Tests craft parquet micro-batch files with staggered
modification times + ``maxFilesPerTrigger=1`` so watermark/state
semantics are exercised across genuinely separate micro-batches.

100 TB notes: the file source is swapped for Kafka in production; the
transform and sink stages are unchanged.  Memory sinks are test-only —
production sinks are partitioned parquet/Delta with exactly-once via
checkpointing, which this harness also exercises (every run writes a
real checkpoint dir).
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: Explicit stream schema for crafted event micro-batches (µs
#: timestamps — no nanos leniency needed on the streaming path).
#: ts MUST be tz-sensitive TIMESTAMP: Spark (4.1) rejects
#: TIMESTAMP_NTZ event time for watermarks
#: (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — verified).  The batch twin
#: reads NTZ, so batch==stream value equality relies on the UTC
#: session pin in session.py (spark.sql.session.timeZone=UTC); a
#: non-UTC session shifts streaming window starts by the tz offset.
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: str = EVENTS_STREAM_SCHEMA,
) -> DataFrame:
    """Unbounded stream over a directory of parquet files, one file per
    micro-batch (modification-time order): the stream-state tests and
    the staged-source keys rely on that batch sequence."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def run_available_now(
    df: DataFrame,
    table_name: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
    state_partitions: int | None = None,
) -> list[dict]:
    """Drain all available input through the streaming query into an
    in-memory table (``spark.table(table_name)``), then stop.  Returns
    the per-micro-batch progress dicts (watermarks, state metrics,
    ``numRowsDroppedByWatermark`` …).

    availableNow honors source rate limits (maxFilesPerTrigger), so
    multi-file inputs run as genuine successive micro-batches with
    watermark advancement and state persistence between them.

    Both per-drain settings are read off the query itself, scoped to
    this drain and restored after it:

    - **State stores.**  A query latches ``spark.sql.shuffle.partitions``
      at first start as its state-store count, and every store pays a
      fixed snapshot/commit cost per micro-batch however few rows it
      holds.  An explicit ``state_partitions`` wins (resume tests latch
      their own count in their checkpoint); otherwise
      :func:`_state_store_count` sizes it from the source's file bytes
      the way Spark sizes a file scan — one store per
      ``spark.sql.files.openCostInBytes``, at most
      ``defaultParallelism``.  On ``local[4]``, a
      ``dropDuplicatesWithinWatermark`` drain of two small files took
      2.2–2.8 s at 8 stores and 1.2–1.3 s at 1.  State is
      hash-distributed, so outputs and metric SUMS are store-count
      invariant (asserted in tests/test_streaming.py).
    - **Trailing no-data micro-batch.**  After the data is drained,
      availableNow runs one empty batch to advance the watermark.  It
      runs only when :func:`_waits_on_watermark` finds an operator
      whose OUTPUT waits on the watermark (append-mode aggregations,
      outer/semi/anti stream-stream joins, (flat)MapGroupsWithState /
      transformWithState): their last windows, unmatched rows or
      timers flush in that batch.  For deduplication, inner joins and
      stateless maps every row emits in the data batches and the empty
      batch only evicts state, which a one-shot drain discards anyway.

    Watermark semantics note (Spark >= 3.4): micro-batch N filters
    late events with the watermark as of batch N-1's START, while
    state eviction uses the watermark as of N's start — so a late row
    is only dropped when it arrives >= 2 batches after the event that
    advanced the watermark past it.
    """
    if state_partitions is not None and state_partitions < 1:
        raise ValueError(f"state_partitions must be >= 1, got {state_partitions}")
    spark = df.sparkSession
    stores = state_partitions or _state_store_count(df)
    flush = "true" if _waits_on_watermark(df, output_mode) else "false"
    with state_partitions_scope(spark, stores), _session_conf_scope(spark, _ND_KEY, flush):
        query = drain_available_now(
            df,
            lambda w: w.format("memory").queryName(table_name).outputMode(output_mode),
            name=table_name,
            timeout_sec=timeout_sec,
        )
    return [p.asDict() if hasattr(p, "asDict") else p for p in query.recentProgress]


def _plan_nodes(df: DataFrame):
    """Every node of ``df``'s analyzed logical plan (JVM handles)."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def _path_bytes(spark: SparkSession, path: str) -> int:
    """Total file bytes under ``path`` (a file, directory or glob), on
    whatever filesystem the path names; 0 when nothing matches yet."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    return sum(
        fs.getContentSummary(st.getPath()).getLength()
        for st in fs.globStatus(jpath) or []
    )


def _state_store_count(df: DataFrame) -> int:
    """State stores for a drain of ``df``:
    ``clamp(ceil(source bytes / openCostInBytes), 1, defaultParallelism)``,
    the file-scan sizing rule applied to the bytes the file sources
    (each ``StreamingRelation`` leaf's ``path`` option) hold before the
    query starts.  A source with no path (rate, Kafka, Python data
    sources) has no size to read, so it gets ``defaultParallelism``."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    total = 0
    for node in _plan_nodes(df):
        if not node.isStreaming() or node.children().size():
            continue
        path = (
            node.dataSource().options().get("path")
            if node.nodeName() == "StreamingRelation"
            else None
        )
        if path is None or not path.isDefined():
            return cores
        total += _path_bytes(spark, path.get())
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    return max(1, min(cores, -(-total // open_cost)))


def _waits_on_watermark(df: DataFrame, output_mode: str) -> bool:
    """True when some operator of ``df`` emits rows only once the
    watermark passes them, so the drain must run its trailing no-data
    batch: an append-mode aggregation, an outer/semi/anti join of two
    streams, or a (flat)MapGroupsWithState / transformWithState
    operator (timeouts and timers fire on the watermark)."""
    for node in _plan_nodes(df):
        if not node.isStreaming():
            continue
        name = node.nodeName()
        if name.startswith(("FlatMapGroups", "TransformWithState")):
            return True
        if name == "Aggregate" and output_mode == "append":
            return True
        if (
            name == "Join"
            and node.joinType().sql() not in ("INNER", "CROSS")
            and node.left().isStreaming()
            and node.right().isStreaming()
        ):
            return True
    return False


#: recentProgress is a ring buffer capped at this conf (default 100): a
#: >100-file source under maxFilesPerTrigger=1 would silently drop the
#: early micro-batches' metrics and undercount
#: numRowsDroppedByWatermark sums.  Drains raise it for their own
#: query only (the conf is read at query start): leaving it raised
#: would make every later streaming query on the session retain up to
#: 10000 progress objects.
_PROGRESS_CAP = "spark.sql.streaming.numRecentProgressUpdates"
_SPS_KEY = "spark.sql.shuffle.partitions"
_ND_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
_SPS_LOCK = threading.Lock()
#: Per-(session, conf-key) scope state, keyed by
#: ``(_session_key(spark), conf_key)``: {"prior": str, "active":
#: [(token, value), ...]}.  Keyed per session (ADVICE r10) so
#: concurrent scopes on TWO different SparkSessions save/restore each
#: session's own prior instead of sharing one global — a second
#: session's first scope must not adopt (or clobber) the first
#: session's saved value.  Entries are deleted when their last scope
#: exits, so key reuse after a session is GC'd cannot alias live
#: state.  Generalized round 17 (was shuffle-partitions-only) so the
#: no-data-micro-batch dial rides the same leak-proof machinery.
_SPS_STATE: dict[object, dict] = {}


def _session_key(spark: SparkSession):
    """Session-STABLE identity for the scope state (ADVICE r11):
    ``id(spark)`` keys the Python WRAPPER, and two distinct wrappers
    over the same underlying session (``getActiveSession()`` vs a
    stored handle) share one conf — under id()-keying each would get
    an independent "prior" entry, and one scope could capture
    another's temporary value as the prior it restores.  The JVM
    SparkSession's identity hash is stable across any number of
    Python wrappers and distinct per underlying session — keyed by
    ``sessionUUID`` (ADVICE r12: identityHashCode is stable but only
    32 bits, so two live sessions can collide and alias each other's
    scope state), with identityHashCode as the fallback where a Spark
    build lacks it; the ``id(spark)`` fallback only fires where no
    JVM handle exists (mocks in unit tests), where a second wrapper
    can't arise."""
    try:
        jvm_session = spark._jsparkSession
        try:
            # genuinely unique per session (ADVICE r12): the 32-bit
            # identityHashCode is stable but CAN collide across two
            # live sessions, aliasing their scope state
            return ("jvm", str(jvm_session.sessionUUID()))
        except Exception:
            return ("jvm", spark._jvm.System.identityHashCode(jvm_session))
    except Exception:
        return ("py", id(spark))


@contextlib.contextmanager
def _session_conf_scope(spark: SparkSession, conf_key: str, value: str):
    """Scoped session-conf override with stacked, refcounted
    save/restore — the leak-proofing documented on
    :func:`state_partitions_scope`, factored out (round 17) so any
    drain-scoped conf (shuffle partitions, no-data micro-batches, the
    progress cap) shares ONE correct implementation instead of drifted
    copies.
    Within a (session, conf_key) the FIRST scope in saves the session
    value, the LAST one out restores it; each exit re-asserts the most
    recent still-active scope's value for well-nested use.  A conf the
    session never set is unset again on the way out: ``conf.get(key)``
    would return Spark's default, and restoring that would leave the
    key explicitly set after every drain."""
    conf = spark.conf
    token = object()
    key = (_session_key(spark), conf_key)
    with _SPS_LOCK:
        state = _SPS_STATE.get(key)
        if state is None:
            state = _SPS_STATE[key] = {
                "prior": conf.get(conf_key, None),
                "active": [],
            }
        state["active"].append((token, str(value)))
        conf.set(conf_key, str(value))
    try:
        yield
    finally:
        with _SPS_LOCK:
            state = _SPS_STATE[key]
            active = state["active"]
            for i in range(len(active) - 1, -1, -1):
                if active[i][0] is token:
                    del active[i]
                    break
            if active:
                conf.set(conf_key, active[-1][1])
            else:
                if state["prior"] is None:
                    conf.unset(conf_key)
                else:
                    conf.set(conf_key, state["prior"])
                del _SPS_STATE[key]


def state_partitions_scope(spark: SparkSession, n: int):
    """Scoped ``spark.sql.shuffle.partitions`` for ONE stateful drain.

    A streaming query latches shuffle partitions at first start as its
    state-store count, so whatever the session holds for batch plans
    also sizes per-micro-batch state overhead: every store pays fixed
    snapshot/commit cost per batch regardless of how few rows it
    holds.  Measured on evt_stream_stream_join at sf1 (1 M staged
    events, one availableNow batch, 32 cores): median 14.5 s at 32
    stores vs 6.25 s at 8 vs 7.6 s at 16, identical 3420-row output —
    state is hash-distributed, so results are partition-count
    invariant and hash certificates are unaffected.  The count is the
    caller's: :func:`run_available_now` derives it from the source's
    bytes and ``defaultParallelism`` (:func:`_state_store_count`), and
    at 100 TB the same rule sizes UP, to the cores the state's volume
    can keep busy (rescalable only by state rebalance).

    Leak-proof under both nesting and concurrent drains, and scoped
    PER SESSION (ADVICE r10 — two sessions' scopes never share a
    saved prior): within a session the FIRST scope in saves the
    session value, the LAST one out restores it — a plain per-scope save/restore pair could
    strand an inner scope's value as the "prior" and permanently cut
    every later batch plan's shuffle parallelism.  Overlapping scopes
    with DIFFERENT n still race on which value a concurrently
    starting query latches (one global conf — unavoidable), but the
    session always exits to its original value; each exit re-asserts
    the most recent still-active scope's value for well-nested use.
    """
    return _session_conf_scope(spark, _SPS_KEY, str(n))


def drain_available_now(
    df: DataFrame,
    configure: Callable,
    name: str = "drain",
    timeout_sec: int = 120,
):
    """Shared one-shot availableNow drain: checkpoint tmpdir +
    progress-cap scope + start/await/stop + checkpoint cleanup, with
    the sink-specific writer options supplied by ``configure(writer)``
    (memory sink, foreachBatch, …).  Returns the finished query (for
    recentProgress).  This is the ONE copy of the drain plumbing —
    evt_foreach_batch_sink used to carry a drifted inline twin
    (round-8 review).

    start() sits INSIDE the try: a start-time AnalysisException
    (invalid plan, sink/mode mismatch) must still restore the cap and
    drop the checkpoint dir.  The cap restore happens after the query
    is fully stopped — the cap is read at query start, so the order
    can't shrink a finished query's buffer.  One-shot drains never
    resume, so the checkpoint is dropped in the same finally (resume
    tests manage their OWN checkpoint and don't come through here).
    """
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    query = None
    with _session_conf_scope(df.sparkSession, _PROGRESS_CAP, "10000"):
        try:
            query = (
                configure(df.writeStream)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            if not query.awaitTermination(timeout_sec):
                raise TimeoutError(f"stream {name} did not drain in {timeout_sec}s")
        finally:
            if query is not None and query.isActive:  # pragma: no cover - timeout
                query.stop()
            shutil.rmtree(checkpoint, ignore_errors=True)
    return query
