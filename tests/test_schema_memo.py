"""The parquet schema memo in ``sources.readers``: an unchanged input is
read with its known schema and runs no Spark job; a changed, removed
or missing input is never served a stale schema."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingest_utils_spark.sources import readers
from data_ingest_utils_spark.sources.readers import TABLES, load_table
from data_ingest_utils_spark.sources.writers import read_back, write_partitioned

from tests.conftest import SF_T2, count_jobs


def _fields(schema: T.StructType) -> list[tuple]:
    return [(f.name, f.dataType, f.nullable, f.metadata) for f in schema.fields]


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("table", TABLES)
def test_second_load_table_runs_no_job(spark, table):
    """A repeated read of an unchanged fixture table is served from the
    memo: no job, and the schema Spark would infer, field by field."""
    load_table(spark, SF_T2, table)
    df, n_jobs = count_jobs(spark, lambda: load_table(spark, SF_T2, table))
    assert n_jobs == 0
    path = f"{SF_T2}/{table}.parquet"
    served, n_raw = count_jobs(spark, lambda: readers.read_parquet(spark, path))
    assert n_raw == 0
    assert _fields(served.schema) == _fields(spark.read.parquet(path).schema)
    if table != "events":
        assert _fields(df.schema) == _fields(served.schema)


def test_events_ts_still_normalized_from_memo(spark):
    load_table(spark, SF_T2, "events")
    df = load_table(spark, SF_T2, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    fresh = spark.read.parquet(f"{SF_T2}/events.parquet")
    if isinstance(fresh.schema["ts"].dataType, T.LongType):  # ns-stored ts
        fresh = fresh.withColumn("ts", F.expr(readers._NS_TO_TS_NTZ.format(col="ts")))
    assert _fields(df.schema) == _fields(fresh.schema)
    assert _same_rows(df, fresh)


def test_ns_events_ts_normalized_from_memo(spark, tmp_path):
    """An events file storing ts as INT64 TIMESTAMP(NANOS) reads as raw
    longs; the memoized schema keeps them LongType, so a served read
    still converts them to TIMESTAMP_NTZ, truncating toward zero."""
    ns = pa.array([-1500, 0, 1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2, 3], "ts": ns}), tmp_path / "events.parquet")
    load_table(spark, str(tmp_path), "events")
    df, n_jobs = count_jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert n_jobs == 0
    assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    us = df.orderBy("event_id").selectExpr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) AS us"
    )
    assert [r.us for r in us.collect()] == [-1, 0, 1_700_000_000_123_456]


def _write_file(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _write_dir(spark, path: str, rows: list, ddl: str) -> None:
    spark.createDataFrame(rows, ddl).repartition(2).write.mode("overwrite").parquet(path)


def test_rewritten_table_is_never_served_a_stale_schema(spark, tmp_path):
    """A table regenerated at the same path, as one file and as a
    part-file directory, with an added column and then a changed
    column type: every read after a rewrite sees the new schema."""
    single, parts = str(tmp_path / "single"), str(tmp_path / "parts")
    os.makedirs(single)
    os.makedirs(parts)
    single_t, parts_t = f"{single}/t.parquet", f"{parts}/t.parquet"

    _write_file(single_t, {"a": pa.array([1, 2], pa.int64())})
    _write_dir(spark, parts_t, [(1,), (2,)], "a long")
    for sf in (single, parts):
        load_table(spark, sf, "t")
        df, n_jobs = count_jobs(spark, lambda sf=sf: load_table(spark, sf, "t"))
        assert (df.columns, n_jobs) == (["a"], 0)

    _write_file(
        single_t,
        {"a": pa.array([1, 2], pa.int64()), "b": pa.array(["x", "y"])},
    )
    _write_dir(spark, parts_t, [(1, "x"), (2, "y")], "a long, b string")
    for sf in (single, parts):
        df = load_table(spark, sf, "t")
        assert df.schema.simpleString() == "struct<a:bigint,b:string>"
        assert sorted(df.collect()) == [(1, "x"), (2, "y")]

    _write_file(
        single_t,
        {"a": pa.array(["1", "2"]), "b": pa.array(["x", "y"])},
    )
    _write_dir(spark, parts_t, [("1", "x"), ("2", "y")], "a string, b string")
    for sf in (single, parts):
        df = load_table(spark, sf, "t")
        assert df.schema.simpleString() == "struct<a:string,b:string>"
        assert sorted(df.collect()) == [("1", "x"), ("2", "y")]


def test_missing_path_raises_and_leaves_no_entry(spark, tmp_path):
    sf = str(tmp_path)
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        load_table(spark, sf, "absent")
    assert os.path.abspath(f"{sf}/absent.parquet") not in readers._SCHEMAS

    # a read table that is then removed loses its entry on the next read
    _write_file(f"{sf}/gone.parquet", {"a": pa.array([1])})
    load_table(spark, sf, "gone")
    os.remove(f"{sf}/gone.parquet")
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        load_table(spark, sf, "gone")
    assert os.path.abspath(f"{sf}/gone.parquet") not in readers._SCHEMAS


def test_rewrites_keep_one_entry_per_path(spark, tmp_path):
    """A path rewritten on every read replaces its entry; a removed
    path's entry goes at the next miss, so per-call scratch paths do
    not accumulate."""
    sf = str(tmp_path)
    key = os.path.abspath(f"{sf}/t.parquet")
    for i in range(4):
        _write_dir(spark, f"{sf}/t.parquet", [(i,)], f"c{i} long")
        assert load_table(spark, sf, "t").columns == [f"c{i}"]
        assert [k for k in readers._SCHEMAS if k.startswith(sf + os.sep)] == [key]

    _write_dir(spark, f"{sf}/scratch.parquet", [(1,)], "a long")
    load_table(spark, sf, "scratch")
    shutil.rmtree(f"{sf}/scratch.parquet")
    _write_dir(spark, f"{sf}/t.parquet", [(9,)], "z long")
    load_table(spark, sf, "t")
    assert [k for k in readers._SCHEMAS if k.startswith(sf + os.sep)] == [key]


def test_read_back_round_trip_is_memoized(spark, tmp_path):
    """A partitioned dataset read back twice: the partition column stays
    last with its inferred type, the rows are equal, and the second read
    runs no inference job."""
    path = str(tmp_path / "by_k")
    frame = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(12)], "id long, k long, v double"
    )
    write_partitioned(frame, path, ["k"])
    first, n_first = count_jobs(spark, lambda: read_back(spark, path))
    second, n_second = count_jobs(spark, lambda: read_back(spark, path))
    assert (n_first >= 1, n_second) == (True, 0)
    assert first.columns == second.columns == ["id", "v", "k"]
    assert first.schema["k"].dataType == second.schema["k"].dataType == T.IntegerType()
    assert _fields(first.schema) == _fields(second.schema)
    assert _same_rows(first, second)
    assert _same_rows(second, frame.select("id", "v", F.col("k").cast("int")))


def test_concurrent_readers_share_the_memo(spark, tmp_path):
    """Threads missing, hitting and pruning the memo at once: every read
    returns its own file's schema and no thread raises."""
    import sys
    import threading

    n_threads, n_files = 6, 4
    for t in range(n_threads):
        os.makedirs(tmp_path / f"w{t}")
        for i in range(n_files):
            _write_file(str(tmp_path / f"w{t}" / f"f{i}.parquet"), {f"c{t}_{i}": [i]})
    errors, done = [], []

    def work(t):
        try:
            for _ in range(2):
                for i in range(n_files):
                    path = str(tmp_path / f"w{t}" / f"f{i}.parquet")
                    assert readers.read_parquet(spark, path).columns == [f"c{t}_{i}"]
            done.append(t)
        except Exception as e:  # collected and re-raised by the test thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and sorted(done) == list(range(n_threads))
