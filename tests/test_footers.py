"""Parquet schema memo (sources/footers.py): a repeat read of unchanged
files reuses the inferred schema and plans without a job; a changed
file, pool or inference conf is inferred again."""

import sys
import threading
import uuid

import pytest

from tests.conftest import SF_DIR
from zed_spark.sources import footers, readers
from zed_spark.sources.lake import Lake

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"footers-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "footers test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _pool_entries(pool):
    return [k for k in footers._ENTRIES if k[1] == (pool.cfg.path, "main")]


def test_repeat_table_read_launches_no_job(spark):
    readers.read_table(spark, SF_DIR, "orders")
    df, jobs = _jobs(spark, lambda: readers.read_table(spark, SF_DIR, "orders"))
    assert jobs == 0
    fresh = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert df.schema == fresh.schema
    assert sorted(df.collect()) == sorted(fresh.collect())


def test_overwritten_table_is_seen(spark, tmp_path):
    d = str(tmp_path)
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(f"{d}/t.parquet")
    assert readers.read_table(spark, d, "t").columns == ["a", "b"]
    spark.createDataFrame([(2.5,)], "c double").write.mode("overwrite").parquet(
        f"{d}/t.parquet"
    )
    df = readers.read_table(spark, d, "t")
    assert df.columns == ["c"] and df.collect()[0]["c"] == 2.5


def test_overwritten_single_file_is_seen(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), p)
    assert readers.read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), p)
    df = readers.read_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"] and df.count() == 1


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    """Flipping a conf that changes parquet inference re-infers instead
    of reusing the schema read under the other value."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "ns.parquet")
    ns = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ns, "b": [b"x"]}), p, version="2.6")

    def ts_and_b():
        schema = footers.read(spark, p, [p], ("conf-test",)).schema
        return schema["ts"].dataType.typeName(), schema["b"].dataType.typeName()

    binary = "spark.sql.parquet.binaryAsString"
    before = {c: spark.conf.get(c) for c in (NANOS, binary)}
    try:
        spark.conf.set(NANOS, "true")
        spark.conf.set(binary, "false")
        assert ts_and_b() == ("long", "binary")
        spark.conf.set(binary, "true")
        assert ts_and_b() == ("long", "string")
        # TIMESTAMP(NANOS) has no Spark type without nanosAsLong: the
        # read infers again and fails instead of reusing the long schema
        spark.conf.set(NANOS, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            ts_and_b()
        spark.conf.set(NANOS, "true")
        assert ts_and_b() == ("long", "string")
    finally:
        for c, v in before.items():
            spark.conf.set(c, v)


def test_pool_load_adding_a_column_shows_on_scan(spark, tmp_path):
    pool = Lake(spark, str(tmp_path)).create_pool("p", key="k")
    pool.load(spark.createDataFrame([(1, "x")], "k long, a string"))
    assert pool.scan().columns == ["k", "a"]
    pool.load(spark.createDataFrame([(2, "y", 7)], "k long, a string, extra long"))
    df = pool.scan()
    assert set(df.columns) == {"k", "a", "extra"}
    assert {r["k"]: r["extra"] for r in df.collect()} == {1: None, 2: 7}


def test_repeat_pool_scan_launches_no_job(spark, tmp_path):
    pool = Lake(spark, str(tmp_path)).create_pool("p", key="k")
    pool.load(spark.createDataFrame([(1, "x")], "k long, a string"))
    pool.load(spark.createDataFrame([(2, "y")], "k long, a string"))
    first = pool.scan()
    again, jobs = _jobs(spark, lambda: pool.scan())
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_pool_commits_keep_one_entry(spark, tmp_path):
    pool = Lake(spark, str(tmp_path)).create_pool("p", key="k")
    for i in range(30):
        pool.load(spark.createDataFrame([(i,)], "k long"))
        assert pool.scan().count() == i + 1
    assert len(_pool_entries(pool)) == 1


def test_compact_ids_reads_merged_schema(spark, tmp_path):
    pool = Lake(spark, str(tmp_path)).create_pool("p", key="k")
    a = pool.load(spark.createDataFrame([(1, "x")], "k long, a string"))
    b = pool.load(spark.createDataFrame([(2, 3.5)], "k long, b double"))
    pool.compact(ids=[a, b])
    rows = sorted(pool.scan().collect())
    assert [(r["k"], r["a"], r["b"]) for r in rows] == [(1, "x", None), (2, None, 3.5)]


def test_threads_get_correct_schemas(spark, tmp_path):
    tables = ["orders", "customer", "lineitem", "nation"]
    want = {t: spark.read.parquet(f"{SF_DIR}/{t}.parquet").schema for t in tables}
    lake = Lake(spark, str(tmp_path))
    pools = []
    for i in range(2):
        pool = lake.create_pool(f"p{i}", key="k")
        pool.load(spark.createDataFrame([(1, "x")], "k long, a string"))
        pool.load(
            spark.createDataFrame([(2, "y", 1.5)], f"k long, a string, c{i} double")
        )
        pools.append((pool, {"k", "a", f"c{i}"}))
    errors = []

    def work(n):
        try:
            for r in range(4):
                t = tables[(n + r) % len(tables)]
                assert readers.read_table(spark, SF_DIR, t).schema == want[t]
                pool, cols = pools[(n + r) % len(pools)]
                assert set(pool.scan().columns) == cols
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    footers._ENTRIES.clear()
    threads = [threading.Thread(target=work, args=(n,)) for n in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors



def test_identity_through_hadoop_uri(spark, tmp_path):
    """A file:// table (the s3a:// code path) gets the same identity
    names and sizes as the local path, and its repeat read hits."""
    from zed_spark.sources import fsio

    d = str(tmp_path)
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(f"{d}/t.parquet")
    local, uri = fsio.identity(f"{d}/t.parquet"), fsio.identity(f"file://{d}/t.parquet")
    assert local and [e[:2] for e in local] == [e[:2] for e in uri]
    part = f"{d}/t.parquet/{local[0][0]}"
    assert fsio.identity(f"file://{part}")[0] == fsio.identity(part)[0]
    readers.read_table(spark, f"file://{d}", "t")
    df, jobs = _jobs(spark, lambda: readers.read_table(spark, f"file://{d}", "t"))
    assert jobs == 0 and df.collect()[0]["b"] == "x"
