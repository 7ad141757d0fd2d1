"""Parquet schema memo: infer each read's schema once per file identity.

Spark discovers a parquet read's schema by launching a job over the
files' footers (one task per file batch; with `mergeSchema` it reads
every footer). The reference keeps per-object metadata beside its
data (lake/seekindex, runtime/vcache/object.go), so a query never
re-derives a shape that has not changed. This module plays that part:
it maps a read to the `StructType` Spark's own inference gave for it,
and a later read of the same unchanged files passes that schema to
`spark.read.schema(...)`, which plans the scan without a job.

- Key: the application id, the caller's name for the read (a table
  path, or a pool path plus branch/commit ref), and the session confs
  that change how parquet types are inferred.
- Value: the read's file identity (`fsio.identity` for tables, the
  live object names for pools), the inferred schema, and the scan's
  split count once someone asks for it.
- A miss or a changed identity re-runs Spark's inference exactly as
  before and replaces the entry, so there is at most one entry per
  key. Entries of an earlier application are dropped when a new one
  stores (a process runs one SparkContext at a time).

This is a metadata memo, not a result cache: every query still scans
the parquet files.
"""

from __future__ import annotations

import threading
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# session confs whose values change the schema parquet inference gives
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


class _Entry(NamedTuple):
    identity: object
    schema: T.StructType
    parts: int | None = None


_LOCK = threading.Lock()
_ENTRIES: dict = {}


def _key(spark: SparkSession, ref) -> tuple:
    confs = tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)
    return (spark.sparkContext.applicationId, ref, confs)


def _lookup(key: tuple, identity) -> _Entry | None:
    with _LOCK:
        entry = _ENTRIES.get(key)
    if entry is not None and entry.identity == identity:
        return entry
    return None


def _store(key: tuple, entry: _Entry) -> None:
    with _LOCK:
        app = key[0]
        for k in [k for k in _ENTRIES if k[0] != app]:
            del _ENTRIES[k]
        _ENTRIES[key] = entry


def read(
    spark: SparkSession, ref, paths: list[str], identity, merge: bool = False
) -> DataFrame:
    """`spark.read.parquet(*paths)` (with `mergeSchema` when `merge`),
    inferring the schema only when `ref` was last read with a
    different file identity."""
    key = _key(spark, ref)
    entry = _lookup(key, identity)
    if entry is not None:
        return spark.read.schema(entry.schema).parquet(*paths)
    reader = spark.read.option("mergeSchema", "true") if merge else spark.read
    df = reader.parquet(*paths)
    _store(key, _Entry(identity, df.schema))
    return df


def split_count(spark: SparkSession, ref, identity, probe) -> int:
    """The scan split count of the read `ref`, kept in its entry:
    `probe()` (which reads `ref` through `read`) runs only when the
    entry has no count for this identity, so a rewritten file is
    counted again."""
    key = _key(spark, ref)
    entry = _lookup(key, identity)
    if entry is not None and entry.parts is not None:
        return entry.parts
    n = probe()
    with _LOCK:
        entry = _ENTRIES.get(key)
        if entry is not None and entry.identity == identity:
            _ENTRIES[key] = entry._replace(parts=n)
    return n
