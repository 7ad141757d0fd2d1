"""File readers — the engine's input formats.

Reference format dispatch: zio/anyio/lookup.go:24-56 (arrows, csv,
json, line, parquet, tsv, zeek, …). Our at-scale binary columnar
format IS parquet (the reference's VNG spec, docs/formats/vng.md,
explicitly compares itself to parquet); ZNG binary and ZSON/ZJSON
text are read natively; VNG reads/writes through sources/vng.py as a
driver-side interop on-ramp behind size gates.

Formats here:
  parquet   — spark.read.parquet (pushdown + pruning)
  json      — ndjson with schema inference or explicit schema
  csv / tsv — header + type inference options
  line      — one string column `value` (zio/lineio)
  zeek      — zeek TSV logs with '#fields'/'#types' headers
              (zio/zeekio): parsed into typed columns
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zed_spark.sources import footers, fsio

# tables whose parquet files carry TIMESTAMP(NANOS) — Spark reads them
# as LongType ns (legacy nanosAsLong); convert to µs TimestampType.
_NS_TS_COLS = {"events": ["ts"]}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One of the standard test tables, `<sf_dir>/<name>.parquet`.

    The schema comes from `footers`: Spark infers it (one footer job)
    on the first read of the file and again only after the file or a
    parquet-inference conf changes, so a repeat read plans without
    launching a job. Every read still scans the parquet. ns-precision timestamp columns
    (LongType under nanosAsLong) become µs TimestampType."""
    # set defensively at runtime: a caller-provided session (e.g. the
    # round driver's) may lack both; without nanosAsLong the events
    # scan fails with PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS), and a
    # non-UTC session TZ shifts date extraction vs the DuckDB oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in _NS_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = footers.read(spark, path, [path], fsio.identity(path))
    for c in _NS_TS_COLS.get(name, []):
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            # integer division: ns are ~2^60, double division would
            # lose precision before the floor
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def table_scan_partitions(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Number of scan splits for a test table. The probe builds the
    scan's RDD plan driver-side (~10-30 ms), so its answer is kept in
    the table's `footers` entry beside the schema: plan-shape
    heuristics (fan-out, uniq's single-partition fast path) pay it
    once per file identity, and a rewritten table is counted again."""
    path = f"{sf_dir}/{name}.parquet"
    return footers.split_count(
        spark, path, fsio.identity(path),
        lambda: read_table(spark, sf_dir, name).rdd.getNumPartitions(),
    )


def read_any(spark: SparkSession, path: str, fmt: str = "auto", **options) -> DataFrame:
    path = fsio.normalize_uri(path)
    if fmt == "auto":
        fmt = _sniff_format(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        return spark.read.options(**options).json(path)
    if fmt == "csv":
        options.setdefault("header", True)
        options.setdefault("inferSchema", True)
        return spark.read.options(**options).csv(path)
    if fmt == "tsv":
        options.setdefault("header", True)
        options.setdefault("inferSchema", True)
        options.setdefault("sep", "\t")
        return spark.read.options(**options).csv(path)
    if fmt == "line":
        return spark.read.text(path)
    if fmt == "zeek":
        return read_zeek_tsv(spark, path)
    if fmt == "zson":
        from zed_spark.sources.zson import read_zson_fused

        return read_zson_fused(spark, path)
    if fmt == "zjson":
        from zed_spark.sources.zjson import read_zjson_fused

        return read_zjson_fused(spark, path)
    if fmt == "arrows":
        from zed_spark.sources.arrow_io import read_arrows

        return read_arrows(spark, path)
    if fmt == "zng":
        from zed_spark.sources.zng import read_zng_fused

        return read_zng_fused(spark, path)
    raise ValueError(f"unknown format {fmt!r}")


_EXT_FORMATS = [
    (".parquet", "parquet"), (".json", "json"), (".ndjson", "json"),
    (".csv", "csv"), (".tsv", "tsv"), (".log", "zeek"), (".txt", "line"),
    (".zson", "zson"), (".zjson", "zjson"), (".arrows", "arrows"),
    (".arrow", "arrows"), (".zng", "zng"),
]


def _sniff_format(path: str) -> str:
    for ext, fmt in _EXT_FORMATS:
        if path.endswith(ext):
            return fmt
    # extension-less directory (a Spark text/parquet output dir, a
    # lake object, a ZSON export): sniff the first data file's
    # content. fsio routes URIs (s3a://, file://) through Hadoop
    # FileSystem, so sniffing works on object storage too.
    import json as _json

    if fsio.is_dir(path):
        files = [
            fsio.join(path, name)
            for name in sorted(fsio.listdir(path))
            if not name.startswith(("_", ".")) and not name.endswith(".crc")
        ]
        files = [f for f in files if fsio.is_file(f)]
        if files:
            for ext, fmt in _EXT_FORMATS:
                if files[0].endswith(ext) and ext != ".txt":
                    return fmt
            head = fsio.read_head(files[0], 4096)
            if head[:4] == b"PAR1":
                return "parquet"
            if head[:6] == b"ARROW1" or head[:4] == b"\xff\xff\xff\xff":
                # Arrow IPC file magic / stream continuation marker
                return "arrows"
            first = head.decode("utf-8", errors="replace").lstrip().splitlines()
            line = first[0] if first else ""
            if line.startswith("#separator"):
                return "zeek"
            if line.startswith("{"):
                try:
                    obj = _json.loads(line)
                    # ZJSON frames are {"type":..,"value":..} JSON
                    if isinstance(obj, dict) and set(obj) == {"type", "value"}:
                        return "zjson"
                    return "json"
                except ValueError:
                    return "zson"  # records with unquoted names
            return "line"
    return "parquet"


# --- zeek TSV (zio/zeekio) -------------------------------------------------
# moved to zed_spark/sources/zeek.py (reader + writer, container
# semantics, multi-block support); re-exported here for callers
from zed_spark.sources.zeek import read_zeek_tsv  # noqa: E402,F401
