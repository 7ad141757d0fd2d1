"""URI-aware filesystem shim for lake metadata and small-file I/O.

The reference routes storage by URI scheme (pkg/storage/router.go:16)
with engines for file and S3 (pkg/storage/s3.go:11-34). Here the
bulk data path is Spark's own readers/writers, which already accept
any Hadoop-supported URI (s3a://, hdfs://, abfss://, gs://, file://)
— this module covers the METADATA path (pool.json, commits.jsonl,
branches.json, seek indexes) so a lake root can live on object
storage too:

- A plain local path (no scheme) uses os/builtins directly — the
  fast path, zero JVM round-trips.
- Any URI (including file://) routes through the JVM's Hadoop
  FileSystem obtained from the active SparkSession. file:// rides
  Hadoop's LocalFileSystem, so a file:// test exercises exactly the
  code path s3a:// takes in production (the sandbox has no object
  store). s3:// is normalized to s3a://, the maintained Hadoop S3A
  connector.

For S3, configure the standard hadoop-aws settings on the Spark
session (public AWS/Hadoop docs), e.g.:

    spark.hadoop.fs.s3a.access.key / .secret.key  (or an AWS
    credential provider chain), spark.hadoop.fs.s3a.endpoint

Appends are implemented as read+concat+overwrite on remote stores
(S3 has no append); lake metadata files are small, so this is one
GET + one PUT per commit — the data objects themselves are written
once by Spark and never appended.
"""

from __future__ import annotations

import os
import posixpath
import shutil
from urllib.parse import urlparse


def _scheme(path: str) -> str:
    # "c:\..." never reaches here (posix sandbox); require "://" so
    # pool names with ':' don't parse as schemes
    if "://" not in path:
        return ""
    return urlparse(path).scheme


def normalize_uri(path: str) -> str:
    """s3:// → s3a:// (Hadoop's maintained S3 connector)."""
    if path.startswith("s3://"):
        return "s3a://" + path[len("s3://"):]
    return path


def is_uri(path: str) -> bool:
    return _scheme(path) != ""


def join(base: str, *parts: str) -> str:
    """URI-aware path join: URIs always use '/', local paths use the
    OS separator."""
    if is_uri(base):
        return posixpath.join(base, *parts)
    return os.path.join(base, *parts)


def basename(path: str) -> str:
    return posixpath.basename(path.rstrip("/")) if is_uri(path) else os.path.basename(path)


def dirname(path: str) -> str:
    return posixpath.dirname(path.rstrip("/")) if is_uri(path) else os.path.dirname(path)


# --- executor-side output streams (pyarrow.fs) -------------------------------
#
# Per-partition format writers (ZNG/arrows part files) open their
# outputs in EXECUTOR Python, where no py4j gateway exists — the
# Hadoop FileSystem bridge above is driver-only. pyarrow.fs carries
# its own filesystem implementations (local, s3, gcs, hdfs-via-
# libhdfs) that work in any Python process, mirroring the reference's
# scheme-routed storage engine (pkg/storage/router.go:16,
# pkg/storage/s3.go:11-34) on the worker side. file:// rides
# pyarrow's LocalFileSystem, so a file:// test exercises exactly the
# code path s3:// takes in production.


def _pa_uri(path: str) -> str:
    """Normalize a URI for pyarrow.fs: Hadoop's s3a:// connector name
    maps back to pyarrow's s3://."""
    p = normalize_uri(path)
    if p.startswith("s3a://"):
        p = "s3://" + p[len("s3a://"):]
    return p


def _pa_fs(path: str):
    """(pyarrow FileSystem, in-fs path) for a URI — usable in executor
    Python (no JVM). Raises with scheme advice if pyarrow lacks the
    scheme (e.g. hdfs without libhdfs)."""
    from pyarrow import fs as pafs

    try:
        return pafs.FileSystem.from_uri(_pa_uri(path))
    except Exception as e:
        raise ValueError(
            f"{path}: no executor-side filesystem for this scheme "
            f"(pyarrow.fs: {e}) — write parquet for Hadoop-only "
            f"schemes, or localize the output"
        ) from e


def check_executor_fs(path: str) -> None:
    """Driver-side plan-time probe: fail fast (before launching the
    job) when a URI's scheme has no executor-side filesystem."""
    if is_uri(path):
        _pa_fs(path)


def open_output(path: str):
    """Binary output stream for a local path or URI; EXECUTOR-safe
    (pyarrow.fs for URIs, plain open otherwise)."""
    if not is_uri(path):
        return open(path, "wb")
    fs, within = _pa_fs(path)
    return fs.open_output_stream(within)


# --- Hadoop FileSystem bridge (URI paths) -----------------------------------


def _hadoop(path: str):
    """(jvm, FileSystem, Path) for a URI, via the active session's
    Hadoop configuration — the same config Spark's readers use."""
    from pyspark.sql import SparkSession

    # getActiveSession is THREAD-LOCAL — service handler threads see
    # None; fall back to the process-wide instantiated session
    spark = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if spark is None:
        raise RuntimeError(
            f"no active SparkSession to route URI {path!r}; build the "
            f"session before lake I/O on object storage"
        )
    path = normalize_uri(path)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    juri = jvm.java.net.URI(path)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(juri, conf)
    return jvm, fs, jvm.org.apache.hadoop.fs.Path(path)


# --- operations --------------------------------------------------------------


def exists(path: str) -> bool:
    if not is_uri(path):
        return os.path.exists(path)
    _, fs, p = _hadoop(path)
    return bool(fs.exists(p))


def is_dir(path: str) -> bool:
    if not is_uri(path):
        return os.path.isdir(path)
    _, fs, p = _hadoop(path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def is_file(path: str) -> bool:
    if not is_uri(path):
        return os.path.isfile(path)
    _, fs, p = _hadoop(path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isFile())


def makedirs(path: str) -> None:
    if not is_uri(path):
        os.makedirs(path, exist_ok=True)
        return
    _, fs, p = _hadoop(path)
    fs.mkdirs(p)


def listdir(path: str) -> list[str]:
    """Child NAMES (not full paths), matching os.listdir."""
    if not is_uri(path):
        return os.listdir(path)
    _, fs, p = _hadoop(path)
    return [st.getPath().getName() for st in fs.listStatus(p)]


def rmtree(path: str) -> None:
    if not is_uri(path):
        shutil.rmtree(path)
        return
    _, fs, p = _hadoop(path)
    fs.delete(p, True)


def remove(path: str) -> None:
    if not is_uri(path):
        os.remove(path)
        return
    _, fs, p = _hadoop(path)
    fs.delete(p, False)


def rename(old: str, new: str) -> None:
    if not is_uri(old):
        os.rename(old, new)
        return
    jvm, fs, po = _hadoop(old)
    pn = jvm.org.apache.hadoop.fs.Path(normalize_uri(new))
    if not fs.rename(po, pn):
        raise OSError(f"rename failed: {old} -> {new}")


def getsize(path: str) -> int:
    if not is_uri(path):
        return os.path.getsize(path)
    _, fs, p = _hadoop(path)
    return int(fs.getFileStatus(p).getLen())


def _is_data_name(name: str) -> bool:
    # Spark's file index skips these too (_SUCCESS, .crc sidecars)
    return not name.startswith(("_", "."))


def identity(path: str) -> tuple:
    """What a reader must compare to tell whether `path` changed: a
    file gives (size, mtime_ns); a directory gives the sorted
    (relative name, size, mtime) of the data files under it."""
    if not is_uri(path):
        if not os.path.isdir(path):
            st = os.stat(path)
            return (st.st_size, st.st_mtime_ns)
        out = []
        for top, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if _is_data_name(d)]
            for name in files:
                if _is_data_name(name):
                    st = os.stat(os.path.join(top, name))
                    rel = os.path.relpath(os.path.join(top, name), path)
                    out.append((rel, st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    _, fs, p = _hadoop(path)
    st = fs.getFileStatus(p)
    if st.isFile():
        return (int(st.getLen()), int(st.getModificationTime()))
    root = _uri_str(st.getPath()).rstrip("/") + "/"
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        full = _uri_str(f.getPath())
        rel = full[len(root):] if full.startswith(root) else full
        if all(_is_data_name(part) for part in rel.split("/")):
            out.append((rel, int(f.getLen()), int(f.getModificationTime())))
    return tuple(sorted(out))


def read_bytes(path: str) -> bytes:
    if not is_uri(path):
        with open(path, "rb") as f:
            return f.read()
    jvm, fs, p = _hadoop(path)
    stream = fs.open(p)
    try:
        bos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 65536, False)
        return bytes(bos.toByteArray())
    finally:
        stream.close()


def write_bytes(path: str, data: bytes) -> None:
    if not is_uri(path):
        with open(path, "wb") as f:
            f.write(data)
        return
    _, fs, p = _hadoop(path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_text(path: str) -> str:
    return read_bytes(path).decode()


def write_text(path: str, text: str) -> None:
    write_bytes(path, text.encode())


def append_text(path: str, text: str) -> None:
    """Append for small metadata logs. Remote stores have no append
    (S3 objects are immutable) — read+concat+overwrite; the commit
    log is KB-sized so this is one GET + one PUT."""
    if not is_uri(path):
        with open(path, "a") as f:
            f.write(text)
        return
    old = read_bytes(path) if exists(path) else b""
    write_bytes(path, old + text.encode())


def read_head(path: str, n: int = 4096) -> bytes:
    """First n bytes — format sniffing without pulling whole objects."""
    if not is_uri(path):
        with open(path, "rb") as f:
            return f.read(n)
    jvm, fs, p = _hadoop(path)
    # py4j passes Python buffers to Java BY VALUE — a Java-side read
    # into them never copies back. Copy a bounded count through a
    # Java ByteArrayOutputStream instead.
    stream = fs.open(p)
    try:
        bounded = jvm.org.apache.commons.io.input.BoundedInputStream(
            stream, n
        )
        bos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(bounded, bos, 65536, False)
        return bytes(bos.toByteArray())
    finally:
        stream.close()


def _uri_str(jpath) -> str:
    """Hadoop Path → canonical scheme://authority/path string that
    round-trips through this module's scheme detection."""
    u = jpath.toUri()
    scheme = u.getScheme() or ""
    auth = u.getAuthority() or ""
    return f"{scheme}://{auth}{u.getPath()}"


def expand(path: str) -> list[str]:
    """Path → ordered list of data files: directory children, glob
    matches, or the path itself (the driver-side text readers' file
    enumeration). URIs route through Hadoop; globStatus handles
    wildcards on any scheme."""
    if not is_uri(path):
        import glob

        if os.path.isdir(path):
            return sorted(glob.glob(os.path.join(path, "*")))
        if any(c in path for c in "*?["):
            return sorted(glob.glob(path))
        return [path]
    jvm, fs, p = _hadoop(path)
    if fs.exists(p) and fs.getFileStatus(p).isDirectory():
        return sorted(
            _uri_str(st.getPath())
            for st in fs.listStatus(p)
            if st.isFile()
        )
    if any(c in path for c in "*?["):
        sts = fs.globStatus(p)
        return sorted(_uri_str(st.getPath()) for st in sts) if sts else []
    return [normalize_uri(path)]
