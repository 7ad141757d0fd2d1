"""Seeded lake contents, queries and answers for service_mixed.

Every pool holds event records `{ts, user_id, event_type, value}`, with
the user and value distributions of the `events` table (data.py).
The snapshot the workload starts from is fixed; the batches the writer
loads and the constants of the readers' queries come from the workload
seed. Because there is one writer, the records a query can see are the
snapshot plus a prefix of the batches loaded into its pool, so each
answer is checked against the prefixes that were possible while the
query was in flight.
"""

from __future__ import annotations

import io
import json
import random
import re
import time

import numpy as np

from data import EVENT_TYPES, EVENT_USERS, EVENT_VALUE_MEAN

VERSION = "3"
POOLS = ["web", "app"]
BATCH_ROWS = 1000
SNAPSHOT_BATCHES = 2  # per pool
SNAPSHOT_SEED = 7
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z


def batch(seed: int, index: int, n: int = BATCH_ROWS) -> dict:
    """n records in hour `index`; timestamps have microsecond precision
    and are unique, as in a real event stream (the pool key, ts, never
    collides)."""
    rng = np.random.default_rng([seed, index])
    step = 3_600_000_000 // n
    us = (T0 + index * 3600) * 1_000_000 + np.arange(n) * step + rng.integers(0, step, n)
    return {
        "ts": rng.permutation(us),
        "user_id": rng.integers(0, EVENT_USERS, n),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        # whole cents over 100: the same double ZSON's two decimals parse to
        "value": np.rint(rng.exponential(EVENT_VALUE_MEAN, n) * 100) / 100,
    }


def to_zson(b: dict) -> bytes:
    lines = [
        '{ts:%s.%06dZ,user_id:%d,event_type:"%s",value:%.2f}'
        % (time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(int(t) // 1_000_000)),
           int(t) % 1_000_000, u, EVENT_TYPES[e], v)
        for t, u, e, v in zip(b["ts"], b["user_id"], b["event_type"], b["value"])
    ]
    return ("\n".join(lines) + "\n").encode()


def snapshot_batches():
    """(pool, batch) pairs the snapshot is built from, in load order."""
    return [
        (pool, batch(SNAPSHOT_SEED, 100 * p + i))
        for p, pool in enumerate(POOLS)
        for i in range(SNAPSHOT_BATCHES)
    ]


def load_batch(seed: int, i: int) -> tuple[str, dict]:
    """The writer's i-th load: pools alternate."""
    return POOLS[i % len(POOLS)], batch(seed, 1_000 + i)


def concat(batches) -> dict:
    return {k: np.concatenate([b[k] for b in batches]) for k in ("ts", "user_id", "event_type", "value")}


# --- reader queries ----------------------------------------------------

FORMATS = {
    "zjson": "application/x-zjson",
    "zson": "application/x-zson",
    "json": "application/json",
    "arrows": "application/vnd.apache.arrow.stream",
    "zng": "application/x-zng",
}


def _count_by_type(r):
    v = r.randint(0, 19_000) / 100
    return f"where value > {v} | count() by event_type", ("count_by", v)


def _count_users(r):
    u = r.randint(1, EVENT_USERS - 1)
    return f"where user_id < {u} | count()", ("count", u)


def _range_agg(r):
    lo = r.randint(0, 15_000) / 100
    hi = round(lo + r.randint(500, 5_000) / 100, 2)
    return (
        f"where value >= {lo} and value < {hi} | summarize n:=count(), mx:=max(value) by event_type",
        ("range", lo, hi),
    )


TEMPLATES = [_count_by_type, _count_users, _range_agg]


def reader_ops(seed: int, reader: int, n: int) -> list[dict]:
    """Seeded queries for one reader. The (template, format) pairs come
    in a fixed order, 15 to a cycle, and the seed draws the constants.
    The readers start at different format offsets so both see every
    format. A run sends a prefix of this list (the warm-up takes the
    first queries, and the timed window ends on time, not on a whole
    cycle), so its format mix varies a little with its length."""
    r = random.Random(seed * 1_000 + reader)
    fmts = list(FORMATS)
    ops = []
    while len(ops) < n:
        for f in range(len(fmts)):
            for t, make in enumerate(TEMPLATES):
                pool = POOLS[(len(ops) + reader) % len(POOLS)]
                text, spec = make(r)
                ops.append({"pool": pool, "zed": f"from {pool} | {text}", "spec": spec,
                            "fmt": fmts[(f + t + reader) % len(fmts)], "template": make.__name__})
    return ops[:n]


def expected(spec, rows: dict):
    """The canonical answer of a query over the given records."""
    kind = spec[0]
    et, val = rows["event_type"], rows["value"]
    if kind == "count_by":
        m = val > spec[1]
        return {EVENT_TYPES[k]: int(c) for k, c in zip(*np.unique(et[m], return_counts=True))}
    if kind == "count":
        return int((rows["user_id"] < spec[1]).sum())
    m = (val >= spec[1]) & (val < spec[2])
    out = {}
    for k in np.unique(et[m]):
        sel = m & (et == k)
        out[EVENT_TYPES[k]] = (int(sel.sum()), float(val[sel].max()))
    return out


def canonical(spec, records: list):
    """Parsed response records -> the form `expected` returns."""
    kind = spec[0]
    if kind == "count":
        if len(records) != 1:
            raise ValueError(f"expected one record, got {len(records)}")
        rec = records[0]
        if isinstance(rec, dict):
            # a bare aggregate renders as a one-field record ("this")
            if len(rec) != 1:
                raise ValueError(f"expected one field, got {sorted(rec)}")
            rec = next(iter(rec.values()))
        return int(rec)
    if kind == "count_by":
        return {r["event_type"]: int(r["count"]) for r in records}
    return {r["event_type"]: (int(r["n"]), float(r["mx"])) for r in records}


# --- response parsers ----------------------------------------------------

_FIELD = re.compile(r'([A-Za-z_][A-Za-z0-9_]*):("(?:[^"\\]|\\.)*"|[^,}]+)')
_DECOR = re.compile(r"\([A-Za-z0-9_=.]+\)$")


def _zson_scalar(t: str):
    t = t.strip()
    if t.startswith('"'):
        return json.loads(t)
    t = _DECOR.sub("", t)
    if t == "null":
        return None
    return float(t) if any(c in t for c in ".eEIN") else int(t)


def parse_zson(text: str) -> list:
    """Flat ZSON records or bare primitive values, one per line."""
    out = []
    for line in text.splitlines():
        line = line.strip()
        if not line:
            continue
        if line.startswith("{"):
            body = line[1:line.rindex("}")]
            out.append({k: _zson_scalar(v) for k, v in _FIELD.findall(body)})
        else:
            out.append(_zson_scalar(line))
    return out


def _zjson_prim(name: str, v):
    if v is None:
        return None
    if name.startswith(("int", "uint")):
        return int(v)
    if name.startswith("float"):
        return float(v)
    return v


def parse_zjson(text: str) -> list:
    """ZJSON lines: each carries its type (defined once, then referred
    to by id) and its value with primitives as strings."""
    types: dict = {}

    def resolve(t):
        if t["kind"] == "ref":
            return types[t["id"]]
        if t["kind"] == "record":
            t = {**t, "fields": [{**f, "type": resolve(f["type"])} for f in t["fields"]]}
        if "id" in t:
            types[t["id"]] = t
        return t

    def value(t, v):
        if t["kind"] == "record":
            return {f["name"]: value(f["type"], x) for f, x in zip(t["fields"], v)}
        if t["kind"] == "primitive":
            return _zjson_prim(t["name"], v)
        raise ValueError(f"unexpected zjson type kind {t['kind']!r}")

    out = []
    for line in text.splitlines():
        if line.strip():
            o = json.loads(line)
            out.append(value(resolve(o["type"]), o["value"]))
    return out


def parse_response(fmt: str, body: bytes) -> list:
    if fmt == "json":
        return json.loads(body)
    if fmt == "zson":
        return parse_zson(body.decode())
    if fmt == "zjson":
        return parse_zjson(body.decode())
    if fmt == "arrows":
        import pyarrow.ipc as ipc

        return ipc.open_stream(io.BytesIO(body)).read_all().to_pylist()
    if fmt == "zng":
        # decoded with the engine's own ZNG reader: a round trip
        # through the writer under test and the reader beside it
        from zed_spark.sources.zng import parse_zng

        return parse_zng(body)
    raise ValueError(f"unknown format {fmt!r}")
