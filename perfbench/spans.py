"""In-memory span recording for the traced benchmark run.

A span is one call into a layer: name, start, end, the span that
caused it and the request (operation) id it belongs to. Spans are
recorded only on threads that are inside `Tracer.op(...)`, so an
untraced operation pays one thread-local lookup per wrapped call.

The wrappers are installed from outside the program, around the public
entry points of each layer (`install_engine_wrappers`); the program's
own files are not changed.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, jobs_in_group=None):
        # jobs_in_group(rid) -> number of Spark jobs in the request's
        # job group so far; spans opened with jobs=True record the
        # jobs fired while they were open
        self.jobs_in_group = jobs_in_group
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def rid(self) -> str | None:
        return getattr(self._tls, "rid", None)

    @contextmanager
    def op(self, rid: str):
        """Trace everything this thread calls until the block ends."""
        self._tls.rid, self._tls.stack = rid, []
        try:
            yield
        finally:
            self._tls.rid = None

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        rid = self.rid()
        if rid is None:
            yield None
            return
        stack = self._tls.stack
        rec = {
            "id": next(self._ids),
            "parent": stack[-1] if stack else None,
            "rid": rid,
            "name": name,
            **attrs,
        }
        j0 = self.jobs_in_group(rid) if jobs and self.jobs_in_group else None
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if j0 is not None:
                rec["jobs"] = self.jobs_in_group(rid) - j0
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, jobs: bool = False) -> None:
        """Replace owner.attr with a wrapper recording a `name` span."""
        inner = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if tracer.rid() is None:
                return inner(*args, **kwargs)
            with tracer.span(name, jobs=jobs):
                return inner(*args, **kwargs)

        traced.__wrapped__ = inner
        setattr(owner, attr, traced)


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def per_op(spans: list[dict], value: str = "self") -> dict[str, dict[str, float]]:
    """rid -> span name -> summed self time (value='self') or number
    of calls (value='calls')."""
    st = self_times(spans) if value == "self" else None
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        d = out.setdefault(s["rid"], {})
        d[s["name"]] = d.get(s["name"], 0) + (st[s["id"]] if st else 1)
    return out


# --- Spark-side readers ----------------------------------------------


def drain_listener(sc) -> None:
    """Wait until the status store has seen every finished event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_job_ids(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def job_counter(sc):
    """rid -> jobs started so far in that job group. The status store
    is fed asynchronously, so the listener bus is drained first."""

    def count(rid: str) -> int:
        drain_listener(sc)
        return len(group_job_ids(sc, rid))

    return count


def stage_totals(sc, job_ids) -> dict[str, float]:
    """Executor-side totals of the stages the given jobs ran, from the
    live status store (works with the UI disabled). Skipped stages
    (reused shuffle output) are not counted."""
    store = sc._jsc.sc().statusStore()
    tot = dict(stages=0, tasks=0, run_ms=0.0, cpu_ms=0.0, gc_ms=0.0,
               input_bytes=0, shuffle_read_bytes=0, shuffle_write_bytes=0)
    seen = set()
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage never submitted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numTasks()
            tot["run_ms"] += sd.executorRunTime()
            tot["cpu_ms"] += sd.executorCpuTime() / 1e6
            tot["gc_ms"] += sd.jvmGcTime()
            tot["input_bytes"] += sd.inputBytes()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return tot


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of a DataFrame's own query
    execution (QueryPlanningTracker)."""
    ph = df._jdf.queryExecution().tracker().phases()
    return {
        k: float(ph.apply(k).durationMs()) if ph.contains(k) else 0.0
        for k in ("analysis", "optimization", "planning")
    }


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points (parse, compile, build,
    table reads, lake load/scan, ZSON ingest, service load body).
    Names of the spans are the layer names reported."""
    import sys

    import zed_spark.lang
    import zed_spark.lang.parser
    import zed_spark.service
    import zed_spark.sources.ingest
    import zed_spark.sources.lake
    import zed_spark.sources.readers
    from zed_spark.session import ZedSession

    tracer.wrap(zed_spark.lang.parser, "parse", "lang.parse")
    tracer.wrap(zed_spark.lang, "compile_query", "lang.compile", jobs=True)
    tracer.wrap(ZedSession, "query", "build", jobs=True)
    tracer.wrap(zed_spark.sources.ingest, "zson_text_to_df", "zson.ingest")
    lake = zed_spark.sources.lake
    tracer.wrap(lake.Pool, "load", "lake.load", jobs=True)
    tracer.wrap(lake.Pool, "scan", "lake.scan", jobs=True)
    svc = zed_spark.service.QueryService
    tracer.wrap(svc, "_load_body", "service.load_body")
    # read_table is bound by name into the query modules at import
    # time: rebind every loaded copy so all callers are traced
    readers = zed_spark.sources.readers
    original = readers.read_table
    tracer.wrap(readers, "read_table", "readers.read_table", jobs=True)
    for mod in list(sys.modules.values()):
        if (
            getattr(mod, "__name__", "").startswith("zed_spark")
            and getattr(mod, "read_table", None) is original
        ):
            mod.read_table = readers.read_table
