"""Turns a workload's raw measurements into the reported metrics.

End-to-end metrics are the same for every workload (see README.md for
what the foreground operation is on each). Per-layer metrics come from
the traced run: span self times (duration minus the time covered by
child spans), job and stage counts from Spark's status store, and
Catalyst phase times from the QueryPlanningTracker. A layer a workload
does not exercise reports 0.
"""

from __future__ import annotations

import json
import os
import statistics

import common
import spans as sp


def end_to_end(res: dict, units: dict) -> dict:
    m = common.Metrics()
    attempted = res["attempted"]
    m.put("setup_s", common.median(res["setup_times"]), units["setup_s"])
    m.put("peak_rss_mb", res["rss"]["total"], units["peak_rss_mb"])
    m.put("ok_ratio", (attempted - len(res["failures"])) / attempted, units["ok_ratio"])
    m.put("p50_ms", 1000 * common.median(res["latencies"]), units["p50_ms"])
    m.put("ops_per_s", res["ops_per_s"], units["ops_per_s"])
    m.put("rows_per_s", res["rows_per_s"], units["rows_per_s"])
    return m.items


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def overhead_pct(traced: dict, plain: dict) -> float:
    """Median over operation kinds of (traced median / untraced median
    - 1), in percent; kinds measured both ways only."""
    ratios = [
        _med(traced[k]) / _med(plain[k]) - 1
        for k in traced
        if k in plain and _med(plain[k]) > 0
    ]
    return 100 * _med(ratios)


def per_layer(res: dict, tracer, units: dict) -> dict:
    spans = res.get("spans", tracer.spans if tracer else [])
    recs = res.get("layer_recs", [])
    by_self = sp.per_op(spans, "self")
    by_calls = sp.per_op(spans, "calls")
    rids = sorted(by_self)

    def self_ms(name):
        return _med([1000 * by_self[r][name] for r in rids if name in by_self[r]])

    def durations(name):
        return [s for s in spans if s["name"] == name]

    out: dict[str, float] = {}
    rt = durations("readers.read_table")
    out["lang.parse_ms"] = self_ms("lang.parse")
    out["lang.compile_self_ms"] = self_ms("lang.compile")
    out["readers.read_table_ms"] = _med([1000 * (s["end"] - s["start"]) for s in rt])
    out["readers.read_table_calls"] = _mean([by_calls[r].get("readers.read_table", 0) for r in rids])
    out["readers.read_table_jobs"] = _mean([s.get("jobs", 0) for s in rt])
    out["build.ms"] = _med([1000 * r["build_s"] for r in recs])
    out["build.jobs"] = _mean([r["build_jobs"] for r in recs])
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = _med([r["catalyst"][ph] for r in recs if r.get("catalyst")])
    st = [r["stages"] for r in recs]
    out["exec.action_ms"] = _med([1000 * r["exec_s"] for r in recs])
    out["exec.jobs"] = _mean([r["jobs"] for r in recs])
    out["exec.stages"] = _mean([s["stages"] for s in st])
    out["exec.tasks"] = _mean([s["tasks"] for s in st])
    out["exec.executor_run_ms"] = _med([s["run_ms"] for s in st])
    out["exec.executor_cpu_ms"] = _med([s["cpu_ms"] for s in st])
    out["exec.gc_ms"] = _med([s["gc_ms"] for s in st])
    out["exec.input_bytes"] = _mean([s["input_bytes"] for s in st])
    out["exec.shuffle_read_bytes"] = _mean([s["shuffle_read_bytes"] for s in st])
    out["exec.shuffle_write_bytes"] = _mean([s["shuffle_write_bytes"] for s in st])
    busy_den = sum(r["exec_s"] for r in recs) * 1000 * res.get("cores", os.cpu_count() or 1)
    out["exec.core_busy_ratio"] = sum(s["run_ms"] for s in st) / busy_den if busy_den else 0.0
    out.update(res.get("extra_layers", {}))
    out["host.steal_pct"] = res["steal"]
    out["host.calib_s"] = res["calib_s"]
    out["trace.overhead_pct"] = overhead_pct(res["traced_lat"], res["plain_lat"])

    m = common.Metrics()
    for n, unit in units.items():
        m.put(n, float(out.get(n, 0.0)), unit)
    return m.items


def info(args, res: dict) -> dict:
    lat = res["latencies"]
    q = common.tail_percentile(len(lat))
    d = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": len(lat), "wall_s": round(res["wall"], 3),
        "host.steal_pct": round(res["steal"], 3), "host.calib_s": round(res["calib_s"], 4),
        "setup_cycles_s": [round(t, 3) for t in res["setup_times"]],
        "peak_rss_mb": {k: round(v, 1) for k, v in res["rss"].items()},
        "failures": res["failures"][:20],
    }
    if q is not None:
        d[f"p{q}_ms"] = round(1000 * common.percentile(lat, q), 2)
    d.update(res.get("info", {}))
    return d


def write_trace(runs: str, args, tracer, res: dict, metrics: dict) -> str:
    spans = res.get("spans", tracer.spans)
    t0 = min((s["start"] for s in spans), default=0.0)
    st = sp.self_times(spans)
    doc = {
        "workload": args.workload, "seed": args.seed,
        "metrics": metrics,
        "spans": [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": st[s["id"]]}
            for s in spans
        ],
        "ops": res.get("layer_recs", []),
    }
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(runs, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh)
    return path
