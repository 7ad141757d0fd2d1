"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from datetime import datetime, timedelta, timezone

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import compare  # noqa: E402
import lakegen  # noqa: E402
import report  # noqa: E402
import spans  # noqa: E402
import wl_service  # noqa: E402
import wl_zq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


# --- percentile rule ---------------------------------------------------


def test_nearest_rank_percentile():
    xs = list(range(1, 101))  # 1..100
    assert common.percentile(xs, 50) == 50
    assert common.percentile(xs, 90) == 90
    assert common.percentile(xs, 100) == 100
    assert common.percentile([7], 90) == 7
    assert common.percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        common.percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert common.tail_percentile(100) == 90
    assert common.tail_percentile(99) == 85
    assert common.tail_percentile(40) == 75
    assert common.tail_percentile(20) == 50
    assert common.tail_percentile(19) is None
    for n in range(20, 400):
        q = common.tail_percentile(n)
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > common.percentile(xs, q))
        assert beyond >= common.MIN_BEYOND


# --- self-time arithmetic ---------------------------------------------


def _span(i, parent, start, end, name="x", rid="r"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name, "rid": rid}


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 1), (2, 3)]) == 2
    assert spans.union_length([(0, 2), (1, 3)]) == 3
    assert spans.union_length([(0, 5), (1, 2), (3, 4)]) == 5
    assert spans.union_length([(1, 2), (0, 1)]) == 2


def test_self_time_subtracts_children_once():
    ss = [
        _span(1, None, 0.0, 10.0, "build"),
        _span(2, 1, 1.0, 4.0, "lang.compile"),
        _span(3, 2, 1.5, 2.0, "lang.parse"),
        _span(4, 2, 2.0, 3.5, "readers.read_table"),
        _span(5, 1, 3.0, 6.0, "readers.read_table"),  # overlaps span 2
    ]
    st = spans.self_times(ss)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(1.5)
    assert st[2] == pytest.approx(3.0 - 0.5 - 1.5)
    assert st[1] == pytest.approx(10.0 - 5.0)  # children cover 1..6


def test_self_time_clips_children_to_parent():
    ss = [_span(1, None, 0.0, 2.0), _span(2, 1, 1.0, 5.0)]
    assert spans.self_times(ss)[1] == pytest.approx(1.0)


def test_per_op_sums_by_request_and_layer():
    ss = [
        _span(1, None, 0, 4, "build", "a"),
        _span(2, 1, 0, 1, "readers.read_table", "a"),
        _span(3, 1, 2, 3, "readers.read_table", "a"),
        _span(4, None, 0, 2, "build", "b"),
    ]
    assert spans.per_op(ss, "self") == {
        "a": {"build": 2, "readers.read_table": 2}, "b": {"build": 2}}
    assert spans.per_op(ss, "calls")["a"]["readers.read_table"] == 2


def test_tracer_records_only_inside_an_op():
    tr = spans.Tracer()

    class Box:
        def f(self, x):
            return x + 1

    tr.wrap(Box, "f", "box.f")
    assert Box().f(1) == 2 and tr.spans == []
    with tr.op("r1"):
        with tr.span("outer"):
            assert Box().f(2) == 3
    assert [(s["name"], s["rid"]) for s in tr.spans] == [("box.f", "r1"), ("outer", "r1")]
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_tracer_counts_jobs_while_open():
    counts = iter([3, 7])
    tr = spans.Tracer(jobs_in_group=lambda rid: next(counts))
    with tr.op("r"):
        with tr.span("s", jobs=True):
            pass
    assert tr.spans[0]["jobs"] == 4


def test_overhead_pct_pairs_kinds():
    traced = {"a": [1.1, 1.1], "b": [2.2], "only_traced": [9.0]}
    plain = {"a": [1.0], "b": [2.0, 2.0]}
    assert report.overhead_pct(traced, plain) == pytest.approx(10.0)


# --- metric names and records ------------------------------------------


def test_metric_name_pattern():
    for ok in ("p50_ms", "lang.parse_ms", "render.bytes_per_row", "host.steal_pct", "a-b.c_9"):
        assert common.check_name(ok) == ok
    for bad in ("", "_x", ".x", "a b", "a/b", "é", "x" * 65):
        with pytest.raises(ValueError):
            common.check_name(bad)


def test_metrics_refuse_non_numbers():
    m = common.Metrics()
    m.put("ok_ratio", 1.0, "ratio")
    for bad in (True, "1", None, float("nan"), float("inf")):
        with pytest.raises((TypeError, ValueError)):
            m.put("x", bad, "s")


def test_benchmark_json_names_match_contract():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]] + [
        m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        common.check_name(n)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_end_to_end_report_has_every_declared_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    res = dict(setup_times=[3.0, 1.0, 2.0], rss={"total": 100.0}, attempted=10,
               failures=["x"], latencies=[0.1, 0.3, 0.2], ops_per_s=2.0, rows_per_s=5.0)
    out = report.end_to_end(res, units)
    assert set(out) == set(units)
    assert out["setup_s"]["value"] == 2.0
    assert out["ok_ratio"]["value"] == 0.9
    assert out["p50_ms"]["value"] == pytest.approx(200.0)


def test_per_layer_report_from_spans_and_records():
    ss = [
        _span(1, None, 0.0, 0.3, "build", "q0"),
        _span(2, 1, 0.0, 0.2, "lang.compile", "q0"),
        _span(3, 2, 0.0, 0.001, "lang.parse", "q0"),
        _span(4, 2, 0.05, 0.15, "readers.read_table", "q0"),
    ]
    ss[3]["jobs"] = 1
    stages = dict(stages=2, tasks=8, run_ms=400.0, cpu_ms=300.0, gc_ms=5.0,
                  input_bytes=10, shuffle_read_bytes=20, shuffle_write_bytes=30)
    rec = dict(build_s=0.3, exec_s=0.5, build_jobs=1, jobs=2, stages=stages,
               catalyst={"analysis": 1.0, "optimization": 2.0, "planning": 3.0})
    res = dict(spans=ss, layer_recs=[rec], cores=4, steal=1.5, calib_s=0.2,
               traced_lat={"t": [1.1]}, plain_lat={"t": [1.0]},
               extra_layers={"lake.objects_live": 7})
    units = {"lang.parse_ms": "ms", "lang.compile_self_ms": "ms", "readers.read_table_ms": "ms",
             "readers.read_table_jobs": "count", "exec.core_busy_ratio": "ratio",
             "catalyst.planning_ms": "ms", "lake.objects_live": "count",
             "render.zng_ms": "ms", "trace.overhead_pct": "%"}
    out = {k: v["value"] for k, v in report.per_layer(res, None, units).items()}
    assert set(out) == set(units)
    assert out["lang.parse_ms"] == pytest.approx(1.0)
    assert out["lang.compile_self_ms"] == pytest.approx(200 - 1 - 100)
    assert out["readers.read_table_ms"] == pytest.approx(100.0)
    assert out["readers.read_table_jobs"] == 1
    assert out["exec.core_busy_ratio"] == pytest.approx(400 / (500 * 4))
    assert out["catalyst.planning_ms"] == 3.0
    assert out["lake.objects_live"] == 7
    assert out["render.zng_ms"] == 0.0  # a layer the workload does not use
    assert out["trace.overhead_pct"] == pytest.approx(10.0)


def test_result_line_shape():
    line = common.result_line(True, 3, 0, {"p50_ms": {"value": 1.5, "unit": "ms"}})
    assert json.loads(line) == {"correct": True, "attempted": 3, "failed": 0,
                                "metrics": {"p50_ms": {"value": 1.5, "unit": "ms"}}}


# --- correctness comparators -------------------------------------------


def test_compare_rows_ignores_column_and_row_order():
    a = (["x", "y"], [(1, "a"), (2, "b")])
    b = (["y", "x"], [("b", 2), ("a", 1)])
    assert compare.compare_rows(*a, *b) is None
    assert compare.compare_rows(*a, *b, ordered=True) is not None


def test_compare_rows_float_tolerance_and_mismatches():
    assert compare.compare_rows(["v"], [(0.1 + 0.2,)], ["v"], [(0.3,)]) is None
    assert compare.compare_rows(["v"], [(1.0,)], ["v"], [(1.001,)]) is not None
    assert compare.compare_rows(["v"], [(1,)], ["v"], [(1.0,)]) is None
    assert compare.compare_rows(["v"], [(1,)], ["v"], [(1,), (1,)]).startswith("row counts")
    assert compare.compare_rows(["v"], [(1,)], ["w"], [(1,)]).startswith("columns")
    assert compare.compare_rows(["v"], [("1",)], ["v"], [(1,)]) is not None
    assert compare.compare_rows(["v"], [(None,)], ["v"], [(None,)]) is None


def test_compare_rows_timestamps_by_utc_instant():
    naive = datetime(2024, 1, 1, 5, 0)
    aware = datetime(2024, 1, 1, 6, 0, tzinfo=timezone(timedelta(hours=1)))
    assert compare.compare_rows(["t"], [(naive,)], ["t"], [(aware,)]) is None
    assert compare.compare_rows(["t"], [(naive,)], ["t"], [(naive + timedelta(seconds=1),)]) is not None


def test_compare_rows_handles_mixed_types_when_sorting():
    rows = [(None,), (1,), ("a",)]
    assert compare.compare_rows(["v"], rows, ["v"], list(reversed(rows))) is None


# --- workload inputs ------------------------------------------------------


def test_zq_sequence_is_seeded_and_balanced():
    a = wl_zq.query_sequence(5, 3)
    assert a == wl_zq.query_sequence(5, 3)
    assert a != wl_zq.query_sequence(6, 3)
    n = len(wl_zq.TEMPLATES)
    for c in range(3):
        assert sorted(op["template"] for op in a[c * n:(c + 1) * n]) == sorted(
            t[0] for t in wl_zq.TEMPLATES)


def test_zq_constants_cover_their_range_in_any_window():
    # a cost-setting constant must not cluster within the cycles of a run
    for start in (0.0, 0.37, 0.999):
        for n in (4, 12, 30):
            xs = sorted(wl_zq.spread_point(start, i) for i in range(n))
            gaps = [b - a for a, b in zip(xs, xs[1:])] + [xs[0] + 1 - xs[-1]]
            assert max(gaps) < 2 / n


def test_service_reader_ops_cover_every_format_and_template():
    ops = lakegen.reader_ops(3, 0, 15)
    assert ops == lakegen.reader_ops(3, 0, 15)
    pairs = {(o["template"], o["fmt"]) for o in ops}
    assert len(pairs) == len(lakegen.TEMPLATES) * len(lakegen.FORMATS)


def test_batches_are_seeded():
    a, b = lakegen.batch(1, 2), lakegen.batch(1, 2)
    assert all((a[k] == b[k]).all() for k in a)
    assert not (lakegen.batch(2, 2)["value"] == a["value"]).all()
    assert len(lakegen.to_zson(a).splitlines()) == lakegen.BATCH_ROWS


def test_expected_answers():
    rows = {"ts": [0, 0, 0], "user_id": lakegen.np.array([1, 5, 9]),
            "event_type": lakegen.np.array([0, 0, 1]), "value": lakegen.np.array([1.5, 3.0, 2.0])}
    assert lakegen.expected(("count", 6), rows) == 2
    assert lakegen.expected(("count_by", 1.9), rows) == {"click": 1, "view": 1}
    assert lakegen.expected(("range", 1.0, 2.5), rows) == {"click": (1, 1.5), "view": (1, 2.0)}


def test_response_parsers_agree():
    zson = '{event_type:"click",count:12(uint64)}\n{event_type:"view",count:3(uint64)}\n'
    zjson = (
        '{"type":{"kind":"record","id":30,"fields":[{"name":"event_type","type":'
        '{"kind":"primitive","name":"string"}},{"name":"count","type":'
        '{"kind":"primitive","name":"uint64"}}]},"value":["click","12"]}\n'
        '{"type":{"kind":"ref","id":30},"value":["view","3"]}\n'
    )
    js = b'[{"event_type":"click","count":12},{"event_type":"view","count":3}]'
    want = {"click": 12, "view": 3}
    for fmt, body in (("zson", zson.encode()), ("zjson", zjson.encode()), ("json", js)):
        assert lakegen.canonical(("count_by", 0), lakegen.parse_response(fmt, body)) == want


def test_bare_count_forms():
    assert lakegen.canonical(("count",), [591]) == 591
    assert lakegen.canonical(("count",), [{"this": 591}]) == 591
    assert lakegen.canonical(("count",), lakegen.parse_zson("591(uint64)\n")) == 591
    with pytest.raises(ValueError):
        lakegen.canonical(("count",), [1, 2])


def test_zson_scalars():
    recs = lakegen.parse_zson('{n:2(uint64),mx:199.99,s:"a,b}",neg:-3}\n')
    assert recs == [{"n": 2, "mx": 199.99, "s": "a,b}", "neg": -3}]


def test_ksuid_b62_roundtrip():
    hex_id = "0x" + "0e" * 20
    b62 = wl_service.ksuid_b62(hex_id)
    assert len(b62) == 27
    n = 0
    for ch in b62:
        n = n * 62 + wl_service.B62.index(ch)
    assert "0x" + n.to_bytes(20, "big").hex() == hex_id


def test_service_answers_checked_against_acknowledged_loads():
    load = wl_service.Load(port=0, seed=4, traced=False)
    pool = lakegen.POOLS[0]
    spec = ("count", 10**9)  # every row: the answer is the prefix's row count
    op = {"pool": pool, "zed": f"from {pool} | count()", "spec": spec, "fmt": "json",
          "template": "count"}
    base = sum(len(b["ts"]) for b in load.snapshot[pool])

    def rec(rows, loads, err=None):
        return dict(kind="query", op=op, loads=loads, err=err,
                    payload=json.dumps([{"count": rows}]).encode())

    ok = rec(base + lakegen.BATCH_ROWS, 1)
    stale = rec(base, 1)  # misses a load acknowledged before it was sent
    ahead = rec(base + 2 * lakegen.BATCH_ROWS, 1)  # sees a load not yet sent
    garbled = {**rec(0, 0), "payload": b"not json"}
    http = rec(0, 0, err="query: HTTP 500")
    load.ops = [ok, stale, ahead, garbled, http]
    load.check_answers()
    assert ok["err"] is None
    assert "differs from the answer after 1 loads" in stale["err"]
    assert "differs from the answer after 1 loads" in ahead["err"]
    assert "unreadable json answer" in garbled["err"]
    assert http["err"] == "query: HTTP 500"
    assert all("payload" not in o and "op" not in o for o in load.ops)


def test_service_rounds_never_overlap_loads_and_queries():
    load = wl_service.Load(port=0, seed=4, traced=False)
    seen, lock = [], threading.Lock()

    def fake(kind):
        def op(*args):
            t0 = time.perf_counter()
            time.sleep(0.005)
            with lock:
                seen.append((kind, t0, time.perf_counter()))
        return op

    load.load_one, load.query_one = fake("load"), fake("query")
    load.run_phase(0.05, "timed")
    loads = [s for s in seen if s[0] == "load"]
    queries = [s for s in seen if s[0] == "query"]
    assert loads and len(queries) == len(loads) * wl_service.READERS * wl_service.QUERIES_PER_ROUND
    for _, l0, l1 in loads:
        assert all(q1 <= l0 or q0 >= l1 for _, q0, q1 in queries)
