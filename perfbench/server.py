"""The QueryService process of the service_mixed workload.

    python3 perfbench/server.py --lake DIR --work DIR --ready FILE [--trace 1]
    python3 perfbench/server.py --build-snapshot DIR --work DIR

Serves the lake at DIR over HTTP on 127.0.0.1 (a free port) and writes
FILE, a JSON record with the port and the set-up times, once it
answers queries. It stops when its standard input closes, and then
writes `summary.json` in the work directory: peak memory of this
process and its JVM, and (with --trace 1) the spans of every request
that carried `X-Bench-Trace: 1`.

--build-snapshot creates the seeded pools the workload starts from,
by posting the snapshot's ZSON batches through the service's own load
route, so snapshot objects and later loads have the same shape.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--lake")
    ap.add_argument("--build-snapshot")
    ap.add_argument("--work", required=True)
    ap.add_argument("--ready")
    ap.add_argument("--trace", type=int, default=0)
    return ap.parse_args(argv)


def _post(svc, path, body: bytes, ctype="", accept="application/json", extra=None):
    hdrs = {"accept": accept, "content-type": ctype, **(extra or {})}
    return svc.handle_api("POST", path, {}, hdrs, body)


def build_snapshot(lake: str, tmp: str) -> None:
    import common
    import lakegen
    from zed_spark.service import QueryService
    from zed_spark.session import build_spark

    spark = build_spark(app_name="perfbench-snapshot", extra_conf=common.spark_conf(tmp))
    os.makedirs(lake, exist_ok=True)
    svc = QueryService(spark, lake_root=lake)
    for pool in lakegen.POOLS:
        _post(svc, "/pool", json.dumps({"name": pool, "layout": {"keys": [["ts"]]}}).encode())
    for pool, batch in lakegen.snapshot_batches():
        _post(svc, f"/pool/{pool}/branch/main", lakegen.to_zson(batch), "application/x-zson")
    common.stop_engine(spark)


def install_request_tracing(tracer, svc_cls, sc_of) -> None:
    """Trace requests that ask for it: one op per request id, with the
    request's Spark jobs in a job group of that id."""
    import spans as sp

    handle, render = svc_cls.handle_api, svc_cls._render

    def traced_handle(self, method, path, params, headers, body):
        rid = headers.get("x-bench-rid")
        if headers.get("x-bench-trace") != "1" or not rid:
            return handle(self, method, path, params, headers, body)
        sc = sc_of(self)
        with tracer.op(rid):
            sc.setJobGroup(rid, rid)
            try:
                with tracer.span("service.handle", jobs=True, path=path):
                    return handle(self, method, path, params, headers, body)
            finally:
                sc.setJobGroup("idle", "idle")

    def traced_render(self, df, fmt, ctrl=False, nrows=None):
        with tracer.span("render", jobs=True, fmt=fmt) as rec:
            out = render(self, df, fmt, ctrl=ctrl, nrows=nrows)
            if rec is not None:
                rec["bytes"], rec["rows"] = len(out), nrows
            return out

    svc_cls.handle_api, svc_cls._render = traced_handle, traced_render
    sp.install_engine_wrappers(tracer)


def serve(args, tmp: str) -> None:
    import common
    import lakegen
    from engine import start_engine
    from zed_spark.service import QueryService

    tracer = None
    if args.trace:
        import spans as sp

        tracer = sp.Tracer()

    def first(spark):
        svc = QueryService(spark, lake_root=args.lake)
        _post(svc, "/query", json.dumps({"query": f"from {lakegen.POOLS[0]} | count()"}).encode())
        return svc

    # a new context costs seconds of cold lake-scan set-up per cycle, so
    # later cycles time a new service on the running engine
    spark, svc, setup_times = start_engine(tmp, first, restart=False)
    sc = spark.sparkContext
    if tracer is not None:
        tracer.jobs_in_group = sp.job_counter(sc)
        install_request_tracing(tracer, QueryService, lambda s: s.spark.sparkContext)
    port = svc.start("127.0.0.1", 0)
    with open(args.ready + ".tmp", "w") as fh:
        json.dump({"port": port, "setup_times": setup_times}, fh)
    os.replace(args.ready + ".tmp", args.ready)

    sys.stdin.read()  # until the load generator closes the pipe

    svc.stop()
    summary = {"rss": common.engine_peak_rss_mb(spark)}
    if tracer is not None:
        from zed_spark.sources.lake import Lake

        lake = Lake(spark, args.lake)
        summary["objects_live"] = sum(lake.pool(p).meta_objects().count() for p in lake.pools())
        summary["spans"] = tracer.spans
    with open(os.path.join(args.work, "summary.json"), "w") as fh:
        json.dump(summary, fh)
    common.stop_engine(spark)


def main(argv=None) -> int:
    args = _args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    import common

    tmp = common.prepare_env(args.work)
    if args.build_snapshot:
        build_snapshot(args.build_snapshot, tmp)
    else:
        serve(args, tmp)
    return 0


if __name__ == "__main__":
    sys.exit(main())
