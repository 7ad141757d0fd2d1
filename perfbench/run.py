"""Benchmark entry point.

    python3 perfbench/run.py --workload zq_interactive --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. Workloads:

  zq_interactive   one client, zed-language queries through ZedSession.query
  service_mixed    a QueryService process over a lake; two readers post
                   /query, one writer posts ZSON batches

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are
the end-to-end metrics of BENCHMARK.json; with `--trace 1` they are the
per-layer metrics, from spans recorded around the engine's layer entry
points. The lines before it are diagnostics (host noise, tail latency,
failure causes). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("zq_interactive", "service_mixed")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = _args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    import common

    if not os.path.isdir(os.path.join(ROOT, "zed_spark")):
        common.log(f"error: the engine package zed_spark is not under {ROOT}")
        return 2
    spec = _spec()
    runs = os.path.join(ROOT, ".perfbench_runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = common.prepare_env(work)
    try:
        import data

        table_dir = data.ensure_tables(os.path.join(ROOT, ".perfbench_data"))
        calib = common.calibration_s()
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer()
        if args.workload == "zq_interactive":
            import wl_zq as wl
        else:
            import wl_service as wl
        res = wl.run(args, work, tmp, table_dir, tracer)
        res["calib_s"] = calib
        import report

        units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
        if args.trace:
            metrics = report.per_layer(res, tracer, units)
            report.write_trace(runs, args, tracer, res, metrics)
        else:
            metrics = report.end_to_end(res, units)
        failed = len(res["failures"])
        print("# info " + json.dumps(report.info(args, res), separators=(",", ":")))
        for f in res["failures"]:
            common.log("FAILED:", f)
        line = common.result_line(failed == 0, res["attempted"], failed,
                                  {n: metrics[n] for n in units})
        if res.get("spark") is not None:
            common.stop_engine(res["spark"])
        print(line, flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
