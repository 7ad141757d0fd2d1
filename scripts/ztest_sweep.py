"""Sweep reference ztest directories through the tests/test_ztests.py
harness and bucket each case not yet in its case list: PASS, MISMATCH
or ERROR. A triage tool, not a test.

Usage: python scripts/ztest_sweep.py ZTEST_DIR [...]
"""

from __future__ import annotations

import glob
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def main(dirs: list[str]) -> None:
    import test_ztests as H

    from zed_spark.session import build_spark

    spark = build_spark(
        master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    already = {
        c if c.startswith("/") else os.path.join(H.ZTESTS, c) for c in H.CASES
    }
    results = {"PASS": [], "MISMATCH": [], "ERROR": []}
    for d in dirs:
        for path in sorted(glob.glob(os.path.join(d, "*.yaml"))):
            if path in already:
                continue
            try:
                H._run_case(spark, path)
                results["PASS"].append(path)
                print(f"PASS {path}", flush=True)
            except AssertionError as e:
                results["MISMATCH"].append(path)
                first = str(e).split("\n")[0][:160]
                print(f"MISMATCH {path} :: {first}", flush=True)
            except Exception as e:
                results["ERROR"].append(path)
                print(f"ERROR {path} :: {type(e).__name__}: {str(e)[:160]}", flush=True)

    print("\n=== SUMMARY ===")
    for k, v in results.items():
        print(f"{k}: {len(v)}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
