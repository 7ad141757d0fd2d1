"""Triage runner: run reference ztest yamls through the pytest
harness outside pytest, one line per case, so new directories can be
swept quickly before being added to tests/test_ztests.py.

Usage: python scripts/ztest_triage.py DIR_OR_YAML [...]
"""
import glob
import importlib.util
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

spec = importlib.util.spec_from_file_location(
    "tz", os.path.join(os.path.dirname(__file__), "..", "tests", "test_ztests.py")
)
tz = importlib.util.module_from_spec(spec)
spec.loader.exec_module(tz)

from zed_spark.session import build_spark  # noqa: E402


def main():
    paths = []
    for arg in sys.argv[1:]:
        if os.path.isdir(arg):
            paths.extend(sorted(glob.glob(os.path.join(arg, "*.yaml"))))
        else:
            paths.append(arg)
    spark = build_spark(app_name="ztest_triage")
    results = {"pass": [], "fail": [], "err": []}
    for p in paths:
        name = "/".join(p.split("/")[-3:])
        try:
            tz._run_case(spark, p)
            results["pass"].append(p)
            print(f"PASS {name}", flush=True)
        except AssertionError as e:
            results["fail"].append(p)
            msg = str(e).replace("\n", " ")[:240]
            print(f"FAIL {name}: {msg}", flush=True)
        except Exception as e:
            results["err"].append(p)
            msg = f"{type(e).__name__}: {e}".replace("\n", " ")[:240]
            print(f"ERR  {name}: {msg}", flush=True)
            if os.environ.get("ZTRIAGE_TB"):
                traceback.print_exc()
        except BaseException as e:
            # pytest.skip raises a BaseException subclass
            if type(e).__name__ in ("Skipped", "Skip"):
                print(f"SKIP {name}: {e}", flush=True)
            else:
                raise
    print(
        f"\n== {len(results['pass'])} pass, {len(results['fail'])} fail, "
        f"{len(results['err'])} err / {len(paths)} total"
    )


if __name__ == "__main__":
    main()
