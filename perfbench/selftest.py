"""Failure-accounting self-test of the benchmark.

Points catalog_refresh at a delta dump that does not exist, so every
refresh call throws, and checks that the run reports it: `correct` is
false, the failures are counted in `failed` and in the `failed_frac`
per-layer metric, and no latency sample was taken from a failed call.

    python3 perfbench/selftest.py
"""
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def main():
    p = subprocess.run(
        [sys.executable, str(RUN), "--workload", "catalog_refresh",
         "--seed", "1", "--seconds", "1", "--trace", "1", "--break-input"],
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"selftest: run failed to complete:\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.splitlines()[-1])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    problems = []
    if res["correct"]:
        problems.append("correct is true")
    if res["failed"] < 1 or res["failed"] > res["attempted"]:
        problems.append(f"failed {res['failed']} of {res['attempted']}")
    if m["failed_frac"] != res["failed"] / res["attempted"]:
        problems.append(f"failed_frac {m['failed_frac']}")
    if m["write_s_p50"] != 0:
        problems.append("a failed refresh left a latency sample")
    if problems:
        sys.exit("selftest: FAIL: " + "; ".join(problems))
    print(f"selftest: ok ({res['failed']} of {res['attempted']} operations "
          f"failed, failed_frac {m['failed_frac']:.3f})")


if __name__ == "__main__":
    main()
