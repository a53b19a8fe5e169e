"""Determinism check of the benchmark itself.

Runs every workload twice, small (one round or pass per window) and traced,
with the same seed, and asserts that the load-independent counters repeat
exactly: per-operation and per-query Spark jobs, stages, tasks and shuffle
records written, major-compaction jobs, minor-compaction runs, space and
write amplification. It also asserts that the same seed gives the same
generated requests and that another seed gives different ones.

    python3 perfbench/check_determinism.py [--seed N]

Run it from the repository root; exits non-zero on the first difference.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
EXACT = re.compile(
    r"^(spark\.\w+\.(jobs|stages|tasks|shuffle_write_records)"
    r"|queries\.\w+\.(jobs|stages|tasks|shuffle_write_records)"
    r"|maintenance\.(minor\.runs|compact\.jobs)"
    r"|cellstore\.(space_amp|write_amp))$"
)


def run(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["detail"], json.loads(out[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    seed = ap.parse_args().seed
    bad = 0
    for workload in ("kv_compacted", "kv_churn", "analytics"):
        (d1, r1), (d2, r2) = run(workload, seed), run(workload, seed)
        for res in (r1, r2):
            if not res["correct"]:
                print(f"{workload}: wrong results in a check run")
                bad += 1
        if d1["inputs_digest"] != d2["inputs_digest"]:
            print(f"{workload}: same seed, different inputs")
            bad += 1
        counters = sorted(k for k in r1["metrics"] if EXACT.match(k))
        for k in counters:
            a, b = r1["metrics"][k]["value"], r2["metrics"][k]["value"]
            if a != b:
                print(f"{workload}: {k} differs: {a} != {b}")
                bad += 1
        print(f"{workload}: {len(counters)} counters compared", flush=True)
        if workload != "analytics":
            d3, _ = run(workload, seed + 1)
            if d3["inputs_digest"] == d1["inputs_digest"]:
                print(f"{workload}: seeds {seed} and {seed + 1} give the same inputs")
                bad += 1
    print("deterministic" if bad == 0 else f"{bad} differences")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
