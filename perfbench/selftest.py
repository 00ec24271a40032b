"""Fast self-test of the benchmark on tiny inputs (sf 0.001).

Runs every workload once with deliberately corrupted results. A run
passes when it exits 0, prints the metric set its mode promises, and
reports exactly the corrupted operations as failed -- so the checks both
accept every correct output and catch a wrong one.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
#: workload -> (operations whose first result is corrupted, trace flag)
CASES = {
    "reads": (["q_tpch_q5", "timetravel"], 0),
    # traced: also covers the optimize, view and stream operations
    "lake_upsert": (["merge", "mview_refresh"], 1),
}


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    bad = 0
    for workload, (ops, trace) in CASES.items():
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
             "--seconds", "0", "--trace", str(trace), "--sf", "0.001", "--corrupt", ",".join(ops)],
            capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        problems = []
        if proc.returncode != 0 or len(lines) < 2:
            problems.append(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
        else:
            result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
            if set(result["metrics"]) != names[trace]:
                problems.append(f"metrics {sorted(set(result['metrics']) ^ names[trace])} differ from BENCHMARK.json")
            failed = sorted(f.split(":")[0] for f in report["failures"])
            if result["failed"] != len(ops) or failed != sorted(ops):
                problems.append(f"want exactly {ops} to fail, got {report['failures']}")
            if not trace and not result["metrics"]["ops_ok_ratio"]["value"] < 1:
                problems.append("the corrupted result did not lower ops_ok_ratio")
        print(f"{workload}: {'FAIL ' + '; '.join(problems) if problems else 'ok'}", flush=True)
        bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
