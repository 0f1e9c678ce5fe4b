"""Smoke test of the benchmark itself: tiny seeded inputs, both
workloads, the untraced and the traced path, and every output check
(all curation queries, not the timed runs' seeded subset).

    python3 perfbench/smoke.py

Runs in one process, so the JVM starts once. Exits non-zero on the first
run that fails or prints a malformed result line.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

import run

CASES = (("publish", 0), ("publish", 1), ("curate", 1))


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload, trace in CASES:
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace), "--size", "smoke"])
        lines = out.getvalue().strip().splitlines()
        result = json.loads(lines[-1])
        # the metrics and units must be exactly the ones BENCHMARK.json names
        want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        ok = rc == 0 and result["correct"] and result["failed"] == 0 and got == want
        print(f"{workload} trace={trace}: rc={rc} correct={result['correct']} "
              f"attempted={result['attempted']} metrics={len(result['metrics'])}")
        if not ok:
            print("\n".join(lines[-15:]))
            return 1
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
