"""Check that the program's counts repeat, and measure tracing overhead.

    python3 perfbench/repeat.py --workload batch_pipeline --seed 1

Runs ``run.py --trace 1`` twice and ``run.py --trace 0`` once on the
same seed, then prints every per-operation count (Spark jobs, stages,
shuffle exchanges, rows written) and run count (session-cache builds)
that differs between the two traced runs, and the tracing overhead:
traced ``trace.pass_s`` minus untraced ``pass_s``. Run from the root of
a checkout; nothing else may run on the machine meanwhile.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict | None, float]:
    """(JSON result, per-operation counts or None, pass_s from the report)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    counts, pass_s = None, float("nan")
    for line in out:
        if line.startswith("counts: "):
            with open(line.split(": ", 1)[1]) as f:
                counts = json.load(f)
        elif line.split()[:1] == ["pass_s"]:
            pass_s = float(line.split()[1])
    return json.loads(out[-1]), counts, pass_s


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    first, c1, _ = _run(args.workload, args.seed, args.seconds, 1)
    second, c2, _ = _run(args.workload, args.seed, args.seconds, 1)
    _, _, untraced = _run(args.workload, args.seed, args.seconds, 0)
    diffs = [
        f"{op}.{k}: {v} then {c2.get(op, {}).get(k)}"
        for op, counts in sorted(c1.items())
        for k, v in sorted(counts.items())
        if c2.get(op, {}).get(k) != v
    ]
    traced = [r["metrics"]["trace.pass_s"]["value"] for r in (first, second)]
    print(f"workload {args.workload} seed {args.seed}: {len(c1) - 1} operations compared")
    print("counts that did not repeat:" if diffs else "every count repeated exactly")
    for d in diffs:
        print(f"  {d}")
    print(f"traced pass_s {traced[0]:.3f} / {traced[1]:.3f} s, untraced pass_s {untraced:.3f} s, "
          f"overhead {min(traced) - untraced:+.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
