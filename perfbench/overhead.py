"""Tracing overhead: traced minus untraced end-to-end, same seed.

    python3 perfbench/overhead.py --workload cdc_commit --seed 1 --seconds 6

Runs the workload once with ``--trace 0`` and once with ``--trace 1``
(the traced run records its end-to-end values in its trace file) and
prints, per end-to-end metric, both values and their difference.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    base = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds)]
    trace_file = ROOT / ".perfbench-out" / f"overhead-{args.workload}-s{args.seed}.json"
    plain = subprocess.run(base + ["--trace", "0"], cwd=ROOT, capture_output=True, text=True)
    traced = subprocess.run(base + ["--trace", "1", "--trace-out", str(trace_file)],
                            cwd=ROOT, capture_output=True, text=True)
    if plain.returncode or traced.returncode:
        print(plain.stderr[-2000:] + traced.stderr[-2000:], file=sys.stderr)
        return 1
    untraced = json.loads(plain.stdout.strip().splitlines()[-1])["metrics"]
    with_trace = json.loads(trace_file.read_text())["e2e"]
    print(f"tracing overhead, {args.workload} seed {args.seed} ({args.seconds:g} s runs)")
    print(f"  {'metric':<14} {'untraced':>12} {'traced':>12} {'traced-untraced':>16}")
    for name, m in untraced.items():
        t = with_trace[name]
        print(f"  {name:<14} {m['value']:>12.6g} {t:>12.6g} {t - m['value']:>+16.6g} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
