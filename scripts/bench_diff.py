"""Per-query regression diff between two bench JSON files.

Usage: python scripts/bench_diff.py BENCH_r01.json BENCH_r02.json
Prints a markdown table (query, old, new, ratio) sorted by ratio
descending so regressions surface first; also flags queries present in
only one file.

Host drift: when both files time `q6_forecast_revenue` (a plain scan
plus aggregate, the control query), every ratio is divided by q6's
ratio, the drift factor is printed, and only drift-adjusted ratios
above 1.3 are flagged.  Without the control, raw ratios are flagged.
"""

from __future__ import annotations

import json
import sys

CONTROL = "q6_forecast_revenue"
FLAG_ABOVE = 1.3


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    def load(path: str) -> dict:
        with open(path) as f:
            obj = json.load(f)
        # The driver's BENCH_r{N}.json wraps the bench line in "parsed".
        return obj["parsed"] if "queries" not in obj and "parsed" in obj else obj

    old, new = load(sys.argv[1]), load(sys.argv[2])
    oq, nq = old.get("queries", {}), new.get("queries", {})
    drift = None
    if oq.get(CONTROL) and nq.get(CONTROL):
        drift = nq[CONTROL] / oq[CONTROL]
    rows = []
    for name in sorted(set(oq) | set(nq)):
        a, b = oq.get(name), nq.get(name)
        if a is not None and b is not None:
            ratio = b / a if a else float("inf")
            rows.append((ratio / drift if drift else ratio, ratio, name, a, b))
    rows.sort(reverse=True)
    if drift:
        print(f"drift ({CONTROL} new/old): {drift:.2f}×\n")
        print(f"| query | {sys.argv[1]} | {sys.argv[2]} | ratio | ÷ drift |")
        print("|---|---|---|---|---|")
    else:
        print(f"| query | {sys.argv[1]} | {sys.argv[2]} | ratio |")
        print("|---|---|---|---|")
    for adjusted, ratio, name, a, b in rows:
        flag = " ⚠" if adjusted > FLAG_ABOVE else ""
        cells = f"| {name} | {a:.3f}s | {b:.3f}s | {ratio:.2f}×"
        if drift:
            cells += f" | {adjusted:.2f}×"
        print(f"{cells}{flag} |")
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    if only_old:
        print(f"\nonly in {sys.argv[1]}: {', '.join(only_old)}")
    if only_new:
        print(f"\nonly in {sys.argv[2]}: {', '.join(only_new)}")
    print(
        f"\ntotal: {old.get('value')}s → {new.get('value')}s "
        f"(sf {old.get('sf')} → {new.get('sf')})"
    )


if __name__ == "__main__":
    main()
