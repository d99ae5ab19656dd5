"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: every workload in BENCHMARK.json) it makes
three short runs at sf0.001 with the same seed: one untraced and two
traced.  It checks that each run is correct, that the untraced run
prints every end-to-end metric and the traced runs every per-layer
metric, each with its unit, and that the two traced runs agree exactly
on the counts that depend only on the seed.  Exits non-zero on any
failure.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED = 7

# Counts fixed by the seed alone: equal on two runs with the same seed.
DETERMINISTIC = {
    "cdc_commit": ["mor_cdc.write_bytes_per_change", "mor_cdc.data_files_at_head",
                   "mor_cdc.dv_files_at_head", "mor_cdc.manifest_bytes",
                   "mor_cdc.vacuum_files_reclaimed", "e2e:write_bytes_per_change"],
    "stream_ingest": ["e2e:rows_ingested"],
    "curate_corpus": [],
    "curate_udf": [],
    "dash_read": [],
}


# The workload-specific names the human-readable report prints.
_COMMON = {"setup_s": "s", "peak_rss_mb": "MB", "live_heap_mb": "MB", "cold_pass_s": "s"}
_QUERIES = {**_COMMON, "queries_per_s": "1/s", "query_p50_s": "s", "query_tail_s": "s"}
REPORTED = {
    "curate_corpus": _QUERIES,
    "curate_udf": _QUERIES,
    "dash_read": _QUERIES,
    "cdc_commit": {**_COMMON, "commit_p50_s": "s", "commit_tail_s": "s", "head_read_p50_s": "s",
                   "feed_p50_s": "s", "epochs_per_s": "1/s", "write_bytes_per_change": "count"},
    "stream_ingest": {**_COMMON, "ingest_lag_p50_s": "s", "ingest_lag_tail_s": "s",
                      "ingest_rows_per_s": "1/s"},
}


def run(workload: str, trace: int, out: Path) -> tuple[dict, str, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", "--trace-out", str(out)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    trace_doc = json.loads(out.read_text()) if trace else {}
    return last, p.stdout, trace_doc


def check(workload: str, spec: dict, tmp: Path) -> list[str]:
    sys.path.insert(0, str(HERE))
    import workloads

    problems = []
    plain, text, _ = run(workload, 0, tmp / "plain.json")
    a, _, ta = run(workload, 1, tmp / "a.json")
    b, _, tb = run(workload, 1, tmp / "b.json")
    for name, res in (("untraced", plain), ("traced #1", a), ("traced #2", b)):
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"{name}: keys {sorted(res)}")
        if not res.get("correct") or res.get("failed"):
            problems.append(f"{name}: correct={res.get('correct')} failed={res.get('failed')}")
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for res, want, what in ((plain, want_e2e, "end-to-end"), (a, want_layer, "per-layer")):
        got = {k: v.get("unit") for k, v in res["metrics"].items()}
        if got != want:
            missing = sorted(set(want) - set(got))
            extra = sorted(set(got) - set(want))
            wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
            problems.append(f"{what} metrics: missing {missing} extra {extra} wrong unit {wrong}")
    if set(want_layer) != set(workloads.LAYER_UNITS):
        problems.append("BENCHMARK.json per_layer differs from workloads.LAYER_UNITS")
    report = {line.split()[0]: line.split()[2] for line in text.splitlines()
              if line.startswith("  ") and len(line.split()) >= 3}
    for name, unit in REPORTED[workload].items():
        if report.get(name) != unit:
            problems.append(f"report: {name} printed with unit {report.get(name)!r}, want {unit!r}")
    for key in DETERMINISTIC[workload]:
        if key.startswith("e2e:"):
            va, vb = ta["e2e"][key[4:]], tb["e2e"][key[4:]]
        else:
            va, vb = ta["layers"][key], tb["layers"][key]
        if va != vb:
            problems.append(f"same seed, different {key}: {va} != {vb}")
    return problems


def main(argv: list[str]) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = argv or [w["name"] for w in spec["workloads"]]
    failed = False
    for w in names:
        out = ROOT / ".perfbench-out"
        out.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=out) as d:
            problems = check(w, spec, Path(d))
        print(f"{w}: {'ok' if not problems else 'FAIL'}")
        for p in problems:
            print(f"  {p}")
        failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
