"""Benchmark entry point: one named workload, one seed, one process.

    python3 perfbench/run.py --workload curate_corpus --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout (the directory holding
``nyc_data_pipeline_spark/``).  Inputs are generated from ``--seed`` into
a private work directory under ``.perfbench/`` in that root, the engine
runs on ``local[nproc]`` in this process, and every output is checked
outside the timed regions.  The human-readable report goes to stdout;
its last line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "nyc_data_pipeline_spark"
SETUPS = 3  # set-ups per run; setup_s is their median
DRIVER_MEMORY = "4g"  # fixed, so peak RSS does not depend on host RAM
DEADLINE_S = 170  # a run that has not finished by then is killed

END_TO_END = {
    "setup_s": "s", "live_heap_mb": "MB", "cold_pass_s": "s",
    "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
}


class Harness:
    """What every workload shares: the work directory, the seeded
    inputs, the engine set-ups, the tracer, and teardown."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-{os.getpid():08d}"
        self.spark = None
        self.registry = None
        self.gateway_proc = None
        self.setup_times: list[dict] = []
        self.layers: dict[str, float] = {}
        self.checks: list[str] = []  # failed output checks, one line each
        self.errors: list[str] = []  # failed operations, one line each
        self.attempted = 0
        self.sf_dir = str(self.work / "data" / f"sf{args.sf:g}")
        from layers import Tracer

        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.workers = None
        self.control_results: list = []
        self.memory_seen: dict[str, float] = {}

    # -- environment -------------------------------------------------
    def prepare_env(self):
        for d in ("data", "engine", "local", "tmp", "warehouse", "eventlog"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        env = os.environ
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
        )
        env["PYSPARK_PYTHON"] = sys.executable
        env["NYC_ENGINE_SCRATCH"] = str(self.work / "engine")
        env["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        env["TMPDIR"] = str(self.work / "tmp")
        env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        # Both JVMs (spark-submit's launcher and the Spark driver) keep their
        # temp files in the work directory and write no hsperfdata file.
        env["JAVA_TOOL_OPTIONS"] = " ".join(
            [f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}", env.get("JAVA_TOOL_OPTIONS", "")]
        ).strip()
        env.pop("SPARK_GRAFT_SF_DIR", None)
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "100000",
            })
        return conf

    # -- set-up ------------------------------------------------------
    def setup(self):
        """Set the engine up ``SETUPS`` times: load the registry, build
        the session, run the warm-up scan.  The first set-up launches
        the JVM; later ones re-import the package from scratch and
        rebuild the session in that JVM."""
        lineitem = os.path.join(self.sf_dir, "lineitem.parquet")
        for i in range(SETUPS):
            if i:
                self.spark.stop()
                for mod in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
                    del sys.modules[mod]
            rec = {}
            t0 = time.perf_counter()
            with self.tracer.span("setup", index=i):
                with self.tracer.span("registry.load_all") as s:
                    from nyc_data_pipeline_spark import registry

                    registry.load_all()
                rec["registry.load_all_s"] = _dur(s)
                with self.tracer.span("session.get_spark") as s:
                    from nyc_data_pipeline_spark.session import get_spark

                    spark = get_spark(cpus=nproc(), extra_conf=self.spark_conf())
                rec["session.get_spark_s"] = _dur(s)
                with self.tracer.span("session.warmup") as s:
                    from pyspark.sql import functions as F

                    spark.read.parquet(lineitem).agg(
                        F.count("*"), F.sum("l_quantity")
                    ).collect()
                rec["session.warmup_s"] = _dur(s)
            rec["setup_s"] = time.perf_counter() - t0
            self.setup_times.append(rec)
            self.spark, self.registry = spark, registry
        from pyspark import SparkContext

        self.gateway_proc = SparkContext._gateway.proc
        if self.traced:
            from layers import WorkerCounter

            self.workers = WorkerCounter(self.gateway_proc.pid).start()

    def setup_metrics(self) -> dict[str, float]:
        """The median set-up and its parts."""
        ranked = sorted(self.setup_times, key=lambda r: r["setup_s"])
        return ranked[len(ranked) // 2]

    # -- shared helpers ----------------------------------------------
    def control_q6(self, label: str):
        """Traced runs time the scan+aggregate ``q6_forecast_revenue`` at
        the start, middle and end as a host-drift indicator."""
        if not self.traced:
            return
        with self.tracer.span("host.control_q6", at=label):
            pdf = self.registry.QUERIES["q6_forecast_revenue"](self.spark, self.sf_dir).toPandas()
        self.control_results.append(pdf)

    def fail(self, what: str, exc: BaseException):
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}")

    def memory(self) -> dict[str, float]:
        """``peak_rss_mb``: VmHWM of this process plus the driver JVM.
        ``live_heap_mb``: JVM heap still in use after a full collection —
        what the engine retains, without the heap-sizing noise that moves
        the JVM's peak RSS by a quarter from run to run.  The collection
        runs twice: the first lets Spark's ContextCleaner drop the
        broadcast and shuffle blocks of unreachable plans, the second
        frees them."""
        from layers import peak_rss_mb

        rss = peak_rss_mb(os.getpid(), self.gateway_proc.pid)
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        self.memory_seen = {"peak_rss_mb": rss,
                            "live_heap_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20}
        return self.memory_seen

    # -- teardown ----------------------------------------------------
    def teardown(self):
        """Stop the session and the JVM, wait for the JVM and the Python
        workers it forked, and remove the work directory."""
        from layers import process_parents

        if self.workers is not None:
            self.workers.stop()
        proc = self.gateway_proc
        children = []
        if proc is not None:
            parents = process_parents()
            daemons = {p for p, pp in parents.items() if pp == proc.pid}
            children = list(daemons) + [p for p, pp in parents.items() if pp in daemons]
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # keep tearing down; report it
                print(f"spark.stop failed: {e!r}", file=sys.stderr)
        if proc is not None:
            from pyspark import SparkContext

            try:
                SparkContext._gateway.shutdown()
            except Exception as e:
                print(f"gateway shutdown failed: {e!r}", file=sys.stderr)
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 15
        for pid in children:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, 9)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()
        except OSError:
            pass


def _abort(h: Harness):
    """Past the deadline: kill the JVM and its Python workers, remove the
    work directory, and exit non-zero without printing a result."""
    from layers import process_parents

    print(f"run exceeded {DEADLINE_S} s; aborting", file=sys.stderr)
    if h.gateway_proc is not None:
        parents = process_parents()
        doomed = {h.gateway_proc.pid}
        while True:
            more = {p for p, pp in parents.items() if pp in doomed} - doomed
            if not more:
                break
            doomed |= more
        for pid in doomed:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    shutil.rmtree(h.work, ignore_errors=True)
    try:
        h.work.parent.rmdir()
    except OSError:
        pass
    os._exit(3)


def _on_sigterm(*_):
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def report(h: Harness, workload: str, res: dict, layer_units: dict[str, str]) -> dict:
    """Print the human-readable report and return the result object."""
    failed = len(h.errors) + len(h.checks)
    correct = not h.checks and not h.errors
    print(f"workload {workload}  seed {h.seed}  seconds {h.seconds}  "
          f"sf {h.args.sf:g}  cores {nproc()}  traced {int(h.traced)}")
    print(f"correct {correct}  attempted {h.attempted}  failed {failed}  "
          f"error_rate {failed / max(1, h.attempted):.4f}")
    for line in h.errors + h.checks:
        print(f"  FAIL {line}")
    print("end-to-end:")
    for name, (value, unit, note) in res["named"].items():
        print(f"  {name:<24} {value:>14.6g} {unit:<6} {note}")
    if h.traced:
        print("per-layer:")
        for name in sorted(h.layers):
            print(f"  {name:<34} {h.layers[name]:>16.6g}")
        print("span self time (count, total s, self s):")
        for name, (n, tot, own) in sorted(h.tracer.self_times().items(), key=lambda kv: -kv[1][2]):
            print(f"  {name:<34} {n:>6} {tot:>10.3f} {own:>10.3f}")
    metrics = (
        {k: {"value": float(h.layers[k]), "unit": layer_units[k]} for k in sorted(h.layers)}
        if h.traced
        else {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in END_TO_END.items()}
    )
    return {"correct": correct, "attempted": max(1, h.attempted), "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the generated tables")
    ap.add_argument("--trace-out", help="where a traced run writes its spans and counters "
                    "(default .perfbench-out/trace-<workload>-s<seed>.json)")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE}/ not found next to perfbench/ (in {ROOT})", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    h = Harness(args)
    h.prepare_env()
    # SIGTERM unwinds through the teardown below instead of leaving the
    # work directory behind; a second one must not cut that teardown short.
    signal.signal(signal.SIGTERM, _on_sigterm)
    watchdog = threading.Timer(DEADLINE_S, _abort, args=(h,))
    watchdog.daemon = True
    watchdog.start()
    try:
        res = workloads.WORKLOADS[args.workload](h)
    finally:
        t_done = time.perf_counter()
        h.teardown()
        watchdog.cancel()
    out = report(h, args.workload, res, workloads.LAYER_UNITS)
    setups = h.tracer.closed("setup")
    if setups:
        t_setup, t_run = setups[0]["start"], setups[-1]["end"]
        print(f"run wall: inputs {t_setup - t_start:.1f} s, set-ups {t_run - t_setup:.1f} s, "
              f"workload and checks {t_done - t_run:.1f} s, teardown "
              f"{time.perf_counter() - t_done:.1f} s")
    if h.traced:
        path = Path(args.trace_out or ROOT / ".perfbench-out" / f"trace-{args.workload}-s{args.seed}.json")
        path.parent.mkdir(parents=True, exist_ok=True)
        print(f"trace written to {path}")
        with open(path, "w") as f:
            json.dump({"spans": h.tracer.spans, "layers": h.layers,
                       "e2e": res["e2e"], "result": out}, f, indent=1, default=str)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
