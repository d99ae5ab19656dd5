"""The benchmark's workloads.

Each workload takes the harness from ``run.py``, generates its inputs
from the seed, sets the engine up, drives it only through public
functions, checks every output outside the timed regions, and returns
its end-to-end metrics.  In a traced run it also fills ``h.layers``.

- ``curate_corpus``: closed loop, one client, the LLM-curation query mix.
- ``curate_udf``: ``curate_corpus`` cut down to its scalar pandas-UDF query.
- ``dash_read``: closed loop, one client, the dashboard/TPC-H read mix.
- ``cdc_commit``: closed loop, one writer, merge-on-read CDC epochs.
- ``stream_ingest``: open loop, a file generator feeding a streaming query.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq

import inputs
from layers import EventLog, codegen_counters, percentile, plan_phases_ms, tail

MIXES = {
    "curate_corpus": [
        "pipeline_corpus_clean", "dedup_minhash_keep_one", "dedup_exact_hash",
        "sim_topk_pandas_udf", "sim_topk_ivf", "grouped_ols_per_user",
        "text_quality_score", "text_decontaminate",
    ],
    # The benchmarked slice of curate_corpus: its scalar pandas-UDF query,
    # the one that crosses the Arrow boundary at a run cost the benchmark
    # can afford (grouped_ols_per_user takes 4 s a run, warm).
    "curate_udf": ["sim_topk_pandas_udf"],
    "dash_read": [
        "agg_ungrouped_kpis", "ref_hourly_statistics", "ref_trip_enrichment",
        "ref_pipeline_e2e", "q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier_volume", "q6_forecast_revenue",
        "q18_large_volume_orders", "window_topn_per_group", "sessionize_events",
    ],
}
# Query runs per mix after the cold pass (whole passes, at least this
# many), whatever ``--seconds`` says: a fixed amount of work keeps the
# sample count, and the state the JVM retains, the same from run to run.
# Warm latencies keep falling for the first six or so runs while the JIT
# compiles the hot paths, so those runs are untimed: a median over them
# moves with how fast the JIT gets there.
QUERY_WARMUP_RUNS = 6
QUERY_WARM_RUNS = 10
# A run makes a fixed number of epochs, whatever ``--seconds`` says, then
# one compaction + vacuum: an epoch costs about 5 s on 4 cores, so four
# epochs and one compaction are what a run can afford.  The first epoch
# is untimed: it costs half as much again as the others (first commit
# 1.4-1.6 s, later ones 0.65-0.9 s), and as a timed sample it would set
# the tail.
CDC_WARMUP_EPOCHS = 1
CDC_EPOCHS = 3
STREAM_INTERVAL_S = 0.1  # one trip file due every interval ...
STREAM_ROWS_PER_FILE = 250  # ... so 2,500 rows/s offered, about half of saturation
# Batch times keep falling for the first ~20 s of the open loop while the
# JIT warms up; lags are measured only on files due after this long.  The
# median lag of files due at 5-15 s spread 0.15 (IQR/median) over five
# seeds, that of files due at 15-25 s 0.06.
STREAM_WARMUP_S = 12.0

# Every per-layer metric, with its unit; a traced run prints all of them
# (zero where the workload does not reach the layer).
LAYER_UNITS = {
    "session.get_spark_s": "s", "session.warmup_s": "s", "registry.load_all_s": "s",
    "session.first_setup_s": "s",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.codegen_compiles": "count", "plans.codegen_s": "s",
    "sources.files_read": "count", "sources.bytes_read": "bytes", "sources.scan_s": "s",
    "operators.jobs": "count", "operators.tasks": "count", "operators.driver_gap_s": "s",
    "operators.task_run_s": "s", "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes", "operators.spill_bytes": "bytes",
    "operators.gc_s": "s",
    "arrow_udf.bytes_to_python": "bytes", "arrow_udf.bytes_from_python": "bytes",
    "arrow_udf.eval_s": "s", "arrow_udf.worker_starts": "count",
    "mor_cdc.commit_s": "s", "mor_cdc.read_build_s": "s", "mor_cdc.read_collect_s": "s",
    "mor_cdc.feed_build_s": "s", "mor_cdc.feed_collect_s": "s", "mor_cdc.compact_s": "s",
    "mor_cdc.vacuum_s": "s", "mor_cdc.jobs_per_commit": "count",
    "mor_cdc.jobs_per_feed": "count", "mor_cdc.driver_gap_s": "s",
    "mor_cdc.manifest_bytes": "bytes", "mor_cdc.dv_files_at_head": "count",
    "mor_cdc.data_files_at_head": "count", "mor_cdc.files_scanned_per_read": "count",
    "mor_cdc.vacuum_files_reclaimed": "count", "mor_cdc.write_bytes_per_change": "bytes",
    "ingest.batches": "count", "ingest.rows_per_batch": "count", "ingest.trigger_s": "s",
    "ingest.latest_offset_s": "s", "ingest.wal_commit_s": "s", "ingest.planning_s": "s",
    "ingest.backlog_files_max": "count", "sinks.add_batch_s": "s",
    "rollup.sink_call_s": "s", "gen.late_max_s": "s",
    "host.control_q6_s": "s", "host.peak_rss_mb": "MB",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _window(s: dict) -> tuple[float, float]:
    return s["wall"], s["wall"] + _dur(s)


def _named(e2e: dict, names: dict) -> dict:
    """Pair the run's end-to-end values with their workload-specific
    names for the human-readable report."""
    return {label: (e2e[key], unit, note) for label, (key, unit, note) in names.items()}


def _start_layers(h) -> None:
    """Zero every per-layer metric, then fill the set-up ones."""
    h.layers.update({k: 0.0 for k in LAYER_UNITS})
    su = h.setup_metrics()
    for k in ("session.get_spark_s", "session.warmup_s", "registry.load_all_s"):
        h.layers[k] = su[k]
    h.layers["session.first_setup_s"] = h.setup_times[0]["setup_s"]


def _finish_layers(h, log: EventLog, windows: list[tuple[float, float]], n_ops: int) -> None:
    """Per-operation means of the event-log counters over ``windows``."""
    h.layers["host.control_q6_s"] = _median(h.tracer.durations("host.control_q6"))
    h.layers["host.peak_rss_mb"] = h.memory_seen["peak_rss_mb"]
    if h.workers is not None:
        h.layers["arrow_udf.worker_starts"] = h.workers.stop()
    tot: dict[str, float] = {}
    for lo, hi in windows:
        for k, v in log.window(lo, hi).items():
            tot[k] = tot.get(k, 0.0) + v
    n = max(1, n_ops)
    for k in ("jobs", "tasks", "driver_gap_s", "task_run_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "gc_s"):
        h.layers[f"operators.{k}"] = tot.get(k, 0.0) / n
    h.layers["sources.files_read"] = tot.get("files_read", 0.0) / n
    h.layers["sources.bytes_read"] = tot.get("bytes_read", 0.0) / n
    h.layers["sources.scan_s"] = tot.get("scan_ms", 0.0) / 1000.0 / n
    h.layers["arrow_udf.bytes_to_python"] = tot.get("py_sent", 0.0) / n
    h.layers["arrow_udf.bytes_from_python"] = tot.get("py_recv", 0.0) / n
    h.layers["arrow_udf.eval_s"] = tot.get("py_run", 0.0) / 1000.0 / n


def _codegen(h):
    return codegen_counters(h.spark) if h.traced else (0, 0.0)


def _event_log(h) -> EventLog:
    return EventLog(str(h.work / "eventlog"))


# ---------------------------------------------------------------------------
# Query mixes: curate_corpus and dash_read.
# ---------------------------------------------------------------------------

def query_mix(h, mix: list[str]) -> dict:
    inputs.write_warehouse(h.sf_dir, h.args.sf, h.seed)
    h.setup()
    spark, queries, tr = h.spark, h.registry.QUERIES, h.tracer
    results: list[tuple[str, object]] = []
    phases: list[dict] = []

    def order(pass_no: int) -> list[str]:
        return list(np.random.default_rng([h.seed, 300, pass_no]).permutation(mix))

    def run_query(name: str, phase: str):
        h.attempted += 1
        try:
            with tr.span("query", q=name, phase=phase) as s:
                with tr.span("query.build"):
                    df = queries[name](spark, h.sf_dir)
                with tr.span("query.collect"):
                    pdf = df.toPandas()
        except Exception as e:  # count it and go on with the mix
            h.fail(f"{name} ({phase})", e)
            return None
        results.append((name, pdf))
        if h.traced and phase == "cold":
            phases.append(plan_phases_ms(df))
        return s

    h.control_q6("start")
    cg0 = _codegen(h)
    with tr.span("pass.cold") as cold:
        # The cold pass runs the mix in its listed order: which query
        # runs first decides who pays the shared compile and worker
        # start-up, so a seeded cold order would swing cold_pass_s by
        # the order alone.
        for name in mix:
            run_query(name, "cold")
    cg1 = _codegen(h)
    h.control_q6("middle")
    with tr.span("pass.warmup"):
        for _ in range(-(-QUERY_WARMUP_RUNS // len(mix))):
            for name in mix:
                run_query(name, "warm-up")
    warm: list[dict] = []
    for pass_no in range(1, -(-QUERY_WARM_RUNS // len(mix)) + 1):
        with tr.span("pass.warm"):
            for name in order(pass_no):
                s = run_query(name, "warm")
                if s is not None:
                    warm.append(s)
    h.control_q6("end")
    mem = h.memory()

    _check_queries(h, results + [("q6_forecast_revenue", p) for p in h.control_results])

    lat = [_dur(s) for s in warm] or [float("nan")]
    tail_v, tail_note = tail(lat)
    e2e = {
        "setup_s": h.setup_metrics()["setup_s"],
        **mem,
        "cold_pass_s": _dur(cold),
        "ops_per_s": len(warm) / sum(lat) if warm else 0.0,
        "op_p50_s": percentile(lat, 50),
        "op_tail_s": tail_v,
    }
    if h.traced:
        _start_layers(h)
        for k in ("analysis", "optimization", "planning"):
            h.layers[f"plans.{k}_ms"] = sum(p[k] for p in phases)
        h.layers["plans.codegen_compiles"] = cg1[0] - cg0[0]
        h.layers["plans.codegen_s"] = cg1[1] - cg0[1]
        _finish_layers(h, _event_log(h), [_window(s) for s in warm], len(warm))
    n_warm = f"n={len(warm)} warm queries"
    return {"e2e": e2e, "named": _named(e2e, {
        "setup_s": ("setup_s", "s", f"median of {len(h.setup_times)} set-ups"),
        "peak_rss_mb": ("peak_rss_mb", "MB", "driver JVM + Python VmHWM"),
        "live_heap_mb": ("live_heap_mb", "MB", "JVM heap in use after a full GC"),
        "cold_pass_s": ("cold_pass_s", "s", f"first pass over the mix, n={len(mix)} queries"),
        "queries_per_s": ("ops_per_s", "1/s", n_warm),
        "query_p50_s": ("op_p50_s", "s", n_warm),
        "query_tail_s": ("op_tail_s", "s", tail_note),
    })}


def _check_queries(h, results) -> None:
    """Every collected result against its DuckDB oracle (the two halves
    of ``testing.check_query``, so no query has to run twice)."""
    from nyc_data_pipeline_spark.testing import compare_frames, run_oracle

    oracle = h.registry.ORACLE
    expected: dict[str, object] = {}
    for name, pdf in results:
        if name in oracle:
            if name not in expected:
                expected[name] = run_oracle(oracle[name], h.sf_dir)
            errs = compare_frames(pdf, expected[name])
        elif len(pdf.columns) == 0 or len(pdf) == 0:
            errs = ["no-oracle query returned nothing"]
        else:
            errs = []
        if errs:
            h.checks.append(f"{name}: {errs[0]}")


# ---------------------------------------------------------------------------
# cdc_commit
# ---------------------------------------------------------------------------

def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def cdc_commit(h) -> dict:
    inputs.write_warehouse(h.sf_dir, h.args.sf, h.seed)
    orders_path = os.path.join(h.sf_dir, "orders.parquet")
    fold = inputs.CdcFold(pq.read_table(orders_path), h.seed)
    h.setup()
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.streaming import mor_cdc as M

    spark, tr = h.spark, h.tracer
    table = str(h.work / "cdc" / "table")
    epochs_dir = h.work / "cdc" / "epochs"
    epochs_dir.mkdir(parents=True)
    state = {"version": 1, "epoch": 0, "written": 0, "changes": 0}
    checks: list[tuple] = []
    reclaimed: list[int] = []
    phases: list[dict] = []

    def op(name: str, fn):
        """One timed engine call; a failure stops the workload, because
        the table state after it is unknown."""
        h.attempted += 1
        try:
            with tr.span(name):
                return fn()
        except Exception as e:
            h.fail(f"{name} (v{state['version']})", e)
            raise _Stop from e

    def epoch():
        e, v = state["epoch"], state["version"] + 1
        batch, expected = fold.next_epoch(e, v)
        path = str(epochs_dir / f"e{e}.parquet")
        pq.write_table(inputs.cdc_batch_table(batch), path)
        before = _files(table)
        with tr.span("epoch", epoch=e) as es:
            op("mor_cdc.commit", lambda: M.mor_cdc_commit(
                spark, spark.read.parquet(path), table, v))
            state["version"] = v
            head = op("mor_cdc.read_build", lambda: M.mor_cdc_read(spark, table, v).agg(
                F.count(F.lit(1)),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))))
            row = op("mor_cdc.read_collect", lambda: head.collect()[0])
            feed = op("mor_cdc.feed_build", lambda: M.mor_cdc_change_feed(spark, table, v))
            counts = op("mor_cdc.feed_collect", lambda: feed.groupBy("change").count().collect())
        state["epoch"] += 1
        if h.traced and e == 0:
            phases.extend([plan_phases_ms(head), plan_phases_ms(feed)])
        after = _files(table)
        state["written"] += sum(s for p, s in after.items() if before.get(p) != s)
        state["changes"] += len(batch)
        checks.append((v, (row[0], row[1]), fold.head_aggregate(),
                       {r[0]: r[1] for r in counts}, expected))
        return es

    def maintain():
        v = state["version"]
        before = _files(table)
        op("mor_cdc.compact", lambda: M.mor_cdc_compact(spark, table, v))
        state["version"] = v + 1
        mid = _files(table)
        op("mor_cdc.vacuum", lambda: M.mor_cdc_vacuum(table, v + 1, retain=1))
        after = _files(table)
        reclaimed.append(len(set(mid) - set(after)))
        state["written"] += sum(s for p, s in mid.items() if before.get(p) != s)

    warm: list[dict] = []
    h.control_q6("start")
    try:
        cg0 = _codegen(h)
        with tr.span("pass.cold") as cold:
            op("mor_cdc.init", lambda: M.mor_cdc_init(
                spark, spark.read.parquet(orders_path).withColumn("version", F.lit(0)),
                table, inputs.CDC_KEY))
        cg1 = _codegen(h)
        h.control_q6("middle")
        with tr.span("pass.warm"):
            for _ in range(CDC_WARMUP_EPOCHS):
                epoch()
            for _ in range(CDC_EPOCHS):
                warm.append(epoch())
            with tr.span("maintain"):
                maintain()
        final = op("final head read", lambda: M.mor_cdc_read(spark, table, state["version"]).toPandas())
    except _Stop:
        return _failed_result(h)
    h.control_q6("end")
    mem = h.memory()

    for v, got, want, feed_got, feed_want in checks:
        if tuple(got) != tuple(want):
            h.checks.append(f"head read v{v}: (rows, cents) {tuple(got)} != {tuple(want)}")
        if {k: c for k, c in feed_got.items() if c} != {k: c for k, c in feed_want.items() if c}:
            h.checks.append(f"feed v{v}: {feed_got} != {feed_want}")
    _check_head(h, final, fold.head_frame())
    if h.control_results:
        _check_queries(h, [("q6_forecast_revenue", p) for p in h.control_results])

    timed = {s["id"] for s in warm}

    def closed(name: str) -> list[dict]:
        """The spans of ``name`` inside the timed epochs."""
        return [s for s in tr.closed(name) if s["parent"] in timed]

    def durations(name: str) -> list[float]:
        return [_dur(s) for s in closed(name)]

    commits = durations("mor_cdc.commit")
    reads = [a + b for a, b in zip(durations("mor_cdc.read_build"), durations("mor_cdc.read_collect"))]
    feeds = [a + b for a, b in zip(durations("mor_cdc.feed_build"), durations("mor_cdc.feed_collect"))]
    engine_s = sum(_dur(s) for s in warm) + sum(tr.durations("maintain"))
    tail_v, tail_note = tail(commits)
    e2e = {
        "setup_s": h.setup_metrics()["setup_s"],
        **mem,
        "cold_pass_s": _dur(cold),
        "ops_per_s": len(warm) / engine_s,
        "op_p50_s": percentile(commits, 50),
        "op_tail_s": tail_v,
    }
    write_per_change = state["written"] / max(1, state["changes"])
    extra = {
        "head_read_p50_s": percentile(reads, 50),
        "feed_p50_s": percentile(feeds, 50),
        "write_bytes_per_change": write_per_change,
    }
    if h.traced:
        _start_layers(h)
        for k in ("analysis", "optimization", "planning"):
            h.layers[f"plans.{k}_ms"] = sum(p[k] for p in phases)
        h.layers["plans.codegen_compiles"] = cg1[0] - cg0[0]
        h.layers["plans.codegen_s"] = cg1[1] - cg0[1]
        log = _event_log(h)
        warm_ops = warm + tr.closed("maintain")
        _finish_layers(h, log, [_window(s) for s in warm_ops], len(warm))
        for name in ("commit", "read_build", "read_collect", "feed_build", "feed_collect"):
            h.layers[f"mor_cdc.{name}_s"] = _median(durations(f"mor_cdc.{name}"))
        h.layers["mor_cdc.compact_s"] = _median(tr.durations("mor_cdc.compact"))
        h.layers["mor_cdc.vacuum_s"] = _median(tr.durations("mor_cdc.vacuum"))
        h.layers["mor_cdc.jobs_per_commit"] = _mean_jobs(log, closed("mor_cdc.commit"))
        h.layers["mor_cdc.jobs_per_feed"] = _mean_jobs(
            log, closed("mor_cdc.feed_build") + closed("mor_cdc.feed_collect"),
            per=len(warm))
        h.layers["mor_cdc.driver_gap_s"] = sum(
            log.window(*_window(s))["driver_gap_s"] for s in warm) / len(warm)
        h.layers["mor_cdc.files_scanned_per_read"] = sum(
            log.window(*_window(s))["files_read"] for s in closed("mor_cdc.read_collect")
        ) / len(warm)
        h.layers["mor_cdc.vacuum_files_reclaimed"] = _median(reclaimed)
        h.layers["mor_cdc.write_bytes_per_change"] = write_per_change
        h.layers.update(_head_state(table, state["version"]))
    n_c = f"n={len(commits)} commits"
    return {"e2e": e2e | extra, "named": _named(e2e | extra, {
        "setup_s": ("setup_s", "s", f"median of {len(h.setup_times)} set-ups"),
        "peak_rss_mb": ("peak_rss_mb", "MB", "driver JVM + Python VmHWM"),
        "live_heap_mb": ("live_heap_mb", "MB", "JVM heap in use after a full GC"),
        "cold_pass_s": ("cold_pass_s", "s", "mor_cdc_init: bulk load in the fresh session"),
        "commit_p50_s": ("op_p50_s", "s", n_c),
        "commit_tail_s": ("op_tail_s", "s", tail_note),
        "head_read_p50_s": ("head_read_p50_s", "s", n_c),
        "feed_p50_s": ("feed_p50_s", "s", n_c),
        "epochs_per_s": ("ops_per_s", "1/s", f"{len(warm)} timed epochs and one compaction"),
        "write_bytes_per_change": ("write_bytes_per_change", "count",
                                   f"{state['written']} bytes / {state['changes']} change rows"),
    })}


class _Stop(Exception):
    """Raised after a failed operation has been recorded."""


def _mean_jobs(log: EventLog, spans: list[dict], per: int | None = None) -> float:
    jobs = sum(log.window(*_window(s))["jobs"] for s in spans)
    return jobs / max(1, per if per is not None else len(spans))


def _head_state(table: str, version: int) -> dict[str, float]:
    mpath = os.path.join(table, f"manifest-v{version}.json")
    with open(mpath) as f:
        m = json.load(f)
    data_files = sum(
        1 for entries in m["files"].values() for e in entries
        for p in _files(e["path"]) if p.endswith(".parquet")
    )
    dv_files = sum(1 for d in m.get("dvs", []) for p in _files(d["path"]) if p.endswith(".json"))
    return {
        "mor_cdc.manifest_bytes": os.path.getsize(mpath),
        "mor_cdc.data_files_at_head": data_files,
        "mor_cdc.dv_files_at_head": dv_files,
    }


def _check_head(h, got, want) -> None:
    """The final head read against the independent fold, row for row."""
    key = inputs.CDC_KEY
    got = got.sort_values(key).reset_index(drop=True)
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        h.checks.append(f"final head: {len(got)} rows {sorted(got.columns)} != "
                        f"{len(want)} rows {sorted(want.columns)}")
        return
    for col in want.columns:
        a, b = got[col].to_numpy(), want[col].to_numpy()
        if a.dtype.kind == "M" or b.dtype.kind == "M":
            a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
        elif a.dtype.kind in "iuf" and b.dtype.kind in "iuf":
            a, b = a.astype(np.float64), b.astype(np.float64)
        else:
            a, b = a.astype(object), b.astype(object)
        bad = np.flatnonzero(a != b)
        if len(bad):
            i = bad[0]
            h.checks.append(f"final head col {col}: {len(bad)} rows differ, "
                            f"e.g. key {want[key].iloc[i]}: {a[i]!r} != {b[i]!r}")


def _failed_result(h) -> dict:
    """A run whose engine calls failed: no figures, every metric 0."""
    e2e = {k: 0.0 for k in ("setup_s", "peak_rss_mb", "live_heap_mb", "cold_pass_s",
                            "ops_per_s", "op_p50_s", "op_tail_s")}
    if h.traced:
        h.layers.update({k: 0.0 for k in LAYER_UNITS})
    return {"e2e": e2e, "named": {}}


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

class TripFileGenerator(threading.Thread):
    """Open-loop source: file ``i`` (from 1) is due at
    ``t0 + (i - 1) * STREAM_INTERVAL_S``, whatever the engine is doing;
    file 0 is the warm-up file, written before the clock starts.  Each file is
    written under a hidden name and renamed into place, so the stream
    never sees a partial file."""

    def __init__(self, src: str, payloads: list[bytes]):
        super().__init__(daemon=True)
        self.src, self.payloads = src, payloads
        self.t0 = 0.0
        self.written: dict[int, float] = {}
        self.error: BaseException | None = None

    def due(self, i: int) -> float:
        return self.t0 + (i - 1) * STREAM_INTERVAL_S

    def write(self, i: int) -> None:
        tmp = os.path.join(self.src, f".part-{i:05d}.json.tmp")
        with open(tmp, "wb") as f:
            f.write(self.payloads[i])
        os.rename(tmp, os.path.join(self.src, f"part-{i:05d}.json"))
        self.written[i] = time.perf_counter()

    def run(self):
        try:
            for i in range(1, len(self.payloads)):
                delay = self.due(i) - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self.write(i)
        except BaseException as e:  # surfaced by the caller after join()
            self.error = e


class TimedSink:
    """Wraps the engine's sink: records each batch's sink-call span and
    the moment the call returned."""

    def __init__(self, sink, tracer, parent: int):
        self.sink, self.tracer, self.parent = sink, tracer, parent
        self.returned: dict[int, float] = {}

    def __call__(self, batch_df, epoch_id: int) -> None:
        with self.tracer.span("rollup.sink_call", parent=self.parent, epoch=epoch_id):
            self.sink(batch_df, epoch_id)
        self.returned[epoch_id] = time.perf_counter()


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's own log in
    the checkpoint (read after the query stopped)."""
    d = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(urlparse(e["path"]).path)] = int(e["batchId"])
    return out


def stream_ingest(h) -> dict:
    inputs.write_warehouse(h.sf_dir, h.args.sf, h.seed)
    first = 1 + int(round(STREAM_WARMUP_S / STREAM_INTERVAL_S))  # first measured file
    n_files = first + max(4, int(round(h.seconds / STREAM_INTERVAL_S)))
    payloads, expected = inputs.taxi_files(h.seed, n_files, STREAM_ROWS_PER_FILE)
    h.setup()
    from nyc_data_pipeline_spark.operators.enrichment import enrich_trips
    from nyc_data_pipeline_spark.sources.readers import TAXI_TRIP_SCHEMA
    from nyc_data_pipeline_spark.streaming.ingest import file_json_stream
    from nyc_data_pipeline_spark.streaming.rollup import HourlyRollupSink, finalize_hourly_rollup
    from nyc_data_pipeline_spark.streaming.sinks import start_foreach_batch

    spark, tr = h.spark, h.tracer
    src, ckpt, out = (str(h.work / "stream" / d) for d in ("src", "checkpoint", "rollup"))
    os.makedirs(src)
    gen = TripFileGenerator(src, payloads)
    h.control_q6("start")
    cg0 = _codegen(h)
    h.attempted += 1
    query = None
    try:
        with tr.span("stream") as st:
            sink = TimedSink(HourlyRollupSink(out, ts_col="tpep_pickup_datetime",
                                              value_col="fare_amount"), tr, st["id"])
            t_start = time.perf_counter()
            gen.write(0)
            with tr.span("ingest.start"):
                trips = enrich_trips(file_json_stream(spark, src, TAXI_TRIP_SCHEMA),
                                     pickup="tpep_pickup_datetime",
                                     dropoff="tpep_dropoff_datetime")
                query = start_foreach_batch(trips, sink, ckpt)
            query.processAllAvailable()  # the warm-up file is through
            cg1 = _codegen(h)
            with tr.span("stream.open_loop") as loop:
                gen.t0 = time.perf_counter()
                gen.start()
                gen.join()
                if gen.error is not None:
                    raise gen.error
                query.processAllAvailable()
        progress = [json.loads(p.json) for p in query.recentProgress] if h.traced else []
    except Exception as e:
        h.fail("stream", e)
    finally:
        if query is not None:
            query.stop()
        if gen.is_alive():
            gen.join()
    h.control_q6("middle")
    mem = h.memory()
    if h.errors:
        return _failed_result(h)

    batch_of = _file_batches(ckpt)
    done = {i: sink.returned.get(batch_of.get(f"part-{i:05d}.json")) for i in range(n_files)}
    missing = [i for i, t in done.items() if t is None]
    if missing:
        h.checks.append(f"{len(missing)} trip files never reached the sink, e.g. #{missing[0]}")
    measured = range(first, n_files)
    lags = [done[i] - gen.due(i) for i in measured if done[i] is not None]
    h.attempted += 1
    _check_rollup(h, finalize_hourly_rollup(spark, out).toPandas(), expected)
    h.control_q6("end")
    if h.control_results:
        _check_queries(h, [("q6_forecast_revenue", p) for p in h.control_results])

    rows = len(measured) * STREAM_ROWS_PER_FILE
    rows_ingested = sum(STREAM_ROWS_PER_FILE for t in done.values() if t is not None)
    t_measured = gen.due(first)
    tail_v, tail_note = tail(lags)
    e2e = {
        "setup_s": h.setup_metrics()["setup_s"],
        **mem,
        "cold_pass_s": (done[0] or float("nan")) - t_start,
        "ops_per_s": rows / (max(done[i] or 0.0 for i in measured) - t_measured),
        "op_p50_s": percentile(lags, 50),
        "op_tail_s": tail_v,
    }
    if h.traced:
        _start_layers(h)
        h.layers["plans.codegen_compiles"] = cg1[0] - cg0[0]
        h.layers["plans.codegen_s"] = cg1[1] - cg0[1]
        ids = {batch_of[f"part-{i:05d}.json"] for i in measured}
        batches = [p for p in progress if p["batchId"] in ids]
        window = (loop["wall"] + t_measured - loop["start"], loop["wall"] + _dur(loop))
        _finish_layers(h, _event_log(h), [window], len(batches))

        def dur(key):
            return _median(p["durationMs"].get(key, 0) / 1000.0 for p in batches)

        h.layers.update({
            "ingest.batches": len(batches),
            "ingest.rows_per_batch": _median(p["numInputRows"] for p in batches),
            "ingest.trigger_s": dur("triggerExecution"),
            "ingest.latest_offset_s": dur("latestOffset"),
            "ingest.wal_commit_s": dur("walCommit"),
            "ingest.planning_s": dur("queryPlanning"),
            "sinks.add_batch_s": dur("addBatch"),
            "rollup.sink_call_s": _median(
                _dur(s) for s in tr.closed("rollup.sink_call") if s["epoch"] in ids),
            "ingest.backlog_files_max": _backlog_max({i: gen.written[i] for i in measured}, done),
            "gen.late_max_s": max(gen.written[i] - gen.due(i) for i in range(1, n_files)),
        })
    n_l = f"n={len(lags)} files due after {STREAM_WARMUP_S:g} s of warm-up"
    return {"e2e": e2e | {"rows_ingested": rows_ingested}, "named": _named(e2e, {
        "setup_s": ("setup_s", "s", f"median of {len(h.setup_times)} set-ups"),
        "peak_rss_mb": ("peak_rss_mb", "MB", "driver JVM + Python VmHWM"),
        "live_heap_mb": ("live_heap_mb", "MB", "JVM heap in use after a full GC"),
        "cold_pass_s": ("cold_pass_s", "s", "query start + first micro-batch"),
        "ingest_lag_p50_s": ("op_p50_s", "s", n_l),
        "ingest_lag_tail_s": ("op_tail_s", "s", tail_note),
        "ingest_rows_per_s": ("ops_per_s", "1/s",
                              f"{rows} rows offered at {STREAM_ROWS_PER_FILE / STREAM_INTERVAL_S:g}/s"),
    })}


def _backlog_max(written: dict[int, float], done: dict[int, float | None]) -> int:
    """Most files written but not yet through the sink at any write."""
    inf = float("inf")
    return max(
        sum(1 for j, w in written.items() if w <= t < (done.get(j) or inf))
        for t in written.values()
    ) if written else 0


def _check_rollup(h, got, expected: dict) -> None:
    """finalize_hourly_rollup against the generator's own hourly counts
    and fare sums (in cents, so the comparison is exact)."""
    rows = {
        np.datetime64(r.hour, "h"): (int(r.trip_count), int(round(r.total_value * 100)), r.avg_value)
        for r in got.itertuples()
    }
    want = {np.datetime64(k, "h"): v for k, v in expected.items()}
    if set(rows) != set(want):
        h.checks.append(f"rollup hours: {len(rows)} != {len(want)} expected")
        return
    for hour, (n, cents) in want.items():
        g_n, g_cents, g_avg = rows[hour]
        if (g_n, g_cents) != (n, cents) or abs(g_avg - cents / 100.0 / n) > 1e-9 * max(1.0, abs(g_avg)):
            h.checks.append(f"rollup {hour}: (n, cents, avg) {rows[hour]} != ({n}, {cents})")
            return


WORKLOADS = {
    "curate_corpus": lambda h: query_mix(h, MIXES["curate_corpus"]),
    "curate_udf": lambda h: query_mix(h, MIXES["curate_udf"]),
    "dash_read": lambda h: query_mix(h, MIXES["dash_read"]),
    "cdc_commit": cdc_commit,
    "stream_ingest": stream_ingest,
}
