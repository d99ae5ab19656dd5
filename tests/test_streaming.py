"""Real Structured Streaming runs (memory sink, processAllAvailable):
the streamed result of each operator must equal its batch twin, and the
foreachBatch sink must be idempotent across checkpoint restarts."""

import json
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from nyc_data_pipeline_spark.catalog import load_table
from nyc_data_pipeline_spark.operators.enrichment import enrich_trips
from nyc_data_pipeline_spark.sources.readers import TAXI_TRIP_SCHEMA
from nyc_data_pipeline_spark.streaming.ingest import (
    file_json_stream,
    parse_wire_records,
    rate_stream,
    run_to_memory,
)
from nyc_data_pipeline_spark.streaming.sinks import (
    EpochIdempotentParquetSink,
    start_foreach_batch,
)
from nyc_data_pipeline_spark.streaming.windows import (
    session_counts,
    stream_static_enrich,
    tumbling_counts,
    with_watermark,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def events_json_dir(spark, sf_dir, tmp_path):
    """Events fixture re-materialized as JSON files (3 micro-batches)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = tmp_path / "stream_in"
    from nyc_data_pipeline_spark.streaming.ingest import MICROS_TS_FORMAT

    ev.repartition(3).write.option("timestampFormat", MICROS_TS_FORMAT).json(str(out))
    return str(out)


def test_stream_equals_batch_tumbling(spark, sf_dir, events_json_dir):
    stream = file_json_stream(spark, events_json_dir, EVENT_SCHEMA)
    agg = tumbling_counts(with_watermark(stream, "ts", "1 hour"))
    q = run_to_memory(agg, "tumbling_out", output_mode="complete")
    try:
        got = {
            (r.window_start_us, r.event_type): (r.n, r.total_value)
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
    finally:
        q.stop()
    want = {
        (r.window_start_us, r.event_type): (r.n, r.total_value)
        for r in tumbling_counts(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


def test_stream_session_windows(spark, sf_dir, events_json_dir):
    stream = file_json_stream(spark, events_json_dir, EVENT_SCHEMA)
    agg = session_counts(with_watermark(stream, "ts", "2 hours"))
    q = run_to_memory(agg, "session_out", output_mode="complete")
    try:
        got_total = spark.sql("SELECT SUM(n_events) s FROM session_out").collect()[0].s
    finally:
        q.stop()
    batch = session_counts(load_table(spark, sf_dir, "events"))
    assert got_total == batch.agg(F.sum("n_events")).collect()[0][0]


def test_stream_static_join_equals_batch(spark, sf_dir, events_json_dir):
    """J8: events under readStream joined to the static customer dim
    must equal the batch twin (join_stream_static registration)."""
    cust = load_table(spark, sf_dir, "customer")
    stream = file_json_stream(spark, events_json_dir, EVENT_SCHEMA)
    agg = stream_static_enrich(with_watermark(stream, "ts", "1 hour"), cust)
    q = run_to_memory(agg, "ss_join_out", output_mode="complete")
    try:
        got = {
            (r.window_start_us, r.segment): (r.n, r.total_value)
            for r in spark.sql("SELECT * FROM ss_join_out").collect()
        }
    finally:
        q.stop()
    want = {
        (r.window_start_us, r.segment): (r.n, r.total_value)
        for r in stream_static_enrich(
            load_table(spark, sf_dir, "events"), cust
        ).collect()
    }
    assert got == want


def test_stream_stream_join_equals_batch(spark, sf_dir, events_json_dir):
    """J8: both sides under readStream with watermarks; the attributed
    (click, purchase) pair set must equal the batch twin."""
    from nyc_data_pipeline_spark.streaming.windows import click_purchase_join

    def sides(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    s_clicks, s_purch = sides(file_json_stream(spark, events_json_dir, EVENT_SCHEMA))
    joined = click_purchase_join(
        s_clicks.withWatermark("ts", "2 hours"), s_purch.withWatermark("ts", "2 hours")
    )
    q = run_to_memory(joined, "ss_join2_out", output_mode="append")
    try:
        got = {
            (r.click_id, r.purchase_id)
            for r in spark.sql("SELECT * FROM ss_join2_out").collect()
        }
    finally:
        q.stop()
    b_clicks, b_purch = sides(load_table(spark, sf_dir, "events"))
    want = {
        (r.click_id, r.purchase_id)
        for r in click_purchase_join(b_clicks, b_purch).collect()
    }
    assert got == want


def test_stateful_user_profile_stream_equals_batch(spark, sf_dir, events_json_dir):
    """T10: applyInPandasWithState replay — the latest emitted profile
    per user must equal the batch grouped-map twin."""
    from nyc_data_pipeline_spark.streaming.stateful import (
        user_profile_batch,
        user_profile_stateful,
    )

    stream = file_json_stream(spark, events_json_dir, EVENT_SCHEMA)
    q = run_to_memory(user_profile_stateful(stream), "stateful_out", output_mode="update")
    try:
        rows = spark.sql("SELECT * FROM stateful_out").collect()
    finally:
        q.stop()
    # update-mode memory sink appends one row per (user, trigger); the
    # live profile is the one with the highest n_events per user.
    got = {}
    for r in rows:
        if r.user_id not in got or r.n_events > got[r.user_id][0]:
            got[r.user_id] = (r.n_events, r.n_purchase, r.first_ts_us, r.last_ts_us, r.span_us)
    want = {
        r.user_id: (r.n_events, r.n_purchase, r.first_ts_us, r.last_ts_us, r.span_us)
        for r in user_profile_batch(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


def test_drop_duplicates_within_watermark(spark, sf_dir, tmp_path):
    """T10: watermark-bounded streaming dedup — replayed events (every
    event written twice across two files) collapse to one row each,
    with state bounded by the watermark instead of growing forever."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    from nyc_data_pipeline_spark.streaming.ingest import MICROS_TS_FORMAT

    src = tmp_path / "dup_stream"
    ev.coalesce(1).write.option("timestampFormat", MICROS_TS_FORMAT).json(str(src))
    ev.coalesce(1).write.option("timestampFormat", MICROS_TS_FORMAT).mode(
        "append"
    ).json(str(src))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    stream = (
        file_json_stream(spark, str(src), schema)
        .withWatermark("ts", "10 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = run_to_memory(stream, "wm_dedup_out", output_mode="append")
    try:
        n = spark.sql("SELECT COUNT(*) c FROM wm_dedup_out").collect()[0].c
    finally:
        q.stop()
    assert n == ev.count()


def test_wire_parse_chain_streaming(spark, tmp_path):
    """Kafka wire shape (JSON value strings) parsed + enriched under
    readStream — the reference consumer end-to-end, broker-less."""
    rows = [
        {"VendorID": 1, "tpep_pickup_datetime": "2015-01-01 10:00:00",
         "tpep_dropoff_datetime": "2015-01-01 10:30:00", "passenger_count": 2,
         "trip_distance": 6.0, "fare_amount": 20.0, "tip_amount": 5.0,
         "total_amount": 25.0},
        {"VendorID": 2, "tpep_pickup_datetime": "2015-01-01 11:00:00",
         "tpep_dropoff_datetime": "2015-01-01 11:00:00", "passenger_count": 1,
         "trip_distance": 1.0, "fare_amount": 5.0, "tip_amount": 0.0,
         "total_amount": 5.0},  # zero duration -> filtered out
    ]
    src = tmp_path / "wire"
    src.mkdir()
    (src / "batch0.jsonl").write_text(
        "\n".join(json.dumps({"value": json.dumps(r)}) for r in rows)
    )
    wire_schema = T.StructType([T.StructField("value", T.StringType())])
    stream = spark.readStream.schema(wire_schema).json(str(src))
    parsed = parse_wire_records(stream, TAXI_TRIP_SCHEMA)
    enriched = enrich_trips(
        parsed.withColumn("pickup_dt", F.to_timestamp("tpep_pickup_datetime"))
        .withColumn("dropoff_dt", F.to_timestamp("tpep_dropoff_datetime")),
        pickup="pickup_dt",
        dropoff="dropoff_dt",
    )
    q = run_to_memory(enriched, "wire_out")
    try:
        out = spark.sql("SELECT * FROM wire_out").collect()
    finally:
        q.stop()
    assert len(out) == 1
    r = out[0]
    assert r.VendorID == 1 and r.trip_category == "medium"
    assert r.speed_mph == pytest.approx(12.0) and r.tip_pct == pytest.approx(25.0)


def test_foreach_batch_sink_idempotent_restart(spark, tmp_path):
    """Same checkpoint + same source replayed: epochs overwrite, never
    duplicate (the fix for the reference's at-least-once JDBC dups)."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(json.dumps({"event_id": i, "value": float(i)}) for i in range(100))
    )
    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    sink = EpochIdempotentParquetSink(out_dir)
    stream = spark.readStream.schema(schema).json(str(src))
    q = start_foreach_batch(stream, sink, ckpt)
    q.processAllAvailable(); q.stop()
    first = spark.read.parquet(out_dir).count()
    assert first == 100

    # Restart from the same checkpoint: processed offsets are remembered,
    # nothing is re-ingested; a forced replay of epoch 0 would overwrite.
    sink2 = EpochIdempotentParquetSink(out_dir)
    q2 = start_foreach_batch(
        spark.readStream.schema(schema).json(str(src)), sink2, ckpt
    )
    q2.processAllAvailable(); q2.stop()
    assert spark.read.parquet(out_dir).count() == 100
    assert sink2.batches_seen == []  # checkpoint prevented re-processing


def test_stateful_state_survives_restart(spark, sf_dir, tmp_path):
    """T10: applyInPandasWithState state is checkpoint-durable — after a
    stop/restart with new input files, emitted profiles must include
    counts accumulated before the restart."""
    from nyc_data_pipeline_spark.streaming.ingest import MICROS_TS_FORMAT
    from nyc_data_pipeline_spark.streaming.stateful import (
        user_profile_batch,
        user_profile_stateful,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    first, second = ev.filter(F.col("event_id") % 2 == 0), ev.filter(
        F.col("event_id") % 2 == 1
    )
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    first.coalesce(1).write.option("timestampFormat", MICROS_TS_FORMAT).json(str(src))

    def run():
        updates = []
        stream = file_json_stream(spark, str(src), EVENT_SCHEMA)
        q = (
            user_profile_stateful(stream)
            .writeStream.foreachBatch(
                lambda bdf, _epoch: updates.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return updates

    run()
    second.coalesce(1).write.option("timestampFormat", MICROS_TS_FORMAT).mode(
        "append"
    ).json(str(src))
    second_updates = run()

    got = {}
    for r in second_updates:
        if r.user_id not in got or r.n_events > got[r.user_id][0]:
            got[r.user_id] = (r.n_events, r.n_purchase, r.first_ts_us, r.last_ts_us)
    want = {
        r.user_id: (r.n_events, r.n_purchase, r.first_ts_us, r.last_ts_us)
        for r in user_profile_batch(ev).collect()
    }
    # Users emitted after restart carry their pre-restart state: their
    # profile equals the batch profile over BOTH halves.
    assert got, "restart produced no updates"
    for uid, profile in got.items():
        assert profile == want[uid], (uid, profile, want[uid])


def test_stateful_ttl_evicts_idle_keys(spark, tmp_path):
    """T10: event-time TTL — once the watermark passes last_seen + 1h,
    idle users' state is evicted with a final row (bounded state on an
    unbounded keyspace)."""
    import datetime as dt
    import json as _json

    from nyc_data_pipeline_spark.streaming.stateful import user_counts_with_ttl

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_file(name, rows):
        (tmp_path / name).write_text("\n".join(_json.dumps(r) for r in rows))

    def ev(eid, hours, uid):
        return {
            "event_id": eid,
            "ts": (t0 + dt.timedelta(hours=hours)).strftime("%Y-%m-%dT%H:%M:%S.%f+00:00"),
            "user_id": uid,
            "event_type": "click",
            "value": 1.0,
        }

    # batch 1: users 1,2 at hour 0; batch 2: user 10 at hour 6 (advances
    # watermark past hour 0 + 1h TTL); batch 3: user 20 at hour 7
    # (timeouts fire against the batch-2 watermark → users 1,2 evict).
    # Distinct mtimes pin the file-source batch order (oldest first).
    import os as _os

    write_file("a.jsonl", [ev(1, 0, 1), ev(2, 0, 1), ev(3, 0, 2)])
    write_file("b.jsonl", [ev(10, 6, 10)])
    write_file("c.jsonl", [ev(20, 7, 20)])
    for i, name in enumerate(("a.jsonl", "b.jsonl", "c.jsonl")):
        _os.utime(tmp_path / name, (1000 * (i + 1), 1000 * (i + 1)))

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    out = user_counts_with_ttl(stream.withWatermark("ts", "1 hour"))
    rows = []
    q = (
        out.writeStream.foreachBatch(lambda bdf, _e: rows.extend(bdf.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    evicted = {r.user_id: r.n_events for r in rows if r.status == "evicted"}
    assert evicted == {1: 2, 2: 1}
    live = {r.user_id for r in rows if r.status == "live"}
    assert {10, 20} <= live


def test_incremental_hourly_rollup(spark, sf_dir, events_json_dir, tmp_path):
    """Reference summary tables (database_handler.py:112-164) as an
    incremental streaming rollup: per-epoch partials finalized at read
    time must equal the batch aggregate over the same events exactly."""
    from nyc_data_pipeline_spark.streaming.rollup import (
        HourlyRollupSink,
        finalize_hourly_rollup,
    )
    from nyc_data_pipeline_spark.exprs import dec

    schema = EVENT_SCHEMA
    out_dir, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    stream = file_json_stream(spark, events_json_dir, schema)
    q = start_foreach_batch(stream, HourlyRollupSink(out_dir), ckpt)
    q.processAllAvailable(); q.stop()

    # Compacting the epoch partials must not change the finalized table.
    from nyc_data_pipeline_spark.streaming.rollup import compact_rollup

    pre = {r.hour: (r.trip_count, r.total_value) for r in
           finalize_hourly_rollup(spark, out_dir).collect()}
    assert compact_rollup(spark, out_dir) > 0
    post = {r.hour: (r.trip_count, r.total_value) for r in
            finalize_hourly_rollup(spark, out_dir).collect()}
    assert pre == post
    assert compact_rollup(spark, out_dir) == 0  # nothing left to compact

    got = {
        r.hour: (r.trip_count, r.total_value, r.avg_value)
        for r in finalize_hourly_rollup(spark, out_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.hour: (r.trip_count, r.total_value, r.avg_value)
        for r in ev.groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour")
        )
        .agg(
            F.count("*").alias("trip_count"),
            F.sum(dec("value")).cast("double").alias("total_value"),
            (F.sum(dec("value")).cast("double") / F.count("value")).alias("avg_value"),
        )
        .collect()
    }
    assert got == want


def test_rollup_compaction_crash_recovery(spark, events_json_dir, tmp_path):
    """compact_rollup is crash-safe: a tmp dir with no manifest is
    pre-commit garbage (discarded); a manifest is the commit point, so
    recovery finishes deletes + promote.  Finalized values must be
    identical through every simulated crash window."""
    import json
    import shutil

    from nyc_data_pipeline_spark.streaming.rollup import (
        HourlyRollupSink,
        compact_rollup,
        finalize_hourly_rollup,
    )

    out_dir, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    stream = file_json_stream(spark, events_json_dir, EVENT_SCHEMA)
    q = start_foreach_batch(stream, HourlyRollupSink(out_dir), ckpt)
    q.processAllAvailable(); q.stop()

    truth = {r.hour: (r.trip_count, r.total_value) for r in
             finalize_hourly_rollup(spark, out_dir).collect()}
    assert truth

    # Window 1: crash after writing the merge output but BEFORE the
    # manifest commit.  The stale tmp (here: a copy of a real epoch,
    # which would double-count if wrongly folded in) must be discarded.
    some_epoch = next(
        d for d in os.listdir(out_dir) if d.startswith("epoch=")
    )
    shutil.copytree(
        os.path.join(out_dir, some_epoch), os.path.join(out_dir, "_compacting")
    )
    assert compact_rollup(spark, out_dir) > 0
    after1 = {r.hour: (r.trip_count, r.total_value) for r in
              finalize_hourly_rollup(spark, out_dir).collect()}
    assert after1 == truth

    # Window 2: crash AFTER the manifest commit, mid-delete.  State:
    # merged output sits in _compacting, one listed source survived
    # (epoch=99, a double-count hazard), epoch=-1 already deleted.
    compact_dir = os.path.join(out_dir, "epoch=-1")
    survivor = os.path.join(out_dir, "epoch=99")
    shutil.copytree(compact_dir, survivor)
    os.rename(compact_dir, os.path.join(out_dir, "_compacting"))
    manifest = os.path.join(out_dir, "_compact_manifest.json")
    with open(manifest, "w") as f:
        json.dump(
            {"sources": [survivor, os.path.join(out_dir, "epoch=already-gone")]},
            f,
        )
    assert compact_rollup(spark, out_dir) == 0  # recovery only
    assert not os.path.exists(survivor)
    assert not os.path.exists(manifest)
    after2 = {r.hour: (r.trip_count, r.total_value) for r in
              finalize_hourly_rollup(spark, out_dir).collect()}
    assert after2 == truth


def test_rate_source_smoke(spark):
    """T6: the rate source replaces producer sleep-throttling."""
    q = (
        rate_stream(spark, rows_per_second=50)
        .writeStream.format("memory")
        .queryName("rate_out")
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT COUNT(*) c FROM rate_out").collect()[0].c
            if n > 0:
                break
            time.sleep(0.5)
        assert n > 0
    finally:
        q.stop()


def test_stream_corpus_curate_equals_batch(spark, sf_dir, tmp_path):
    """Curation funnel, incremental form: quality filter + keyed exact
    dedup under readStream must produce the same curated set as the
    batch twin (stream_corpus_curate's registered query)."""
    from nyc_data_pipeline_spark.pipelines.corpus_clean import curate_documents
    from nyc_data_pipeline_spark.sources.scans import DOCUMENTS_SCHEMA

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "docs_in"
    docs.repartition(3).write.json(str(src))

    stream = file_json_stream(spark, str(src), DOCUMENTS_SCHEMA)
    q = run_to_memory(curate_documents(stream), "curate_out", output_mode="append")
    try:
        got = {
            (r.fingerprint, r.predicted_lang, r.n_tokens)
            for r in spark.sql("SELECT * FROM curate_out").collect()
        }
    finally:
        q.stop()
    want = {
        (r.fingerprint, r.predicted_lang, r.n_tokens)
        for r in curate_documents(docs).collect()
    }
    assert got == want and got


def test_stream_trending_topk_equals_batch(spark, sf_dir, events_json_dir):
    """Trending leaderboard: watermarked sliding counts run as a real
    stream; the rank runs in foreachBatch over each emitted snapshot
    (rank-over-agg is not expressible in one append-mode stream).  The
    final snapshot's ranked output must equal the batch twin."""
    from pyspark.sql import Window as W
    from nyc_data_pipeline_spark.streaming.windows import trending_topk

    stream = file_json_stream(spark, events_json_dir, EVENT_SCHEMA)
    counts = (
        with_watermark(stream, "ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("window.start").cast("timestamp")).alias(
                "window_start_us"
            ),
            "event_type",
            "n",
        )
    )
    snapshots = []

    def rank_batch(bdf, epoch_id):
        w = W.partitionBy("window_start_us").orderBy(
            F.desc("n"), F.asc("event_type")
        )
        ranked = (
            bdf.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .collect()
        )
        snapshots.append(ranked)

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(rank_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.window_start_us, r.rank): (r.event_type, r.n) for r in snapshots[-1]
    }
    want = {
        (r.window_start_us, r.rank): (r.event_type, r.n)
        for r in trending_topk(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


def test_stream_cdc_upsert_equals_batch(spark, sf_dir, tmp_path):
    """readStream CDC waves folded via foreachBatch == one-shot merge.

    Waves carry explicit versions, so the fold reaches the same
    fixpoint in ANY processing order — maxFilesPerTrigger=1 feeds them
    one micro-batch at a time like a CDC topic would."""
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.pipelines.cdc import (
        finalize_merge,
        merge_fold_state,
    )
    from nyc_data_pipeline_spark.registry import QUERIES, load_all

    load_all()

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    waves = [
        d.where(F.col("doc_id") % 3 == 0)
        .withColumn("lang", F.lit("recrawl1"))
        .withColumn("n_chars", F.col("n_chars") + 1)
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("u")),
        d.where(F.col("doc_id") % 4 == 0)
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("d")),
        d.where(F.col("doc_id") % 6 == 0)
        .withColumn("lang", F.lit("recrawl3"))
        .withColumn("n_chars", F.col("n_chars") + 3)
        .withColumn("version", F.lit(3))
        .withColumn("op", F.lit("u")),
    ]
    cdc_dir = tmp_path / "cdc_in"
    for i, w in enumerate(waves):
        w.coalesce(1).write.mode("append").json(str(cdc_dir))
    schema = waves[0].schema

    state = {
        "df": d.withColumn("version", F.lit(0))
        .withColumn("op", F.lit("b"))
        .localCheckpoint(eager=True)
    }

    def fold(batch_df, _epoch):
        # Tombstone-retaining fold — finalize_merge runs once, on read.
        state["df"] = merge_fold_state(state["df"], batch_df).localCheckpoint(
            eager=True
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(cdc_dir))
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["lang"], r["n_chars"], r["version"])
        for r in finalize_merge(state["df"]).collect()
    }
    want = {
        r["doc_id"]: (r["lang"], r["n_chars"], r["version"])
        for r in QUERIES["stream_cdc_upsert"](spark, sf_dir).collect()
    }
    assert got == want


def test_stream_cusum_equals_batch_closed_form(spark, sf_dir, tmp_path):
    """T10: the streaming CUSUM's carried (run, run_min, run_max) state
    across ordered micro-batches must reproduce the batch closed-form
    windows row-for-row."""
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.streaming.stateful import (
        cusum_stateful,
        project_cusum_events,
    )
    from nyc_data_pipeline_spark.streaming.ingest import MICROS_TS_FORMAT

    load_all()
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # Time-partitioned files: tercile by global ts order, one file per
    # tercile, replayed one file per trigger -> per-key ordered arrival.
    from pyspark.sql import Window as W

    ranked = ev.withColumn(
        "trd",
        F.ntile(3).over(W.orderBy("ts", "event_id")),
    )
    src = tmp_path / "cusum_in"
    for i in (1, 2, 3):
        (
            ranked.where(F.col("trd") == i)
            .drop("trd")
            .coalesce(1)
            .write.mode("append")
            .option("timestampFormat", MICROS_TS_FORMAT)
            .json(str(src / f"b{i}"))
        )
    # Targets pinned from the batch table (reference-period calibration).
    import math

    rows = ev.select("event_type", "value").collect()
    agg = {}
    for r in rows:
        n, s = agg.get(r.event_type, (0, 0))
        agg[r.event_type] = (n + 1, s + math.floor(r.value * 1_000_000))
    targets = {k: s // n for k, (n, s) in agg.items()}

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("timestampFormat", MICROS_TS_FORMAT)
        .option("maxFilesPerTrigger", 1)
        .json(str(src / "b*"))
    )
    out = cusum_stateful(project_cusum_events(stream), targets)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.event_type, r.event_id): (r.cusum_pos, r.cusum_neg)
            for r in spark.sql("SELECT * FROM cusum_out").collect()
        }
    finally:
        q.stop()
    want = {
        (r.event_type, r.event_id): (r.cusum_pos, r.cusum_neg)
        for r in QUERIES["events_cusum_drift"](spark, sf_dir).collect()
    }
    assert got == want


def test_stream_to_jdbc_database_idempotent(spark, sf_dir, events_json_dir, tmp_path):
    """The reference architecture end-to-end against a REAL database:
    file-stream micro-batches -> foreachBatch -> Derby via JDBC, with
    epoch-keyed idempotence.  Final DB content must equal the batch
    projection, and a manually replayed epoch must NOT duplicate rows
    (the at-least-once bug the epoch DELETE exists to fix)."""
    from nyc_data_pipeline_spark.sources.jdbc import (
        DERBY_DRIVER,
        derby_url,
        read_jdbc,
    )
    from nyc_data_pipeline_spark.streaming.sinks import (
        JdbcEpochIdempotentSink,
        start_foreach_batch,
    )

    url = derby_url(str(tmp_path / "derby_stream_db"))
    props = {"driver": DERBY_DRIVER}
    sink = JdbcEpochIdempotentSink(
        url,
        "stream_events",
        props,
        column_types="event_type VARCHAR(20)",
    )
    stream = file_json_stream(spark, events_json_dir, EVENT_SCHEMA).select(
        "event_id", "event_type", F.floor(F.col("value") * 1_000_000).cast("bigint").alias("v")
    )
    q = start_foreach_batch(stream, sink, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert sink.batches_seen

    def db_rows():
        return {
            (r.event_id, r.event_type, r.v)
            for r in read_jdbc(
                spark,
                url,
                'SELECT "event_id" AS "event_id", "event_type" AS "event_type",'
                ' "v" AS "v" FROM stream_events',
                props,
            ).collect()
        }

    want = {
        (r.event_id, r.event_type, r.v)
        for r in load_table(spark, sf_dir, "events")
        .selectExpr(
            "event_id",
            "event_type",
            "CAST(floor(value * 1000000) AS BIGINT) AS v",
        )
        .collect()
    }
    got = db_rows()
    assert got == want
    # Replay an epoch (simulated at-least-once redelivery): re-invoking
    # the sink with the same epoch id must leave the DB unchanged.
    replay_epoch, _n = sink.batches_seen[0]
    replay_df = load_table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "CAST(floor(value * 1000000) AS BIGINT) AS v",
    ).limit(50)
    sink(replay_df, replay_epoch)
    # Not equal to `want` anymore for the replayed epoch's rows?  The
    # replay REPLACED that epoch's rows with the 50-row frame, so the
    # DB now holds: all other epochs' rows + the 50 replayed rows —
    # and crucially no duplicates from appending twice.
    after = read_jdbc(
        spark,
        url,
        'SELECT "event_id" AS "event_id", COUNT(*) AS "c"'
        ' FROM stream_events GROUP BY "event_id"',
        props,
    ).collect()
    assert all(r.c == 1 for r in after)


def test_observe_metrics_ride_the_batch_job(spark, sf_dir):
    """Batch observe: the gauges must equal direct recounts while
    being computed inside the SAME job as the action (no second
    scan)."""
    from nyc_data_pipeline_spark.pipelines.observability import (
        observed_quality_gate,
    )

    ev = load_table(spark, sf_dir, "events")
    gated, obs = observed_quality_gate(ev)
    n = gated.count()  # the one action; metrics ride it
    got = obs.get
    assert got["n_rows"] == n
    assert got["n_null_ts"] == ev.filter(F.col("ts").isNull()).count()
    assert got["n_nonpos_value"] == ev.filter(F.col("value") <= 0).count()
    assert got["n_late"] == ev.filter(
        F.col("ts") < F.lit("2024-01-01").cast("timestamp")
    ).count()


def test_observe_metrics_per_microbatch_in_stream(spark, sf_dir, events_json_dir):
    """Streaming observe: per-micro-batch gauges surface in the
    progress events and sum to the batch totals."""
    from nyc_data_pipeline_spark.pipelines.observability import with_quality_gate

    stream = with_quality_gate(
        file_json_stream(spark, events_json_dir, EVENT_SCHEMA), "gate"
    )
    q = (
        stream.writeStream.format("noop")
        .option(
            "checkpointLocation",
            events_json_dir + "_obs_ckpt",
        )
        .start()
    )
    try:
        q.processAllAvailable()
        total = 0
        for p in q.recentProgress:
            m = p["observedMetrics"].get("gate") if p.get("observedMetrics") else None
            if m:
                total += m["n_rows"]
    finally:
        q.stop()
    want = load_table(spark, sf_dir, "events").count()
    assert total == want


def test_jdbc_epoch_delete_gates_on_live_table_existence(spark, tmp_path):
    """The epoch DELETE is skipped exactly while the sink table does
    not exist (first epoch, before write_jdbc creates it) — probed via
    DatabaseMetaData against a REAL embedded-Derby database, so the
    gate is engine-metadata-driven, not a SQLState allowlist that
    would misclassify engines with other table-missing states.  Once
    the table exists, a delete failure propagates (asserted by issuing
    the delete against a deliberately broken column set)."""
    from nyc_data_pipeline_spark.sources.jdbc import DERBY_DRIVER, derby_url
    from nyc_data_pipeline_spark.streaming.sinks import JdbcEpochIdempotentSink

    url = derby_url(str(tmp_path / "derby_gate_db"))
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        sink = JdbcEpochIdempotentSink(url, "gate_tbl", {"driver": DERBY_DRIVER})
        assert not sink._table_exists(conn, "gate_tbl")
        # _delete_epoch on a missing table is a no-op, not an error
        sink._delete_epoch(spark, 0)
        st = conn.createStatement()
        st.executeUpdate('CREATE TABLE gate_tbl (id INT, "epoch" BIGINT)')
        st.close()
        assert sink._table_exists(conn, "gate_tbl")
        assert sink._table_exists(conn, "GATE_TBL")
        sink._delete_epoch(spark, 0)  # table exists: delete runs clean
        # A failing DELETE past the existence gate must raise: point a
        # sink at a real table whose epoch column is missing.
        st = conn.createStatement()
        st.executeUpdate("CREATE TABLE gate_tbl2 (id INT)")
        st.close()
        bad = JdbcEpochIdempotentSink(url, "gate_tbl2", {"driver": DERBY_DRIVER})
        with pytest.raises(Exception):
            bad._delete_epoch(spark, 0)
        # `_` must not act as a LIKE wildcard: MY1TBL existing must not
        # make my_tbl look present.
        st = conn.createStatement()
        st.executeUpdate("CREATE TABLE my1tbl (id INT)")
        st.close()
        assert not sink._table_exists(conn, "my_tbl")
        assert sink._table_exists(conn, "my1tbl")
        # Quoted (exact-case) identifiers probe their exact spelling.
        st = conn.createStatement()
        st.executeUpdate('CREATE TABLE "MyEvents" (id INT)')
        st.close()
        assert sink._table_exists(conn, '"MyEvents"')
        assert not sink._table_exists(conn, '"myevents"')
        # A same-named table in ANOTHER schema must not count: the
        # unqualified DELETE resolves in the current schema only.
        st = conn.createStatement()
        st.executeUpdate("CREATE SCHEMA elsewhere")
        st.executeUpdate("CREATE TABLE elsewhere.gate3 (id INT)")
        st.close()
        assert not sink._table_exists(conn, "gate3")
        assert sink._table_exists(conn, "elsewhere.gate3")
    finally:
        conn.close()


def test_bounded_admission_caps_every_micro_batch(spark, tmp_path):
    """T6 backpressure: with a 6-file backlog and maxFilesPerTrigger=2,
    the engine must process exactly 3 micro-batches of <= 20 rows each
    — never one giant catch-up batch — and lose nothing."""
    from nyc_data_pipeline_spark.streaming.ingest import (
        file_json_stream_bounded,
    )

    src = tmp_path / "bounded_src"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    for f in range(6):  # backlog exists BEFORE the query starts
        with open(src / f"f{f}.json", "w") as fh:
            for i in range(10):
                fh.write(json.dumps({"k": f, "v": i}) + "\n")

    batches = []
    q = (
        file_json_stream_bounded(spark, str(src), schema,
                                 max_files_per_trigger=2)
        .writeStream.foreachBatch(
            lambda bdf, bid: batches.append((bid, bdf.count()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    counts = [n for _bid, n in batches if n > 0]
    assert len(counts) == 3, batches
    assert all(n <= 20 for n in counts), batches
    assert sum(n for _bid, n in batches) == 60


def test_reference_topology_end_to_end(spark, sf_dir, tmp_path):
    """The reference's WHOLE pipeline chained as ONE proof
    (kafka_producer.py:51-65 wire serialization + spark_consumer.py:
    40-132 consume->parse->enrich->JDBC sink + streamlit.py:38-55
    dashboard SQL — each piece is separately driver-green; this test
    is the chained topology):

      fixture -> producer wire JSON (one message per line, 3 files)
      -> bounded-admission file stream (maxFilesPerTrigger=1)
      -> parse_wire_records -> trip synthesis + enrich_trips (P4-P13)
      -> epoch-idempotent Derby JDBC sink
      -> dashboard KPI GROUP BY executed BY the database

    and the dashboard frame must equal the KPIs computed in one batch
    pass over the raw fixture (all summed measures are exact integer
    micro-units, so equality is bitwise)."""
    from nyc_data_pipeline_spark.operators.enrichment import enrich_trips
    from nyc_data_pipeline_spark.sources.jdbc import (
        DERBY_DRIVER,
        derby_url,
        read_jdbc,
    )
    from nyc_data_pipeline_spark.streaming.batch_equiv import _WIRE_TS_FORMAT
    from nyc_data_pipeline_spark.streaming.ingest import parse_wire_records
    from nyc_data_pipeline_spark.streaming.sinks import (
        JdbcEpochIdempotentSink,
        start_foreach_batch,
    )

    # --- producer: events -> one JSON wire message per line, 3 files
    ev = load_table(spark, sf_dir, "events")
    wire_dir = str(tmp_path / "wire")
    (
        ev.select(
            F.to_json(
                F.struct(
                    "event_id",
                    "user_id",
                    "event_type",
                    "value",
                    F.date_format(
                        F.col("ts").cast("timestamp"), _WIRE_TS_FORMAT
                    ).alias("ts_str"),
                    F.get_json_object("props", "$.k")
                    .cast("int")
                    .alias("k"),
                )
            ).alias("value")
        )
        .repartition(3)
        .write.text(wire_dir)
    )

    # --- consumer: bounded admission, wire parse, trips, enrichment
    wire_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_str", T.StringType()),
            T.StructField("k", T.IntegerType()),
        ]
    )

    def to_kpi_rows(records):
        parsed = parse_wire_records(records, wire_schema)
        trips = (
            parsed.withColumn(
                "pickup_dt",
                F.to_timestamp(F.col("ts_str"), _WIRE_TS_FORMAT),
            )
            .withColumn(
                "dropoff_dt", F.expr("timestampadd(MINUTE, k, pickup_dt)")
            )
            .select(
                "event_id",
                "pickup_dt",
                "dropoff_dt",
                (F.col("value") / 10.0).alias("trip_distance"),
                F.col("value").alias("fare_amount"),
                (F.col("event_id") % 20).cast("double").alias("tip_amount"),
            )
        )
        return enrich_trips(trips).select(
            "event_id",
            "trip_category",
            F.floor(F.col("fare_amount") * 1_000_000)
            .cast("bigint")
            .alias("fare_micro"),
            F.floor(F.col("tip_amount") * 1_000_000)
            .cast("bigint")
            .alias("tip_micro"),
            F.floor(F.col("duration_min") * 1_000_000)
            .cast("bigint")
            .alias("dur_micro"),
        )

    stream = (
        spark.readStream.option("maxFilesPerTrigger", "1").text(wire_dir)
    )
    url = derby_url(str(tmp_path / "derby_e2e"))
    props = {"driver": DERBY_DRIVER}
    sink = JdbcEpochIdempotentSink(
        url, "trip_kpis", props, column_types="trip_category VARCHAR(10)"
    )
    q = start_foreach_batch(
        to_kpi_rows(stream), sink, str(tmp_path / "ckpt_e2e")
    )
    q.processAllAvailable()
    q.stop()
    # bounded admission: the 3-file backlog arrived as >= 3 epochs
    assert len(sink.batches_seen) >= 3

    # --- dashboard: the KPI GROUP BY runs IN the database
    kpi_sql = (
        'SELECT "trip_category" AS "trip_category", '
        'CAST(COUNT(*) AS BIGINT) AS "n", '
        'CAST(SUM("fare_micro") AS BIGINT) AS "sum_fare_micro", '
        'CAST(SUM("tip_micro") AS BIGINT) AS "sum_tip_micro", '
        'CAST(MIN("dur_micro") AS BIGINT) AS "min_dur_micro", '
        'CAST(MAX("dur_micro") AS BIGINT) AS "max_dur_micro" '
        'FROM trip_kpis GROUP BY "trip_category"'
    )
    got = {
        (r.trip_category, r.n, r.sum_fare_micro, r.sum_tip_micro,
         r.min_dur_micro, r.max_dur_micro)
        for r in read_jdbc(spark, url, kpi_sql, props).collect()
    }

    # --- referee: one batch pass over the raw fixture, same algebra
    batch_wire = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format(F.col("ts").cast("timestamp"), _WIRE_TS_FORMAT).alias(
            "ts_str"
        ),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    want = {
        (r.trip_category, r.n, r.sum_fare_micro, r.sum_tip_micro,
         r.min_dur_micro, r.max_dur_micro)
        for r in to_kpi_rows(
            batch_wire.select(F.to_json(F.struct("*")).alias("value"))
        )
        .groupBy("trip_category")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("fare_micro").cast("bigint").alias("sum_fare_micro"),
            F.sum("tip_micro").cast("bigint").alias("sum_tip_micro"),
            F.min("dur_micro").cast("bigint").alias("min_dur_micro"),
            F.max("dur_micro").cast("bigint").alias("max_dur_micro"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_shard_assignment_equals_batch(spark, sf_dir, tmp_path):
    """The training-shard map (shard = h1(doc_id), order = h2(doc_id))
    is a pure projection, so applying it inside a file stream must
    reproduce the batch export's assignment row-for-row — the property
    that lets a streaming ingest route documents onto the SAME shards
    a batch backfill wrote (pipelines/splits.py sample_shard_export)."""
    from nyc_data_pipeline_spark.pipelines.splits import _ORDER, _SHARD
    from nyc_data_pipeline_spark.streaming.ingest import file_json_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    src = tmp_path / "docs_in"
    docs.repartition(2).write.json(str(src))
    schema = T.StructType([T.StructField("doc_id", T.LongType())])
    stream = file_json_stream(spark, str(src), schema).selectExpr(
        "doc_id", f"{_SHARD} AS shard", f"{_ORDER} AS order_key"
    )
    q = run_to_memory(stream, "shard_out", output_mode="append")
    try:
        got = {
            r.doc_id: (r.shard, r.order_key)
            for r in spark.sql("SELECT * FROM shard_out").collect()
        }
    finally:
        q.stop()
    want = {
        r.doc_id: (r.shard, r.order_key)
        for r in docs.selectExpr(
            "doc_id", f"{_SHARD} AS shard", f"{_ORDER} AS order_key"
        ).collect()
    }
    assert got == want


def test_stream_zone_map_append_exactly_once(spark, sf_dir, tmp_path):
    """Streaming-lakehouse ingest: micro-batches commit versioned
    zone-map APPENDs (new files only, frozen v1 bounds), and the epoch
    ledger makes redelivery a no-op — after streaming all arrivals the
    latest manifest read equals the batch union, and replaying an
    already-committed epoch changes nothing (at-least-once delivery,
    exactly-once table state)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.plans.two_phase import range_buckets
    from nyc_data_pipeline_spark.sources.zonemap import (
        _orders_kcd,
        _zm_read_version,
        _zm_versioned_write,
        ZM_FILES,
    )
    from nyc_data_pipeline_spark.streaming.ingest import (
        file_json_stream_bounded,
    )
    from nyc_data_pipeline_spark.streaming.sinks import (
        ZoneMapAppendSink,
        start_foreach_batch,
    )

    base_all = _orders_kcd(spark, sf_dir)
    base = base_all.filter(F.col("k") % 5 != 0)
    arrivals = base_all.filter(F.col("k") % 5 == 0)
    table_dir = str(tmp_path / "zm_stream")
    lo, hi = base.agg(F.min("day"), F.max("day")).collect()[0]
    b1 = range_buckets(base, "day", ZM_FILES).withColumnRenamed(
        "bucket", "zb"
    ).drop("lo", "hi")
    _zm_versioned_write(
        b1, table_dir, 1, [str(z) for z in range(ZM_FILES)], None, (lo, hi)
    )

    src = tmp_path / "arrivals"
    arrivals.repartition(3).write.json(str(src))
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("day", T.LongType()),
        ]
    )
    stream = file_json_stream_bounded(
        spark, str(src), schema, max_files_per_trigger=1
    )
    sink = ZoneMapAppendSink(spark, table_dir)
    q = start_foreach_batch(
        stream, sink, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ledger = _json.load(open(_os.path.join(table_dir, "epoch-ledger.json")))
    latest = max(int(v) for v in ledger.values())
    assert latest >= 3  # one commit per non-empty micro-batch
    got = (
        _zm_read_version(spark, table_dir, latest)
        .agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
        .collect()[0]
    )
    want = base_all.agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    ).collect()[0]
    assert (got.n, got.s) == (want.n, want.s)
    # redeliver an already-committed epoch: MUST be a no-op
    replay_epoch = int(next(iter(ledger)))
    sink(arrivals.limit(50), replay_epoch)
    ledger2 = _json.load(
        open(_os.path.join(table_dir, "epoch-ledger.json"))
    )
    assert ledger2 == ledger
    got2 = (
        _zm_read_version(spark, table_dir, latest)
        .agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
        .collect()[0]
    )
    assert (got2.n, got2.s) == (got.n, got.s)


def test_stream_mor_cdc_exactly_once(spark, sf_dir, tmp_path):
    """CDC change stream → merge-on-read commits (VERDICT r8 ask #2):
    the three stream_cdc_upsert waves arrive as micro-batches, each
    committed as one DV+append epoch by MorCdcSink; after draining, the
    latest manifest read equals the one-shot batch merge
    (stream == batch), and BOTH redelivery paths commit nothing — the
    same epoch id (ledger no-op) and a stale wave under a NEW epoch id
    (its lower-version DV cannot out-shadow the delete's)."""
    import json as _json
    import os as _os

    import pyspark.sql.types as T
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.streaming.ingest import (
        file_json_stream_bounded,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        MorCdcSink,
        _doc_waves,
        mor_cdc_init,
        mor_cdc_read,
    )
    from nyc_data_pipeline_spark.streaming.sinks import start_foreach_batch

    load_all()
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table_dir = str(tmp_path / "mor_cdc_stream")
    mor_cdc_init(spark, d.withColumn("version", F.lit(0)), table_dir, "doc_id")

    waves = _doc_waves(d)
    src = tmp_path / "cdc_in"
    for w in waves:
        w.coalesce(1).write.mode("append").json(str(src))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("version", T.IntegerType()),
            T.StructField("op", T.StringType()),
        ]
    )
    stream = file_json_stream_bounded(
        spark, str(src), schema, max_files_per_trigger=1
    )
    sink = MorCdcSink(spark, table_dir)
    q = start_foreach_batch(stream, sink, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ledger = _json.load(open(_os.path.join(table_dir, "epoch-ledger.json")))
    latest = sink.latest_version()
    assert latest == 4  # v1 base + one commit per wave

    def snapshot(version):
        rows = mor_cdc_read(spark, table_dir, version).collect()
        snap = {r.doc_id: (r.lang, r.n_chars, r.version) for r in rows}
        # ROW-convergence: duplicate copies of a key would collapse in
        # the dict — assert none survive the read rule (ADVICE r9).
        assert len(rows) == len(snap), f"duplicate rows at v{version}"
        return snap

    got = snapshot(latest)
    want = {
        r.doc_id: (r.lang, r.n_chars, r.version)
        for r in QUERIES["stream_mor_cdc"](spark, sf_dir).collect()
    }
    assert got == want

    # redelivery path 1: same epoch id → ledger no-op, nothing written
    replay_epoch = int(next(iter(ledger)))
    sink(waves[0].limit(50), replay_epoch)
    assert _json.load(
        open(_os.path.join(table_dir, "epoch-ledger.json"))
    ) == ledger
    assert snapshot(latest) == got

    # redelivery path 2: a STALE wave under a NEW epoch id — the
    # commit happens (new version) but the table state converges to
    # the same fixpoint: wave 1's lower-version changes cannot
    # resurrect wave 2's deletions or out-shadow wave 3's updates.
    sink(waves[0], max(int(k) for k in ledger) + 1)
    assert sink.latest_version() == 5
    assert snapshot(5) == got

    # compaction: freeze DVs + multi-file buckets into clean files —
    # the compacted read equals the pre-compaction read and the new
    # manifest carries no vectors and one file per occupied bucket.
    from nyc_data_pipeline_spark.streaming.mor_cdc import mor_cdc_compact

    m6 = mor_cdc_compact(spark, table_dir, 5)
    assert m6["dvs"] == [] and m6["compacted_from"] == 5
    assert all(len(entries) == 1 for entries in m6["files"].values())
    assert snapshot(6) == got

    # redelivery path 3: a stale wave under a NEW epoch id AFTER
    # compaction dropped the per-epoch vectors — the dv_floor frozen
    # by the compaction must keep shadowing it (without the floor,
    # wave 1's stale copies would resurrect rows that wave 2 deleted
    # and out-shadow nothing, breaking both row counts and values)
    assert m6["dv_floor"]
    sink(waves[0], max(int(k) for k in ledger) + 2)
    assert sink.latest_version() == 7
    assert snapshot(7) == got


def test_stream_ivm_change_feed_equals_batch(spark, sf_dir, tmp_path):
    """The change feed consumed as a STREAM maintains the grouped view
    incrementally: feed rows arrive in micro-batches (any chunking),
    each epoch folds only its deltas into the view (O(changes), the
    table itself never re-read), and the drained view equals both the
    one-shot IVM query and the direct v2 aggregate its oracle
    computes.  Delta folding is associative addition, so chunk
    boundaries cannot change the fixpoint."""
    import os as _os

    import pyspark.sql.types as T
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    from nyc_data_pipeline_spark.sources.zonemap import (
        IVM_GRP_MOD,
        _zm_read_version,
        change_feed_from,
        merge_zone_map_cow,
    )
    from nyc_data_pipeline_spark.streaming.ingest import (
        file_json_stream_bounded,
    )

    load_all()
    table_dir = scratch_dir("zm_merge", sf_dir)
    if not _os.path.exists(_os.path.join(table_dir, "manifest-v2.json")):
        merge_zone_map_cow(spark, sf_dir).collect()
    grp = lambda c: (F.col(c) % IVM_GRP_MOD).cast("bigint")  # noqa: E731
    view = {
        r["grp"]: [r["n_rows"], r["sum_cents"]]
        for r in _zm_read_version(spark, table_dir, 1)
        .groupBy(grp("k").alias("grp"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .collect()
    }
    feed_dir = tmp_path / "feed_in"
    change_feed_from(spark, table_dir).repartition(3).write.json(
        str(feed_dir)
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("change", T.StringType()),
            T.StructField("pre_cents", T.LongType()),
            T.StructField("post_cents", T.LongType()),
        ]
    )

    def fold(batch_df, _epoch):
        deltas = (
            batch_df.groupBy(grp("k").alias("grp"))
            .agg(
                F.sum(
                    F.when(F.col("change") == "insert", 1)
                    .when(F.col("change") == "delete", -1)
                    .otherwise(0)
                ).alias("dn"),
                F.sum(
                    F.coalesce("post_cents", F.lit(0))
                    - F.coalesce("pre_cents", F.lit(0))
                ).alias("dc"),
            )
            .collect()
        )
        for r in deltas:
            cur = view.setdefault(r["grp"], [0, 0])
            cur[0] += r["dn"]
            cur[1] += r["dc"]

    q = (
        file_json_stream_bounded(
            spark, str(feed_dir), schema, max_files_per_trigger=1
        )
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = {
        r["grp"]: [r["n_rows"], r["sum_cents"]]
        for r in QUERIES["ivm_change_feed_agg"](spark, sf_dir).collect()
    }
    assert view == want


def test_stream_mor_cdc_schema_evolution(spark, sf_dir, tmp_path):
    """Add-column evolution mid-stream (VERDICT r9 ask #6): the waves
    arrive as micro-batches where wave 2 carries a NEW `score` column;
    MorCdcSink commits it as an ordinary DV+append epoch.  After
    draining: the table equals the batch twin row-for-row, the
    manifest records the added column, time travel to the
    pre-evolution version has NO score column, and a redelivered
    epoch (same id) plus a stale wave under a NEW epoch id both leave
    the table row-convergent."""
    import json as _json
    import os as _os

    import pyspark.sql.types as T
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.streaming.ingest import (
        file_json_stream_bounded,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        MorCdcSink,
        _evolve_waves,
        mor_cdc_init,
        mor_cdc_read,
    )
    from nyc_data_pipeline_spark.streaming.sinks import start_foreach_batch

    load_all()
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table_dir = str(tmp_path / "mor_cdc_evolve_stream")
    mor_cdc_init(spark, d.withColumn("version", F.lit(0)), table_dir, "doc_id")

    waves = _evolve_waves(d)
    src = tmp_path / "cdc_evolve_in"
    ckpt = str(tmp_path / "ckpt_evolve")
    narrow_fields = [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("version", T.IntegerType()),
        T.StructField("op", T.StringType()),
    ]
    narrow = T.StructType(narrow_fields)
    wide = T.StructType(
        narrow_fields + [T.StructField("score", T.LongType())]
    )
    sink = MorCdcSink(spark, table_dir)
    # phase 1: wave 1 flows under the ORIGINAL reader schema
    waves[0].coalesce(1).write.mode("append").json(str(src))
    q = start_foreach_batch(
        file_json_stream_bounded(spark, str(src), narrow,
                                 max_files_per_trigger=1),
        sink, ckpt,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the migration: upstream payload grew a field — land the evolved
    # and post-evolution waves, RESTART the query on the SAME
    # checkpoint with the widened (nullable) schema; offsets resume,
    # already-processed files are not re-read
    for w in waves[1:]:
        w.coalesce(1).write.mode("append").json(str(src))
    q = start_foreach_batch(
        file_json_stream_bounded(spark, str(src), wide,
                                 max_files_per_trigger=1),
        sink, ckpt,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    latest = sink.latest_version()
    assert latest == 4

    def snapshot(version):
        rows = mor_cdc_read(spark, table_dir, version).collect()
        snap = {
            r.doc_id: (r.lang, r.n_chars, r.version, r.score)
            for r in rows
        }
        assert len(rows) == len(snap), f"duplicate rows at v{version}"
        return snap

    got = snapshot(latest)
    want = {
        r.doc_id: (r.lang, r.n_chars, r.version, r.score)
        for r in QUERIES["stream_mor_cdc_evolve"](spark, sf_dir).collect()
    }
    assert got == want
    # evolution bookkeeping: the manifest names the added column...
    with open(_os.path.join(table_dir, "manifest-v3.json")) as f:
        m3 = _json.load(f)
    assert m3["columns_added"] == ["score"]
    # ...and time travel to BEFORE the evolution never sees it
    pre = mor_cdc_read(spark, table_dir, 2)
    assert "score" not in pre.columns

    # redelivery path 1: same epoch id commits nothing
    ledger = _json.load(open(_os.path.join(table_dir, "epoch-ledger.json")))
    sink(waves[1].limit(20), int(next(iter(ledger))))
    assert snapshot(latest) == got
    # redelivery path 2: stale EVOLVED wave under a new epoch id —
    # commit happens, table state row-converges to the same fixpoint
    sink(waves[1], max(int(k) for k in ledger) + 1)
    assert sink.latest_version() == 5
    assert snapshot(5) == got


def test_stream_ivm_join_view_equals_batch(spark, sf_dir, tmp_path):
    """The JOIN-view IVM under STREAMED feeds: both tables' change
    feeds arrive interleaved in arbitrary micro-batch chunks; each
    epoch folds  γ_seg(ΔAᵢ ⋈ Bᵢ) + ΔBᵢ ⋈ V_c(i-1)  and then advances
    the auxiliary state (V_c += γ_c(ΔAᵢ), B += ΔBᵢ).  Within an epoch
    the dim side is POST-change and the customer-level auxiliary is
    PRE-change — the exact bag algebra, so ANY chunking converges to
    the one-shot `ivm_join_view` fixpoint, which its oracle ties to a
    full recompute."""
    import pyspark.sql.types as T
    from nyc_data_pipeline_spark.operators.incremental import (
        _ivm_a1,
        _ivm_b1,
        _ivm_delta_a,
        _ivm_delta_b,
    )
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.streaming.ingest import (
        file_json_stream_bounded,
    )

    load_all()
    a1 = _ivm_a1(spark, sf_dir)
    b1 = _ivm_b1(spark, sf_dir)

    # driver-side state: the dim table as a WEIGHTED multiset (a move
    # pair may straddle epochs, so c can transiently carry two
    # segments — plain dict semantics would corrupt on the straddle),
    # the per-customer auxiliary, and the segment view (small at
    # fixture scale; each is the artifact a cluster deployment would
    # keep as parquet)
    b_state = {r["c"]: {r["segment"]: 1} for r in b1.collect()}
    cust_view = {
        r["c"]: [r["n"], r["s"]]
        for r in a1.groupBy("c")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
        .collect()
    }
    seg_view = {}
    for c, (n, s) in cust_view.items():
        seg = next(iter(b_state[c]))
        cur = seg_view.setdefault(seg, [0, 0])
        cur[0] += n
        cur[1] += s

    # interleave both feeds, tagged, chunked into 4 arbitrary files
    feed = (
        _ivm_delta_a(a1)
        .select(
            F.lit("a").alias("src"), "k", "c", "cents",
            F.lit(None).cast("string").alias("segment"), "w",
        )
        .unionByName(
            _ivm_delta_b(b1).select(
                F.lit("b").alias("src"),
                F.lit(None).cast("long").alias("k"),
                "c",
                F.lit(None).cast("long").alias("cents"),
                "segment",
                "w",
            )
        )
    )
    feed_dir = tmp_path / "ivm_join_feed"
    feed.repartition(4).write.json(str(feed_dir))
    schema = T.StructType(
        [
            T.StructField("src", T.StringType()),
            T.StructField("k", T.LongType()),
            T.StructField("c", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("segment", T.StringType()),
            T.StructField("w", T.IntegerType()),
        ]
    )

    def fold(batch_df, _epoch):
        rows = batch_df.collect()
        da = [r for r in rows if r["src"] == "a"]
        db = [r for r in rows if r["src"] == "b"]
        # advance the dim FIRST (term 1 joins the post-change B)
        for r in db:
            segs = b_state.setdefault(r["c"], {})
            segs[r["segment"]] = segs.get(r["segment"], 0) + r["w"]
        # term 2: ΔB against the PRE-epoch customer auxiliary
        for r in db:
            nc = cust_view.get(r["c"])
            if nc:
                cur = seg_view.setdefault(r["segment"], [0, 0])
                cur[0] += r["w"] * nc[0]
                cur[1] += r["w"] * nc[1]
        # term 1: ΔA against the post-change dim (all weighted rows —
        # bag semantics)
        for r in da:
            for seg, wt in b_state.get(r["c"], {}).items():
                if wt:
                    cur = seg_view.setdefault(seg, [0, 0])
                    cur[0] += r["w"] * wt
                    cur[1] += r["w"] * wt * r["cents"]
        # advance the customer auxiliary for later epochs
        for r in da:
            nc = cust_view.setdefault(r["c"], [0, 0])
            nc[0] += r["w"]
            nc[1] += r["w"] * r["cents"]

    q = (
        file_json_stream_bounded(
            spark, str(feed_dir), schema, max_files_per_trigger=1
        )
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {s: tuple(v) for s, v in seg_view.items() if v[0] > 0}
    want = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in QUERIES["ivm_join_view"](spark, sf_dir).collect()
    }
    assert got == want


def _mk_cdc_table(spark, tmp_path, name, n_keys=400, n_files=8):
    """A fresh MOR CDC table over synthetic keyed rows 0..n_keys-1
    (payload = key*10), range-clustered into n_files buckets."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import mor_cdc_init

    base = spark.range(n_keys).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("cents"),
        F.lit(0).alias("version"),
    )
    table_dir = str(tmp_path / name)
    mor_cdc_init(spark, base, table_dir, "k", n_files=n_files)
    return table_dir


def test_change_feed_prunes_pre_image_to_churned_buckets(spark, tmp_path):
    """VERDICT r10 ask #1: the feed's pre-image leg must read ONLY the
    buckets the commit's DV sidecar names, pruned at the MANIFEST (no
    FileScan ever built for an untouched bucket).  A wave churning
    only the lowest quarter of the key range (buckets 0-1 of 8) must
    leave v1's zb=2..7 directories out of the feed's input files —
    asserted on `inputFiles()`, the physical scan set — while the
    feed rows themselves stay exact."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_commit,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_prune")
    # churn keys 0..99 of 0..399: buckets 0 and 1 only (50 keys/bucket)
    wave = (
        spark.range(100)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 1).alias("cents"),
            F.lit(1).alias("version"),
            F.when(F.col("id") % 5 == 0, F.lit("d"))
            .otherwise(F.lit("u"))
            .alias("op"),
        )
    )
    mor_cdc_commit(spark, wave, table_dir, 2)
    feed = mor_cdc_change_feed(spark, table_dir, 2)
    v1_files = [p for p in feed.inputFiles() if "/v1/" in p]
    assert v1_files, "feed must read some v1 pre-image files"
    churned = {"zb=0", "zb=1"}
    for p in v1_files:
        zb = next(s for s in p.split("/") if s.startswith("zb="))
        assert zb in churned, f"unpruned pre-image scan: {p}"
    rows = {r["k"]: (r["change"], r["pre_cents"], r["post_cents"])
            for r in feed.collect()}
    assert len(rows) == 100
    for k in range(100):
        if k % 5 == 0:
            assert rows[k] == ("delete", k * 10, None)
        else:
            assert rows[k] == ("update", k * 10, k * 10 + 1)


def test_change_feed_insert_only_commit_empty_pre_image(spark, tmp_path):
    """An insert-only commit whose keys route past the frozen upper
    bound (edge bucket) must classify every feed row as INSERT even
    when the churned bucket holds no prior rows for those keys — and
    a commit into a bucket with NO v1 presence at all must survive
    the zb_filter returning an empty (but correctly-typed) pre-image
    frame rather than crashing."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_commit,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_insert_only")
    wave = spark.range(1000, 1050).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("cents"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave, table_dir, 2)
    feed = mor_cdc_change_feed(spark, table_dir, 2).collect()
    assert len(feed) == 50
    assert all(r["change"] == "insert" for r in feed)
    assert all(r["pre_cents"] is None for r in feed)
    # the degenerate zb_filter (a bucket with no manifest entry at
    # all) must yield an EMPTY, correctly-typed frame, not a crash
    from nyc_data_pipeline_spark.streaming.mor_cdc import mor_cdc_read

    empty = mor_cdc_read(spark, table_dir, 1, zb_filter={"99"})
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "cents", "version"}


def test_change_feed_retention_contract(spark, tmp_path):
    """VERDICT r10 ask #3: change feeds are readable only within the
    vacuum-retained window — readable AT the floor, a loud NAMED
    error past it (never an opaque FileNotFoundError mid-plan)."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        ChangeFeedRetentionError,
        mor_cdc_change_feed,
        mor_cdc_commit,
        mor_cdc_vacuum,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_retention")
    for v, mod in ((2, 3), (3, 4), (4, 6)):
        wave = (
            spark.range(400)
            .filter(F.col("id") % mod == 0)
            .select(
                F.col("id").alias("k"),
                (F.col("id") * 10 + v).alias("cents"),
                F.lit(v - 1).alias("version"),
                F.lit("u").alias("op"),
            )
        )
        mor_cdc_commit(spark, wave, table_dir, v)
    # before vacuum: every commit's feed is readable
    pre_counts = {
        v: mor_cdc_change_feed(spark, table_dir, v).count()
        for v in (2, 3, 4)
    }
    assert pre_counts == {2: 134, 3: 100, 4: 67}
    # vacuum retaining the 2 newest manifests (v3, v4): the feed FLOOR
    # is v4 (pre-image manifest v3 retained); v3's pre-image manifest
    # (v2) is reclaimed, so v3 and v2 are past the floor
    mor_cdc_vacuum(table_dir, latest=4, retain=2)
    assert mor_cdc_change_feed(spark, table_dir, 4).count() == 67
    for past in (2, 3):
        with pytest.raises(ChangeFeedRetentionError):
            mor_cdc_change_feed(spark, table_dir, past)


def test_change_feed_vacuum_race_raises_retention_error(
    spark, tmp_path, monkeypatch
):
    """ADVICE r16 #4: a vacuum that reclaims the commit's sidecar or
    pre-image manifest between the feed's retention check and its DV
    context read surfaces as the named ChangeFeedRetentionError, never
    a bare KeyError."""
    from nyc_data_pipeline_spark.streaming import mor_cdc
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        ChangeFeedRetentionError,
        mor_cdc_change_feed,
        mor_cdc_commit,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_toctou", n_keys=40)
    wave = spark.range(40).filter(F.col("id") % 3 == 0).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 1).alias("cents"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave, table_dir, 2)
    # the context read happens after the retention check passed; a
    # concurrent vacuum makes it come back without this version
    monkeypatch.setattr(
        mor_cdc, "_feed_dv_context", lambda spark, table_dir, vs: {}
    )
    with pytest.raises(ChangeFeedRetentionError):
        mor_cdc_change_feed(spark, table_dir, 2)


def test_change_feed_stable_under_compaction(spark, tmp_path):
    """VERDICT r10 ask #6: compaction rewrites history files but must
    not disturb the feed — feed(v) byte-identical before/after
    compaction for every retained v (sidecars and prior manifests are
    untouched by OPTIMIZE), the compaction commit itself feeds EMPTY
    (it changes no rows — Delta CDF semantics for OPTIMIZE), and
    vacuuming to the compacted version flips the older feeds to the
    retention error."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        ChangeFeedRetentionError,
        mor_cdc_change_feed,
        mor_cdc_commit,
        mor_cdc_compact,
        mor_cdc_vacuum,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_feed_compact")
    for v, (mod, op) in ((2, (3, "u")), (3, (4, "d")), (4, (6, "u"))):
        wave = (
            spark.range(400)
            .filter(F.col("id") % mod == 0)
            .select(
                F.col("id").alias("k"),
                (F.col("id") * 10 + v).alias("cents"),
                F.lit(v - 1).alias("version"),
                F.lit(op).alias("op"),
            )
        )
        mor_cdc_commit(spark, wave, table_dir, v)

    def feeds():
        return {
            v: sorted(
                map(tuple, mor_cdc_change_feed(spark, table_dir, v).collect())
            )
            for v in (2, 3, 4)
        }

    before = feeds()
    mor_cdc_compact(spark, table_dir, 4)
    assert feeds() == before
    # the OPTIMIZE commit carries no logical changes: empty feed with
    # the table's feed schema
    feed5 = mor_cdc_change_feed(spark, table_dir, 5)
    assert feed5.count() == 0
    assert set(feed5.columns) == {
        "commit", "k", "change", "pre_cents", "post_cents",
    }
    # vacuum to the compacted version: the data commits' feeds are now
    # past the retention floor and must raise the named error
    mor_cdc_vacuum(table_dir, latest=5, retain=1)
    assert mor_cdc_change_feed(spark, table_dir, 5).count() == 0
    for past in (2, 3, 4):
        with pytest.raises(ChangeFeedRetentionError):
            mor_cdc_change_feed(spark, table_dir, past)


def test_mor_cdc_read_single_dv_scan(spark, tmp_path):
    """The CDC read plans NO scan of the delete-vector sidecars: their
    shadow ceiling is folded on the driver and enters the plan as ONE
    LocalTableScan over all three commits' vectors, not a scan or union
    branch per commit — so a 100-commit span between compactions still
    plans 1 shadow leaf.  Values are re-asserted so the commit taken
    from the manifest provably drives the tie-break."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_read,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_dv_scan")
    for v, mod in ((2, 3), (3, 4), (4, 6)):
        wave = (
            spark.range(400)
            .filter(F.col("id") % mod == 0)
            .select(
                F.col("id").alias("k"),
                (F.col("id") * 10 + v).alias("cents"),
                F.lit(v - 1).alias("version"),
                F.lit("u").alias("op"),
            )
        )
        mor_cdc_commit(spark, wave, table_dir, v)
    df = mor_cdc_read(spark, table_dir, 4)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "FileScan json" not in plan, plan[:2000]
    assert plan.count("LocalTableScan") == 1, plan[:2000]
    rows = {r["k"]: (r["cents"], r["version"]) for r in df.collect()}
    assert len(rows) == 400
    # keep-latest: k=12 hit by all three waves -> wave 3 wins
    assert rows[12] == (124, 3)
    assert rows[3] == (32, 1)     # wave 1 only
    assert rows[4] == (43, 2)     # waves 2 (and not 3)
    assert rows[1] == (10, 0)     # untouched base row


def test_mor_cdc_empty_read_schema_from_highest_commit(spark, tmp_path):
    """When zb_filter excludes every manifest entry, the empty read's
    schema must come from a file of the HIGHEST commit present: under
    add-column evolution an older file is missing columns the
    committed schema has (ADVICE r11), and the dict-ordered
    `files[...][0]` entry is always a v1 file."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_read,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_empty_schema")
    # evolution commit: adds `extra` — only its files carry the column
    wave = spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 1).alias("cents"),
        F.lit("x").alias("extra"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave, table_dir, 2)
    empty = mor_cdc_read(spark, table_dir, 2, zb_filter={"no-such-zb"})
    assert empty.count() == 0
    assert "extra" in empty.columns, empty.columns


def test_feed_accumulates_no_checkpoint_blocks(spark, tmp_path):
    """The feed derivation must leave NO storage blocks behind (the
    r16 successor to the ADVICE-r11 release contract): the DV context
    now arrives as a collected local relation instead of eagerly
    checkpointed sidecar scans, so a catch-up loop accumulates zero
    blocks by construction."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_commit,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_release")
    wave = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 1).alias("cents"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave, table_dir, 2)
    jsc = spark.sparkContext._jsc.sc()
    before = {r.id() for r in jsc.getRDDStorageInfo()}
    feed = mor_cdc_change_feed(spark, table_dir, 2)
    assert feed.count() == 60
    after = {r.id() for r in jsc.getRDDStorageInfo()}
    assert after <= before, (before, after)  # no new storage blocks


def _mk_floor_table(spark, tmp_path, name):
    """A MOR CDC table whose head sits two commits past a compaction:
    v2, v3 data commits, v4 the compaction (its `dv_floor` freezes the
    v2/v3 vectors), v5 and v6 data commits with upserts and deletes."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_compact,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, name)

    def wave(v, mod):
        return spark.range(400).filter(F.col("id") % mod == 0).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + v).alias("cents"),
            F.lit(v).alias("version"),
            F.when(F.col("id") % (2 * mod) == 0, "d")
            .otherwise("u")
            .alias("op"),
        )

    mor_cdc_commit(spark, wave(1, 3), table_dir, 2)
    mor_cdc_commit(spark, wave(2, 5), table_dir, 3)
    mor_cdc_compact(spark, table_dir, 3)
    mor_cdc_commit(spark, wave(3, 7), table_dir, 5)
    mor_cdc_commit(spark, wave(4, 2), table_dir, 6)
    return table_dir


def _strip_file_schemas(table_dir):
    """Rewrite every manifest of the main chain without its recorded
    file schemas — the shape of a chain written before they existed."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import main_log

    log = main_log(table_dir)
    for v in log.versions():
        m = log.load(v)
        m.pop("file_schemas", None)
        log.publish(v, m)


def _table_snapshot(spark, table_dir, versions):
    """Per version: the read's dtypes and sorted rows, and the change
    feed's dtypes and sorted rows (commit 1 has no feed)."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_read,
    )

    out = {}
    for v in versions:
        read = mor_cdc_read(spark, table_dir, v)
        snap = [read.dtypes, sorted(map(tuple, read.collect()))]
        if v > 1:
            feed = mor_cdc_change_feed(spark, table_dir, v)
            snap += [
                feed.dtypes,
                sorted(map(tuple, feed.collect()), key=repr),
            ]
        out[v] = snap
    return out


def test_mor_read_and_feed_build_launch_no_spark_jobs(spark, tmp_path):
    """Building a MOR read or change feed is metadata work only: the
    recorded file schemas spare the footer-inference job per commit
    directory, and the feed's DV context (sidecars + compaction floor)
    is parsed on the driver — so the build launches 0 Spark jobs,
    counted through a job group.  Collecting still runs jobs in the
    same probe, so the count is not vacuous."""
    import uuid

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_change_feed_span,
        mor_cdc_read,
    )

    table_dir = _mk_floor_table(spark, tmp_path, "cdc_no_jobs")
    sc = spark.sparkContext

    def jobs_of(fn):
        group = f"mor-build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "MOR build probe")
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    built, n_build = jobs_of(lambda: [
        mor_cdc_read(spark, table_dir, 6),
        mor_cdc_read(spark, table_dir, 6, key_range=(0, 99)),
        mor_cdc_change_feed(spark, table_dir, 6),
        mor_cdc_change_feed(spark, table_dir, 5),  # floor as prior
        mor_cdc_change_feed(spark, table_dir, 4),  # compaction: empty
        mor_cdc_change_feed_span(spark, table_dir, 1, 6),
    ])
    assert n_build == 0
    _, n_collect = jobs_of(lambda: [df.count() for df in built])
    assert n_collect > 0


def test_feed_context_reads_each_shadow_source_once(
    spark, tmp_path, monkeypatch
):
    """The span's ceilings fold in ascending version order with one
    running per-key ceiling: every sidecar and the compaction floor
    is read exactly once for the whole span, and a compaction resets
    the ceiling to its floor instead of carrying older vectors."""
    from nyc_data_pipeline_spark.streaming import mor_cdc

    table_dir = _mk_floor_table(spark, tmp_path, "cdc_fold_once")
    reads = []
    real_sidecar, real_shadow = mor_cdc._sidecar_keys, mor_cdc._shadow_pairs

    def sidecar(path):
        reads.append(path)
        return real_sidecar(path)

    def shadow(path, commit):
        if commit is None:  # the floor; sidecars count in _sidecar_keys
            reads.append(path)
        return real_shadow(path, commit)

    monkeypatch.setattr(mor_cdc, "_sidecar_keys", sidecar)
    monkeypatch.setattr(mor_cdc, "_shadow_pairs", shadow)
    ctx = mor_cdc._feed_dv_context(spark, table_dir, [6, 5, 4, 3, 2])
    assert sorted(ctx) == [2, 3, 5, 6]  # v4 (compaction) feeds empty
    assert len(reads) == len(set(reads)) == 5  # 4 sidecars + 1 floor
    # the v6 key table is cut against v5's sidecar + the floor only
    monkeypatch.undo()
    alone = mor_cdc._feed_dv_context(spark, table_dir, [6])
    assert sorted(map(tuple, ctx[6][0].collect())) == sorted(
        map(tuple, alone[6][0].collect())
    )
    assert ctx[6][1] == alone[6][1]


def _read_by_spark_derivation(spark, m):
    """Manifest `m`'s table state derived in Spark alone, the reference
    for the driver-folded shadow ceiling: every manifest-listed data
    directory tagged with the commit that wrote it, ONE json scan over
    every DV sidecar with the commit recovered from the directory name
    (`dv-v{N}`, `dv-v{N}-{token}`, `dv-v{N}-{branch}-{token}`), the
    compaction floor's rows, a per-key `max(struct(v, _commit))`
    aggregate, and a left join keeping each row at or above it."""
    from functools import reduce

    from nyc_data_pipeline_spark.streaming.mor_cdc import DV_SIDECAR_SCHEMA

    by_commit = {}
    for entries in m["files"].values():
        for e in entries:
            by_commit.setdefault(e["v"], []).append(e["path"])
    rows = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [
            spark.read.parquet(*paths).withColumn(
                "_commit", F.lit(v).cast("long")
            )
            for v, paths in sorted(by_commit.items())
        ],
    )
    dv = []
    if m["dvs"]:
        dv.append(
            spark.read.schema(DV_SIDECAR_SCHEMA)
            .json([d["path"] for d in m["dvs"]])
            .select(
                "k",
                F.col("v").cast("long").alias("v"),
                F.regexp_extract(F.input_file_name(), r"dv-v(\d+)[-/]", 1)
                .cast("long")
                .alias("_commit"),
            )
        )
    if m.get("dv_floor"):
        dv.append(
            spark.read.parquet(m["dv_floor"]).select(
                "k",
                F.col("v").cast("long").alias("v"),
                F.col("_commit").cast("long").alias("_commit"),
            )
        )
    if not dv:
        return rows.drop("_commit")
    shadow = reduce(lambda a, b: a.unionByName(b), dv).groupBy("k").agg(
        F.max(F.struct("v", "_commit")).alias("_max_dv")
    )
    return (
        rows.join(shadow, "k", "left")
        .filter(
            F.col("_max_dv").isNull()
            | (
                F.col("_max_dv")
                <= F.struct(
                    F.col("version").cast("long").alias("v"),
                    F.col("_commit"),
                )
            )
        )
        .drop("_max_dv", "_commit")
    )


def _feed_by_old_derivation(spark, table_dir, v):
    """Commit v's feed rows derived in Spark alone, the reference for
    the driver-resolved shadow: the change keys are the keys whose max
    version in v's sidecar exceeds their max over the prior sidecars
    and the floor (Spark aggregates over the manifest-listed files),
    the pre-image is the Spark-derived v-1 read
    (`_read_by_spark_derivation`) semi-joined to them, the post-image
    the Spark-derived v read semi-joined to them, and the two are
    full-outer-joined."""
    from functools import reduce

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        DV_SIDECAR_SCHEMA,
        main_log,
    )

    log = main_log(table_dir)
    m = log.load(v)

    def sidecar(path):
        return spark.read.schema(DV_SIDECAR_SCHEMA).json(path).select(
            "k", "v"
        )

    own = next(d["path"] for d in m["dvs"] if d["v"] == v)
    keys = sidecar(own).groupBy("k").agg(F.max("v").alias("v"))
    priors = [sidecar(d["path"]) for d in m["dvs"] if d["v"] < v]
    if m.get("dv_floor"):
        priors.append(spark.read.parquet(m["dv_floor"]).select("k", "v"))
    if priors:
        ceiling = reduce(lambda a, b: a.unionByName(b), priors).groupBy(
            "k"
        ).agg(F.max("v").alias("cv"))
        keys = keys.join(ceiling, "k", "left").filter(
            F.col("cv").isNull() | (F.col("v") > F.col("cv"))
        )
    keys = keys.select("k")
    pre = _read_by_spark_derivation(spark, log.load(v - 1)).join(
        keys, "k", "left_semi"
    )
    post = _read_by_spark_derivation(spark, m).join(keys, "k", "left_semi")
    both = pre.select(
        "k", F.lit(1).alias("_pre"), F.col("cents").alias("pre_cents")
    ).join(
        post.select(
            "k", F.lit(1).alias("_post"), F.col("cents").alias("post_cents")
        ),
        "k",
        "full_outer",
    )
    return sorted(
        (
            v,
            r["k"],
            "delete" if r["_post"] is None
            else "insert" if r["_pre"] is None
            else "update",
            r["pre_cents"],
            r["post_cents"],
        )
        for r in both.collect()
    )


def test_feed_matches_full_read_derivation_across_commit_kinds(
    spark, tmp_path
):
    """The feed's driver-resolved pre-image shadow gives, row for row,
    what the full v{N-1} read semi-joined to the ceiling-filtered keys
    gives, across every way a DV commit number enters the chain: an
    exclusive commit (`dv-v{N}-{token}`), a WAP-published commit
    (`dv-v{N}-{branch}-{token}`), a stale wave redelivered under a new
    epoch id (two copies at one change version: the commit tie-break
    keeps the later), a compaction floor (its `_commit` as the shadow's
    commit), and all-stale commits (empty key tables).  The shadow's
    commit comes from the manifest's `dvs[].v`, so the directory name
    plays no part.  The same holds for the full read: `mor_cdc_read`
    at every version, and `wap_read` of a staged branch head, equal the
    Spark-only derivation that recovers each commit from its sidecar's
    directory name (`_read_by_spark_derivation`)."""
    from nyc_data_pipeline_spark.streaming import mor_cdc
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        main_log,
        mor_cdc_change_feed,
        mor_cdc_change_feed_span,
        mor_cdc_commit,
        mor_cdc_compact,
        mor_cdc_read,
        wap_publish,
        wap_read,
        wap_stage,
    )

    table_dir = _mk_cdc_table(
        spark, tmp_path, "cdc_feed_equiv", n_keys=120, n_files=4
    )

    def wave(ver, mod, del_mod):
        return spark.range(120).filter(F.col("id") % mod == 0).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + ver).alias("cents"),
            F.lit(ver).alias("version"),
            F.when(F.col("id") % del_mod == 0, "d").otherwise("u")
            .alias("op"),
        )

    mor_cdc_commit(spark, wave(1, 3, 9), table_dir, 2, exclusive=True)
    wap_stage(spark, wave(2, 4, 16), table_dir, "audit")
    wap_publish(table_dir, "audit")  # v3
    mor_cdc_commit(spark, wave(1, 3, 9), table_dir, 4)  # v2 redelivered
    mor_cdc_commit(spark, wave(3, 5, 25), table_dir, 5, exclusive=True)
    mor_cdc_compact(spark, table_dir, 5)  # v6: the floor
    mor_cdc_commit(spark, wave(3, 5, 25), table_dir, 7)  # v5 redelivered
    mor_cdc_commit(spark, wave(4, 3, 6), table_dir, 8, exclusive=True)

    log = main_log(table_dir)
    dvs = {d["v"]: os.path.basename(d["path"]) for d in log.load(8)["dvs"]}
    assert dvs[7] == "dv-v7" and dvs[8].startswith("dv-v8-")
    named = {
        d["v"]: os.path.basename(d["path"]) for d in log.load(5)["dvs"]
    }
    assert named[2].startswith("dv-v2-") and named[3].startswith(
        "dv-v3-audit-"
    )
    assert log.load(8)["dv_floor"]

    def rows_of(df):
        return sorted(map(tuple, df.select("k", "cents", "version").collect()))

    for v in range(1, 9):
        want = rows_of(_read_by_spark_derivation(spark, log.load(v)))
        assert rows_of(mor_cdc_read(spark, table_dir, v)) == want, v
    wap_stage(spark, wave(5, 7, 14), table_dir, "head")  # branch v9
    staged = mor_cdc._branch_log(table_dir, "head").load()
    assert rows_of(wap_read(spark, table_dir, "head")) == rows_of(
        _read_by_spark_derivation(spark, staged)
    )

    ctx = mor_cdc._feed_dv_context(spark, table_dir, list(range(2, 9)))
    assert sorted(ctx) == [2, 3, 4, 5, 7, 8]  # v6 (compaction) is empty
    assert ctx[4][0].count() == 0 and ctx[7][0].count() == 0  # all stale
    assert ctx[8][0].filter(F.col("_sc") == 6).count() > 0  # floor shadow
    assert ctx[5][0].filter(F.col("_sc") == 4).count() > 0  # tie-break
    want_all = []
    for v in (2, 3, 4, 5, 7, 8):
        want = _feed_by_old_derivation(spark, table_dir, v)
        got = sorted(
            tuple(r) for r in mor_cdc_change_feed(spark, table_dir, v)
            .select("commit", "k", "change", "pre_cents", "post_cents")
            .collect()
        )
        assert got == want, v
        assert bool(got) == (v not in (4, 7)), v
        want_all += want
    span = mor_cdc_change_feed_span(spark, table_dir, 1, 8).select(
        "commit", "k", "change", "pre_cents", "post_cents"
    )
    assert sorted(tuple(r) for r in span.collect()) == sorted(want_all)


def test_zb_stats_from_footers_match_spark_aggregate(spark, tmp_path):
    """The manifest zone stats, now read from the parquet footers on
    the driver, equal a Spark min/max/count over each listed file —
    at init, at a data commit and at a compaction.  A bucket whose
    footers carry no statistics keeps its row count and leaves out
    klo/khi (readers keep such entries)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        _zb_stats,
        main_log,
    )

    table_dir = _mk_floor_table(spark, tmp_path, "cdc_footer_stats")
    log = main_log(table_dir)
    checked = 0
    for v in (1, 2, 4, 6):
        for entries in log.load(v)["files"].values():
            for e in entries:
                if e["v"] != v:
                    continue
                r = spark.read.parquet(e["path"]).agg(
                    F.min("k"), F.max("k"), F.count("*")
                ).collect()[0]
                assert (e["klo"], e["khi"], e["rows"]) == tuple(r), e
                checked += 1
    assert checked > 8
    bare = tmp_path / "bare" / "zb=3"
    bare.mkdir(parents=True)
    pq.write_table(
        pa.table({"k": [5, 9, 7]}), bare / "part-0.parquet",
        write_statistics=False,
    )
    (bare / "_SUCCESS").write_text("")
    assert _zb_stats(str(tmp_path / "bare"), "k") == {"3": {"rows": 3}}


def test_manifest_without_file_schemas_reads_and_feeds_as_before(
    spark, tmp_path
):
    """A chain written before file schemas were recorded (the map
    removed from every manifest) falls back to footer inference and
    reads and feeds exactly what the recorded-schema chain does, at
    every version across the compaction floor."""
    table_dir = _mk_floor_table(spark, tmp_path, "cdc_no_file_schemas")
    recorded = _table_snapshot(spark, table_dir, range(1, 7))
    _strip_file_schemas(table_dir)
    assert _table_snapshot(spark, table_dir, range(1, 7)) == recorded


def test_recorded_file_schemas_across_rename_widen_add(spark, tmp_path):
    """Rename, widen and add across commits: each commit's files are
    read under the schema recorded when they were written, and every
    version reads and feeds back exactly as under footer inference —
    the renamed column keeps its values, the widened one reads bigint
    for old int files, the added one reads its default before the add
    and its values after."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        main_log,
        mor_cdc_add_column,
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
    )

    table_dir = str(tmp_path / "cdc_evolve_schemas")
    mor_cdc_init(
        spark,
        spark.range(200).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).cast("int").alias("cents"),
            F.lit(0).alias("version"),
        ),
        table_dir, "k",
    )

    def wave(v, mod, cols):
        return spark.range(200).filter(F.col("id") % mod == 0).select(
            F.col("id").alias("k"), *cols,
            F.lit(v).alias("version"), F.lit("u").alias("op"),
        )

    mor_cdc_commit(spark, wave(1, 3, [
        (F.col("id") * 10 + 1).cast("int").alias("cents"),
    ]), table_dir, 2)
    mor_cdc_rename_column(table_dir, "cents", "amount")  # v3
    mor_cdc_commit(spark, wave(2, 4, [
        (F.col("id") * 10 + 2).cast("int").alias("amount"),
    ]), table_dir, 4)
    mor_cdc_widen_column(table_dir, "amount", "bigint")  # v5
    mor_cdc_add_column(table_dir, "tag", "string", default="old")  # v6
    mor_cdc_commit(spark, wave(3, 5, [
        (F.col("id") * 10 + 3).alias("amount"),
        F.lit("new").alias("tag"),
    ]), table_dir, 7)
    m = main_log(table_dir).load(7)
    assert sorted(m["file_schemas"]) == ["1", "2", "4", "7"]
    assert m["file_schemas"]["1"] == [
        ["k", "bigint"], ["cents", "int"], ["version", "int"],
    ]
    recorded = _table_snapshot(spark, table_dir, range(1, 8))
    assert recorded[7][0] == [
        ("k", "bigint"), ("amount", "bigint"), ("version", "int"),
        ("tag", "string"),
    ]
    by_k = {r[0]: r for r in recorded[7][1]}
    assert by_k[1] == (1, 10, 0, "old")
    assert by_k[3] == (3, 31, 1, "old")
    assert by_k[8] == (8, 82, 2, "old")
    assert by_k[5] == (5, 53, 3, "new")
    assert len(by_k) == 200
    _strip_file_schemas(table_dir)
    assert _table_snapshot(spark, table_dir, range(1, 8)) == recorded


def test_feed_rejects_sidecar_routing_one_key_to_two_buckets(
    spark, tmp_path
):
    """zb is a function of the key (frozen-bounds routing), and the
    feed prunes pre-images to the buckets a sidecar names.  A sidecar
    that routes one key to two buckets is a broken dependency: the
    feed raises the named `BucketDependencyError` (a ValueError)
    instead of silently picking one bucket and dropping pre-images.
    The read folds the same sidecars on the driver and raises it too."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        BucketDependencyError,
        main_log,
        mor_cdc_change_feed,
        mor_cdc_commit,
        mor_cdc_read,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_zb_conflict")
    wave = spark.range(0, 400, 50).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 1).alias("cents"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave, table_dir, 2)
    assert mor_cdc_change_feed(spark, table_dir, 2).count() == 8
    dv_dir = main_log(table_dir).load(2)["dvs"][-1]["path"]
    for name in os.listdir(dv_dir):
        os.remove(os.path.join(dv_dir, name))
    with open(os.path.join(dv_dir, "part-00000.json"), "w") as f:
        f.write('{"zb":0,"k":50,"v":1}\n{"zb":0,"k":0,"v":1}\n')
        f.write('{"zb":5,"k":50,"v":1}\n')
    with pytest.raises(BucketDependencyError, match="key 50"):
        mor_cdc_change_feed(spark, table_dir, 2)
    with pytest.raises(BucketDependencyError, match="key 50"):
        mor_cdc_read(spark, table_dir, 2)
    assert issubclass(BucketDependencyError, ValueError)


def test_compaction_floor_written_on_driver_reads_like_spark_floor(
    spark, tmp_path
):
    """Compaction folds the shadow ceiling once on the driver: it feeds
    the live read and the floor, which pyarrow writes, so the rewrite
    is the compaction's only Spark work.  Compacting this table's head
    (two sidecars over an earlier floor) launched 6 jobs when the floor
    was a Spark sidecar scan, aggregate and write (4 cores, 4 shuffle
    partitions); it must launch fewer.  The floor keeps its on-disk schema, and a floor written by
    that Spark writer (reproduced here) reads and feeds exactly the
    same at every version, and a later compaction carries it."""
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        DV_SIDECAR_SCHEMA,
        main_log,
        mor_cdc_compact,
        mor_cdc_read,
    )

    def floor_schema(v):
        t = pq.read_table(log.load(v)["dv_floor"])
        return [(f.name, f.type) for f in t.schema]

    table_dir = _mk_floor_table(spark, tmp_path, "cdc_floor_writer")
    log = main_log(table_dir)
    assert floor_schema(4) == [
        (c, pa.int64()) for c in ("k", "v", "_commit")
    ]
    before = _table_snapshot(spark, table_dir, range(1, 7))
    # the v4 floor as the Spark writer made it: max(v) per key over the
    # v2/v3 sidecars, the compaction's commit as `_commit`
    floor = log.load(4)["dv_floor"]
    shutil.rmtree(floor)
    (
        spark.read.schema(DV_SIDECAR_SCHEMA)
        .json([d["path"] for d in log.load(3)["dvs"]])
        .groupBy("k")
        .agg(F.max("v").alias("v"))
        .withColumn("_commit", F.lit(4).cast("long"))
        .write.parquet(floor)
    )
    assert _table_snapshot(spark, table_dir, range(1, 7)) == before
    sc = spark.sparkContext
    group = f"mor-compact-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "MOR compaction probe")
    try:
        mor_cdc_compact(spark, table_dir, 6)  # v7 carries the floor
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs < 6, n_jobs
    assert floor_schema(7) == floor_schema(4)
    assert before[6][1] == sorted(
        map(tuple, mor_cdc_read(spark, table_dir, 7).collect())
    )


def test_mor_cdc_concurrent_writers_serialize_or_raise(spark, tmp_path):
    """Snapshot-CAS contract (VERDICT r11 ask #3): two committers
    racing the same version number can never BOTH land it silently.
    Covers both conflict windows — (a) the winner published before the
    loser's pre-check (cheap fast-fail), and (b) the winner published
    INSIDE the loser's stage→publish window (the genuine race, driven
    deterministically through the _before_publish seam, decided by the
    link(2) CAS).  After each lost race the loser retries from a fresh
    read and serializes at N+1; the final table state is exact and the
    loser's staged artifacts are gone."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
        mor_cdc_commit,
        mor_cdc_read,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_race", n_keys=200)

    def wave(lo, hi, bump, ver):
        return (
            spark.range(lo, hi)
            .select(
                F.col("id").alias("k"),
                (F.col("id") * 10 + bump).alias("cents"),
                F.lit(ver).alias("version"),
                F.lit("u").alias("op"),
            )
        )

    # (a) pre-check window: A lands v2 first, B's attempt at v2 must
    # fail BEFORE staging (no stray B directories appear)
    mor_cdc_commit(spark, wave(0, 50, 1, 1), table_dir, 2, exclusive=True)
    dirs_before = set(os.listdir(table_dir))
    with pytest.raises(CommitConflictError):
        mor_cdc_commit(
            spark, wave(100, 150, 2, 1), table_dir, 2, exclusive=True
        )
    assert set(os.listdir(table_dir)) == dirs_before
    # (b) CAS window: B passes the pre-check for v3, A publishes v3
    # inside B's stage→publish window; B must lose at the link, clean
    # up its own staged dirs, and leave A's v3 untouched
    def land_a_first():
        mor_cdc_commit(
            spark, wave(0, 50, 3, 2), table_dir, 3, exclusive=True
        )

    dirs_before = set(os.listdir(table_dir))
    with pytest.raises(CommitConflictError):
        mor_cdc_commit(
            spark, wave(100, 150, 2, 1), table_dir, 3,
            exclusive=True, _before_publish=land_a_first,
        )
    added = set(os.listdir(table_dir)) - dirs_before
    # only A's v3 artifacts + manifest may have appeared; B's staged
    # dirs were removed on the lost race
    assert "manifest-v3.json" in added
    with open(os.path.join(table_dir, "manifest-v3.json")) as f:
        m3 = json.load(f)
    referenced = {
        os.path.basename(os.path.dirname(e["path"]))
        for entries in m3["files"].values()
        for e in entries
    } | {os.path.basename(d["path"]) for d in m3["dvs"]}
    for d in added - {"manifest-v3.json"}:
        assert d in referenced, f"orphan from the losing writer: {d}"
    # serialization: B retries from a fresh read at v4 and wins
    mor_cdc_commit(spark, wave(100, 150, 2, 1), table_dir, 4, exclusive=True)
    rows = {r["k"]: r["cents"] for r in
            mor_cdc_read(spark, table_dir, 4).collect()}
    assert len(rows) == 200
    assert rows[0] == 3        # A's v3 re-bump (version 2) wins over v2
    assert rows[120] == 1202   # B's serialized v4 wave
    assert rows[199] == 1990   # untouched base row


def test_mor_cdc_sink_concurrent_epochs_both_land(spark, tmp_path):
    """Sink-level serialization: two MorCdcSink writers (same table,
    different epochs) whose commits interleave must BOTH land — the
    loser's automatic fresh-read retry serializes them — and the
    ledger must carry both epochs (the merged ledger publish never
    drops a concurrent writer's entry)."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        MorCdcSink,
        mor_cdc_read,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_sink_race", n_keys=200)
    sink_a = MorCdcSink(spark, table_dir)
    sink_b = MorCdcSink(spark, table_dir)
    wave_a = spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 1).alias("cents"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    wave_b = spark.range(100, 150).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 2).alias("cents"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    # interleave: both sinks derive N=2 from the same pre-state; A
    # lands first, B's exclusive commit conflicts and auto-retries at 3
    import nyc_data_pipeline_spark.streaming.mor_cdc as mc

    orig_commit = mc.mor_cdc_commit
    state = {"fired": False}

    def racing_commit(spark_, batch, tdir, version, **kw):
        if not state["fired"] and version == 2:
            state["fired"] = True
            # writer A lands v2 inside writer B's derive→commit window
            orig_commit(spark_, wave_a, tdir, 2, exclusive=True)
        return orig_commit(spark_, batch, tdir, version, **kw)

    mc.mor_cdc_commit = racing_commit
    try:
        sink_b(wave_b, epoch_id=7)   # loses v2, retries, lands v3
    finally:
        mc.mor_cdc_commit = orig_commit
    # A's commit happened inside the race (manifest published, ledger
    # entry pending — the crash-recovery shape); B's serialized entry
    # must be in the ledger at the version AFTER A's
    ledger = sink_a._read_ledger()
    assert ledger.get("7") == 3, ledger
    rows = {r["k"]: r["cents"] for r in
            mor_cdc_read(spark, table_dir, 3).collect()}
    assert len(rows) == 200
    assert rows[0] == 1      # A's wave
    assert rows[120] == 1202  # B's wave, serialized after the conflict
    # redelivery of B's epoch is a no-op (ledger hit)
    sink_b(wave_b, epoch_id=7)
    assert sink_a._latest_manifest_version() == 3


def _wap_wave(spark, lo, hi, bump, ver, op="u"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + bump).alias("cents"),
        F.lit(ver).alias("version"),
        F.lit(op).alias("op"),
    )


def test_wap_stage_isolated_until_publish(spark, tmp_path):
    """Write-Audit-Publish: staged branch commits are invisible to
    main readers (manifest chain untouched), the branch head shows the
    staged state, and publish fast-forwards main to EXACTLY the state
    the audit read — pure metadata, no new data directories."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_read,
        wap_publish,
        wap_read,
        wap_stage,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "wap_iso", n_keys=200)
    mor_cdc_commit(spark, _wap_wave(spark, 0, 50, 1, 1), table_dir, 2)
    main_before = {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 2).collect()
    }
    # stage two epochs on the branch: an upsert wave and a delete wave
    wap_stage(spark, _wap_wave(spark, 100, 150, 2, 2), table_dir, "audit")
    wap_stage(
        spark, _wap_wave(spark, 0, 25, 0, 3, op="d"), table_dir, "audit"
    )
    # isolation: main manifests end at v2 and read identically
    assert not os.path.exists(os.path.join(table_dir, "manifest-v3.json"))
    assert {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 2).collect()
    } == main_before
    branch_state = {
        r["k"]: r["cents"]
        for r in wap_read(spark, table_dir, "audit").collect()
    }
    assert len(branch_state) == 175  # 200 - 25 deleted
    assert branch_state[120] == 1202 and 0 not in branch_state
    stats = wap_publish(table_dir, "audit")
    assert stats["published"] == [3, 4]
    # branch manifests consumed, main now reads the audited state
    assert not [
        f for f in os.listdir(table_dir) if f.startswith("manifest-audit-")
    ]
    assert {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 4).collect()
    } == branch_state


def test_wap_divergence_conflict_and_restage(spark, tmp_path):
    """A main writer advancing past the branch base makes publish (and
    stage of a colliding version) a loud CommitConflictError — never a
    silent overwrite; discarding and restaging from the new head
    recovers."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
        mor_cdc_commit,
        mor_cdc_read,
        wap_discard,
        wap_publish,
        wap_read,
        wap_stage,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "wap_div", n_keys=200)
    wap_stage(spark, _wap_wave(spark, 0, 50, 7, 1), table_dir, "audit")
    # main advances to v2 while the branch is staged
    mor_cdc_commit(spark, _wap_wave(spark, 150, 200, 9, 1), table_dir, 2)
    with pytest.raises(CommitConflictError):
        wap_publish(table_dir, "audit")
    # staging the branch's NEXT epoch would reuse main's v2 number at
    # publish; the early stage-time check fires only on a direct
    # version collision — here v3 is free, so staging succeeds and the
    # conflict stays a publish-time error
    wap_stage(spark, _wap_wave(spark, 50, 60, 8, 2), table_dir, "audit")
    with pytest.raises(CommitConflictError):
        wap_publish(table_dir, "audit")
    # recover: discard, restage from the new head, publish
    wap_discard(table_dir, "audit")
    wap_stage(spark, _wap_wave(spark, 0, 50, 7, 2), table_dir, "audit")
    wap_publish(table_dir, "audit")
    rows = {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 3).collect()
    }
    assert rows[0] == 7 and rows[199] == 1999
    # a stale branch whose FIRST staged version collides with main
    # fails at stage time (fast-fail before any artifacts)
    dirs_before = set(os.listdir(table_dir))
    with pytest.raises(CommitConflictError):
        mor_cdc_commit(
            spark, _wap_wave(spark, 0, 10, 1, 3), table_dir, 3,
            branch="stale",
        )
    assert set(os.listdir(table_dir)) == dirs_before


def test_wap_discard_reclaims_only_branch_dirs(spark, tmp_path):
    """Discard removes exactly the staged directories the branch
    introduced; main's data and manifests are untouched, and a
    half-published branch (crash mid-publish) never loses dirs that a
    main manifest now references."""
    from nyc_data_pipeline_spark.manifest_log import (
        atomic_json_publish_once,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_read,
        wap_discard,
        wap_stage,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "wap_disc", n_keys=200)
    before = set(os.listdir(table_dir))
    wap_stage(spark, _wap_wave(spark, 0, 50, 1, 1), table_dir, "audit")
    wap_stage(spark, _wap_wave(spark, 50, 99, 2, 2), table_dir, "audit")
    stats = wap_discard(table_dir, "audit")
    assert stats["manifests_removed"] == 2
    assert stats["dirs_removed"] == 4  # 2 data dirs + 2 DV sidecars
    assert set(os.listdir(table_dir)) == before
    assert mor_cdc_read(spark, table_dir, 1).count() == 200
    # crash mid-publish: simulate by hand-publishing the first staged
    # manifest to its main name (what wap_publish's loop does), then
    # discarding the half-published branch — v2's dirs are now MAIN
    # data and must survive the discard
    wap_stage(spark, _wap_wave(spark, 0, 50, 1, 1), table_dir, "audit")
    wap_stage(spark, _wap_wave(spark, 50, 99, 2, 2), table_dir, "audit")
    with open(os.path.join(table_dir, "manifest-audit-v2.json")) as f:
        m2 = json.load(f)
    m2.pop("branch"), m2.pop("branch_base")
    atomic_json_publish_once(
        m2, os.path.join(table_dir, "manifest-v2.json")
    )
    os.unlink(os.path.join(table_dir, "manifest-audit-v2.json"))
    wap_discard(table_dir, "audit")
    rows = {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 2).collect()
    }
    assert rows[10] == 101 and rows[60] == 600  # v2 intact, v3 gone


def test_wap_vacuum_preserves_live_branch(spark, tmp_path):
    """mor_cdc_vacuum treats live branch manifests as reachability
    roots: a concurrent vacuum must not reclaim an unpublished
    branch's staged directories (or the main history its base read
    still needs)."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_read,
        mor_cdc_vacuum,
        wap_publish,
        wap_read,
        wap_stage,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "wap_vac", n_keys=200)
    mor_cdc_commit(spark, _wap_wave(spark, 0, 50, 1, 1), table_dir, 2)
    wap_stage(spark, _wap_wave(spark, 100, 150, 2, 2), table_dir, "audit")
    want = {
        r["k"]: r["cents"]
        for r in wap_read(spark, table_dir, "audit").collect()
    }
    mor_cdc_vacuum(table_dir, latest=2, retain=1)
    got = {
        r["k"]: r["cents"]
        for r in wap_read(spark, table_dir, "audit").collect()
    }
    assert got == want
    # and the branch still publishes cleanly after the vacuum
    wap_publish(table_dir, "audit")
    assert {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 3).collect()
    } == want


def test_txn_catalog_snapshot_isolation_and_cas(spark, tmp_path):
    """Transaction catalog: (a) cross-table reads through one catalog
    version are never torn — a table manifest published WITHOUT the
    catalog flip stays invisible; (b) rerunning the transaction
    completes the flip idempotently; (c) a concurrent txn on DISJOINT
    tables rebases and lands, while a conflicting advance of the SAME
    table raises CommitConflictError; (d) backward pointer moves are
    ValueError; (e) historical catalog versions give cross-table time
    travel."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
        mor_cdc_commit,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_log,
        catalog_read,
        txn_catalog_init,
        txn_commit,
    )

    a_dir = _mk_cdc_table(spark, tmp_path, "txn_a", n_keys=100)
    b_dir = _mk_cdc_table(spark, tmp_path, "txn_b", n_keys=100)
    cat = str(tmp_path / "cat")
    txn_catalog_init(cat, {"a": (a_dir, 1), "b": (b_dir, 1)})

    # publish-then-flip: A's v2 manifest exists but catalog still at 1
    mor_cdc_commit(spark, _wap_wave(spark, 0, 50, 1, 1), a_dir, 2)
    assert catalog_log(cat).head() == 1
    assert catalog_read(spark, cat, "a").where("cents % 10 = 1").count() == 0

    # flip: A@2 visible, B untouched; rerun is a no-op (idempotent)
    txn_commit(cat, {"a": 2})
    assert catalog_log(cat).head() == 2
    assert catalog_read(spark, cat, "a").where("cents % 10 = 1").count() == 50
    assert txn_commit(cat, {"a": 2})["version"] == 2
    assert catalog_log(cat).head() == 2

    # disjoint-table race: B's txn loses the CAS to another A txn
    # landed inside its window, rebases, and BOTH land
    mor_cdc_commit(spark, _wap_wave(spark, 50, 100, 2, 1), b_dir, 2)
    mor_cdc_commit(spark, _wap_wave(spark, 50, 100, 3, 2), a_dir, 3)
    txn_commit(
        cat, {"b": 2},
        _before_publish=lambda: txn_commit(cat, {"a": 3}),
    )
    assert catalog_log(cat).head() == 4
    assert catalog_read(spark, cat, "a").where("cents % 10 = 3").count() == 50
    assert catalog_read(spark, cat, "b").where("cents % 10 = 2").count() == 50

    # same-table conflict: a txn holding a stale version for A fails
    # loudly once a concurrent txn advanced A past it
    mor_cdc_commit(spark, _wap_wave(spark, 0, 10, 4, 3), a_dir, 4)
    mor_cdc_commit(spark, _wap_wave(spark, 0, 20, 5, 4), a_dir, 5)
    with pytest.raises(CommitConflictError):
        txn_commit(
            cat, {"a": 4},
            _before_publish=lambda: txn_commit(cat, {"a": 5}),
        )
    # backward move: always a ValueError
    with pytest.raises(ValueError):
        txn_commit(cat, {"a": 2})
    # cross-table time travel: catalog v2 = A@2 with B@1
    assert catalog_read(spark, cat, "a", 2).where("cents % 10 = 3").count() == 0
    assert catalog_read(spark, cat, "b", 2).where("cents % 10 = 2").count() == 0


def test_txn_publish_branches_multi_table_wap(spark, tmp_path):
    """Multi-table WAP: branches staged on two tables flip into the
    catalog in one transaction; a crash after one table's wap_publish
    (simulated by publishing it directly first) completes idempotently
    on rerun — catalog readers only ever see none-or-all."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import wap_publish, wap_stage
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_log,
        catalog_read,
        txn_catalog_init,
        txn_publish_branches,
    )

    a_dir = _mk_cdc_table(spark, tmp_path, "wapm_a", n_keys=100)
    b_dir = _mk_cdc_table(spark, tmp_path, "wapm_b", n_keys=100)
    cat = str(tmp_path / "cat")
    txn_catalog_init(cat, {"a": (a_dir, 1), "b": (b_dir, 1)})
    wap_stage(spark, _wap_wave(spark, 0, 50, 1, 1), a_dir, "audit")
    wap_stage(spark, _wap_wave(spark, 50, 100, 2, 1), b_dir, "audit")
    # crash window: A's branch already fast-forwarded, catalog not yet
    wap_publish(a_dir, "audit")
    assert catalog_read(spark, cat, "a").where("cents % 10 = 1").count() == 0
    # rerun the multi-table publish: A no-ops (nothing staged), B
    # publishes, ONE catalog flip makes both visible together
    txn_publish_branches(cat, "audit", ["a", "b"])
    assert catalog_log(cat).head() == 2
    assert catalog_read(spark, cat, "a").where("cents % 10 = 1").count() == 50
    assert catalog_read(spark, cat, "b").where("cents % 10 = 2").count() == 50


def test_txn_catalog_as_of_retention_and_floor(spark, tmp_path):
    """Catalog time travel + retention: (a) TIMESTAMP AS OF over the
    catalog chain resolves the latest catalog committed <= ts (a ts
    BETWEEN two catalog commits serves the earlier one) and yields a
    historically consistent multi-table snapshot; (b) catalog_vacuum
    reclaims old pointers — reading them raises the named
    CatalogRetentionError, never-committed versions stay ValueError,
    and pre-floor timestamps raise through the as-of path; (c)
    catalog_table_floor names the per-table version a table vacuum
    must keep, and a vacuum respecting it leaves every retained
    snapshot readable."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_vacuum,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        CatalogRetentionError,
        catalog_log,
        catalog_load,
        catalog_load_as_of,
        catalog_read,
        catalog_table_floor,
        catalog_vacuum,
        txn_catalog_init,
        txn_commit,
    )

    a_dir = _mk_cdc_table(spark, tmp_path, "asof_a", n_keys=100)
    b_dir = _mk_cdc_table(spark, tmp_path, "asof_b", n_keys=100)
    cat = str(tmp_path / "cat")
    txn_catalog_init(cat, {"a": (a_dir, 1), "b": (b_dir, 1)})
    mor_cdc_commit(spark, _wap_wave(spark, 0, 50, 1, 1), a_dir, 2)
    txn_commit(cat, {"a": 2})
    mor_cdc_commit(spark, _wap_wave(spark, 50, 100, 2, 1), b_dir, 2)
    txn_commit(cat, {"b": 2})
    ts = {
        v: catalog_load(cat, v)["committed_at_us"] for v in (1, 2, 3)
    }
    # exact instants resolve to themselves; between-commit instants
    # resolve DOWN (the latest-commit-<=-ts rule)
    assert catalog_load_as_of(cat, ts[2])["version"] == 2
    assert catalog_load_as_of(cat, (ts[2] + ts[3]) // 2)["version"] == 2
    assert catalog_load_as_of(cat, ts[3] + 10)["version"] == 3
    # the v2 snapshot pairs A@2 with B@1 — historically consistent
    snap = catalog_load_as_of(cat, ts[2])
    assert (snap["tables"]["a"]["version"],
            snap["tables"]["b"]["version"]) == (2, 1)
    # retention: keep the newest 2 catalog versions
    stats = catalog_vacuum(cat, retain=2)
    assert stats["removed"] == [1] and catalog_log(cat).head() == 3
    with pytest.raises(CatalogRetentionError):
        catalog_load(cat, 1)
    with pytest.raises(ValueError):
        catalog_load(cat, 9)
    from nyc_data_pipeline_spark.sources.timetravel import (
        TimeTravelRetentionError,
    )
    with pytest.raises(TimeTravelRetentionError):
        catalog_load_as_of(cat, ts[1])  # pre-floor instant
    # per-table floor: retained catalogs (v2, v3) reference a@2 — a
    # table vacuum keeping >= that floor leaves both snapshots readable
    assert catalog_table_floor(cat, "a") == 2
    assert catalog_table_floor(cat, "b") == 1
    mor_cdc_vacuum(a_dir, latest=2, retain=1)  # keeps a@2, the floor
    assert catalog_read(spark, cat, "a", 2).count() == 100
    assert catalog_read(spark, cat, "a", 3).count() == 100


def test_mor_cdc_key_range_prunes_files_at_the_manifest(spark, tmp_path):
    """Manifest-level file skipping: a key_range read must (a) plan
    FileScans over strictly fewer files than the full read — only the
    buckets/commits whose recorded klo/khi overlap the range — (b)
    return exactly the full read filtered to the range, and (c) serve
    a range that misses every file as an EMPTY frame with the
    committed schema (no scan at all)."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_read,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_skip", n_keys=400)
    # churn only the top quarter of the key range: its appended files
    # carry klo/khi stats in [300, 399]
    mor_cdc_commit(spark, _wap_wave(spark, 300, 400, 1, 1), table_dir, 2)
    full = mor_cdc_read(spark, table_dir, 2)
    pruned = mor_cdc_read(spark, table_dir, 2, key_range=(0, 99))
    assert set(pruned.inputFiles()) < set(full.inputFiles())
    # the v2 commit's files (keys 300+) must not be scanned at all
    assert not [f for f in pruned.inputFiles() if "/v2" in f]
    want = {
        (r["k"], r["cents"])
        for r in full.where("k between 0 and 99").collect()
    }
    assert {
        (r["k"], r["cents"]) for r in pruned.collect()
    } == want and len(want) == 100
    # a range inside the churned quarter reads v1's bucket AND v2's
    mid = mor_cdc_read(spark, table_dir, 2, key_range=(350, 360))
    assert [f for f in mid.inputFiles() if "/v2" in f]
    assert {r["k"] for r in mid.collect()} == set(range(350, 361))
    # (c) nothing overlaps: empty result, schema intact, zero scans
    none = mor_cdc_read(spark, table_dir, 2, key_range=(10_000, 20_000))
    assert none.count() == 0
    assert set(none.columns) == set(full.columns)


def test_mor_cdc_rebucket_feed_and_skipping_cross_spec(spark, tmp_path):
    """Partition-spec evolution: after a re-bucketing compaction
    (fan-out 4 -> 8, bounds refreshed from the live range), (a) later
    commits route under the NEW spec (manifest n_files carried by the
    chain, not the call-site), (b) the change feed of a post-rebucket
    commit is lossless AND still prunes its pre-image to churned
    buckets of the new spec, and (c) a key_range read across the
    boundary stays exact with files skipped at the manifest."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_commit,
        mor_cdc_compact,
        mor_cdc_read,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "rb", n_keys=400, n_files=4)
    mor_cdc_commit(spark, _wap_wave(spark, 0, 50, 1, 1), table_dir, 2)
    m3 = mor_cdc_compact(spark, table_dir, 2, n_files=8)
    assert m3["n_files"] == 8 and m3["bounds"] == [0, 399]
    # (a) the next commit routes under the new 8-bucket spec even
    # though the caller passes nothing: keys 350-399 = bucket 7 of 8
    mor_cdc_commit(spark, _wap_wave(spark, 350, 400, 2, 2), table_dir, 4)
    with open(os.path.join(table_dir, "manifest-v4.json")) as f:
        m4 = json.load(f)
    assert m4["n_files"] == 8
    new_dirs = {z for z, es in m4["files"].items()
                if any(e["v"] == 4 for e in es)}
    assert new_dirs == {"7"}
    # (b) the feed of the post-rebucket commit: lossless updates, and
    # its pre-image leg reads ONLY bucket 7's v3 files
    feed = mor_cdc_change_feed(spark, table_dir, 4)
    rows = {r["k"]: (r["change"], r["post_cents"]) for r in feed.collect()}
    assert len(rows) == 50
    assert all(c == "update" for c, _ in rows.values())
    assert rows[399] == ("update", 3992)
    pre_files = [
        f for f in feed.inputFiles() if "/v3/" in f or "/v3" in f
    ]
    assert pre_files and all("zb=7" in f for f in pre_files)
    # (c) key-range read across the spec boundary: v4 files skipped
    # for a range outside the churned keys, result exact
    pruned = mor_cdc_read(spark, table_dir, 4, key_range=(100, 199))
    assert not [f for f in pruned.inputFiles() if "/v4" in f]
    got = {r["k"]: r["cents"] for r in pruned.collect()}
    assert got == {k: k * 10 for k in range(100, 200)}


def test_streaming_wap_sink_stages_epochs_until_publish(spark, tmp_path):
    """STREAMING write-audit-publish: a MorCdcSink bound to a branch
    stages every micro-batch epoch there — main readers never see an
    unaudited epoch, redelivery stays a ledger no-op, the branch head
    accumulates the stream's state, and wap_publish flips main to
    exactly that state (the staged version numbers become main's, so
    the epoch ledger stays valid and a post-publish sink continues on
    main numbering via a fresh branch fork point)."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        MorCdcSink,
        mor_cdc_read,
        wap_publish,
        wap_read,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "swap_sink", n_keys=200)
    sink = MorCdcSink(spark, table_dir, branch="audit")
    sink(_wap_wave(spark, 0, 50, 1, 1), epoch_id=0)
    sink(_wap_wave(spark, 0, 25, 0, 2, op="d"), epoch_id=1)
    sink(_wap_wave(spark, 0, 50, 1, 1), epoch_id=0)  # redelivery: no-op
    assert sink._read_ledger() == {"0": 2, "1": 3}
    # isolation: main still reads v1 (no manifest-v2/3 exist)
    assert not os.path.exists(os.path.join(table_dir, "manifest-v2.json"))
    assert mor_cdc_read(spark, table_dir, 1).count() == 200
    branch_state = {
        r["k"]: r["cents"]
        for r in wap_read(spark, table_dir, "audit").collect()
    }
    assert len(branch_state) == 175
    assert branch_state[30] == 301 and 10 not in branch_state
    stats = wap_publish(table_dir, "audit")
    assert stats["published"] == [2, 3]
    assert {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 3).collect()
    } == branch_state
    # the ledger survives the publish: replaying either epoch is still
    # a no-op, and the NEXT epoch stages at v4 off the published head
    sink(_wap_wave(spark, 0, 25, 0, 2, op="d"), epoch_id=1)
    assert sink._latest_manifest_version() == 3
    sink(_wap_wave(spark, 100, 120, 3, 3), epoch_id=2)
    assert sink._read_ledger()["2"] == 4
    assert os.path.exists(
        os.path.join(table_dir, "manifest-audit-v4.json")
    )
    assert mor_cdc_read(spark, table_dir, 3).count() == 175  # main pinned


def test_wap_and_catalog_reads_skip_files_by_key_range(spark, tmp_path):
    """The skipping composes: a branch-head audit and a catalog
    snapshot read both prune files by the recorded klo/khi before any
    scan, with exact results."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        wap_read,
        wap_stage,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_read,
        txn_catalog_init,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "skip2", n_keys=400)
    wap_stage(spark, _wap_wave(spark, 300, 350, 1, 1), table_dir, "audit")
    pruned = wap_read(
        spark, table_dir, "audit", key_range=(0, 99)
    )
    # the staged commit's DATA files (keys 300+) are skipped; its
    # churn-sized DV sidecar is still consulted (key-based shadow)
    assert not [
        f for f in pruned.inputFiles()
        if "-audit-" in f and "/dv-" not in f
    ]
    assert {r["k"] for r in pruned.collect()} == set(range(100))
    churn = wap_read(spark, table_dir, "audit", key_range=(300, 310))
    assert [f for f in churn.inputFiles()
            if "-audit-" in f and "/dv-" not in f]
    assert {r["cents"] for r in churn.collect()} == {
        k * 10 + 1 for k in range(300, 311)
    }
    cat = str(tmp_path / "cat")
    txn_catalog_init(cat, {"t": (table_dir, 1)})
    snap = catalog_read(spark, cat, "t", key_range=(50, 59))
    assert len(snap.inputFiles()) < 8  # one bucket of eight
    assert {r["k"] for r in snap.collect()} == set(range(50, 60))


# ---------------------------------------------------------------------------
# ADVICE r13: branch-name/main-manifest ambiguity, atomic WAP publish,
# empty-table re-bucketing, and parameter validation regressions.
# ---------------------------------------------------------------------------


def test_branch_named_verify_never_breaks_main_listing(spark, tmp_path):
    """A branch whose name starts with 'v' (legal: only exact
    v<digits> is rejected) stages 'manifest-verify-vN.json', which
    PREFIX-matches 'manifest-v' — every listing site must fullmatch
    the main pattern instead of prefix+int() (ADVICE r12), so the
    table stays listable, readable, and writable while such a branch
    has staged commits."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        _latest_main_version,
        main_log,
        mor_cdc_commit,
        mor_cdc_read,
        wap_publish,
        wap_read,
        wap_stage,
    )
    from nyc_data_pipeline_spark.sources.timetravel import (
        resolve_version_as_of,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "vbranch", n_keys=100)
    wap_stage(spark, _wap_wave(spark, 0, 20, 3, 1), table_dir, "verify")
    # main listing, read, and a concurrent main-chain commit all work
    assert main_log(table_dir).versions() == [1]
    assert _latest_main_version(table_dir) == 1
    assert mor_cdc_read(spark, table_dir, 1).count() == 100
    assert wap_read(spark, table_dir, "verify").filter(
        F.col("k") == 5
    ).collect()[0]["cents"] == 53
    # TIMESTAMP AS OF resolution must skip the branch manifest too
    import json as _json

    with open(os.path.join(table_dir, "manifest-v1.json")) as f:
        t1 = _json.load(f)["committed_at_us"]
    assert resolve_version_as_of(table_dir, int(t1)) == 1
    wap_publish(table_dir, "verify")
    assert _latest_main_version(table_dir) == 2
    assert mor_cdc_read(spark, table_dir, 2).filter(
        F.col("k") == 5
    ).collect()[0]["cents"] == 53
    # the epoch-sink version derivation keeps working afterwards
    wave = _wap_wave(spark, 20, 30, 7, 2)
    mor_cdc_commit(spark, wave, table_dir, 3)
    assert _latest_main_version(table_dir) == 3


def test_wap_publish_is_atomic_for_readers(spark, tmp_path):
    """ADVICE r12: a reader must never resolve a mid-publish
    intermediate staged version as the main head.  Simulate the crash
    window by hand-linking the intermediate exactly as wap_publish
    does (pending_head marker): latest stays at the base, reads stay
    on the base state, AS OF skips the pending; re-running
    wap_publish RESUMES and flips base -> head in one link."""
    import json as _json

    from nyc_data_pipeline_spark.manifest_log import (
        atomic_json_publish_once,
    )
    from nyc_data_pipeline_spark.sources.timetravel import (
        resolve_version_as_of,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        _latest_main_version,
        mor_cdc_read,
        wap_publish,
        wap_stage,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "wap_atomic", n_keys=100)
    wap_stage(spark, _wap_wave(spark, 0, 10, 1, 1), table_dir, "audit")
    wap_stage(spark, _wap_wave(spark, 10, 20, 2, 2), table_dir, "audit")
    # crash mid-publish: intermediate v2 linked with the pending
    # marker, head v3 NOT linked, branch manifests still present
    with open(os.path.join(table_dir, "manifest-audit-v2.json")) as f:
        m2 = _json.load(f)
    m2.pop("branch"), m2.pop("branch_base")
    m2["pending_head"], m2["pending_branch"] = 3, "audit"
    atomic_json_publish_once(
        m2, os.path.join(table_dir, "manifest-v2.json")
    )
    assert _latest_main_version(table_dir) == 1  # reader: still base
    assert mor_cdc_read(spark, table_dir, 1).filter(
        F.col("k") == 5
    ).collect()[0]["cents"] == 50  # pre-branch value
    with open(os.path.join(table_dir, "manifest-v2.json")) as f:
        t2 = _json.load(f)["committed_at_us"]
    # AS OF at the pending commit's stamp resolves the BASE, not it
    assert resolve_version_as_of(table_dir, int(t2)) == 1
    # resume: the already-linked pending is skipped, head lands, flip
    stats = wap_publish(table_dir, "audit")
    assert stats["published"] == [2, 3]
    assert _latest_main_version(table_dir) == 3
    rows = {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 3).collect()
    }
    assert rows[5] == 51 and rows[15] == 152
    # post-publish, the per-version history is fully readable
    assert mor_cdc_read(spark, table_dir, 2).filter(
        F.col("k") == 5
    ).collect()[0]["cents"] == 51


def test_wap_discard_removes_headless_pendings(spark, tmp_path):
    """Discarding a HALF-published branch must also unlink the
    invisible pending_head main manifests the crashed publish left —
    otherwise removing the branch manifests would make one of them
    the fast-path reader head (an unaudited state)."""
    import json as _json

    from nyc_data_pipeline_spark.manifest_log import (
        atomic_json_publish_once,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        _latest_main_version,
        mor_cdc_read,
        wap_discard,
        wap_stage,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "wap_headless", n_keys=60)
    wap_stage(spark, _wap_wave(spark, 0, 10, 1, 1), table_dir, "audit")
    wap_stage(spark, _wap_wave(spark, 10, 20, 2, 2), table_dir, "audit")
    with open(os.path.join(table_dir, "manifest-audit-v2.json")) as f:
        m2 = _json.load(f)
    m2.pop("branch"), m2.pop("branch_base")
    m2["pending_head"], m2["pending_branch"] = 3, "audit"
    atomic_json_publish_once(
        m2, os.path.join(table_dir, "manifest-v2.json")
    )
    wap_discard(table_dir, "audit")
    assert not os.path.exists(
        os.path.join(table_dir, "manifest-v2.json")
    )
    assert _latest_main_version(table_dir) == 1
    assert mor_cdc_read(spark, table_dir, 1).count() == 60


def test_rebucket_compaction_of_emptied_table(spark, tmp_path):
    """ADVICE r12: a re-bucketing compaction over a table whose rows
    were ALL deleted must fall back to the prior manifest's bounds
    (no int(None) TypeError) and publish a valid empty spec that
    later epochs can route under."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_compact,
        mor_cdc_read,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "rebucket_empty", n_keys=40)
    mor_cdc_commit(
        spark, _wap_wave(spark, 0, 40, 0, 1, op="d"), table_dir, 2
    )
    m = mor_cdc_compact(spark, table_dir, 2, n_files=4)
    assert m["n_files"] == 4 and m["bounds"] == [0, 39]
    assert mor_cdc_read(spark, table_dir, 3).count() == 0
    # the chain keeps working: a later epoch routes under the new spec
    mor_cdc_commit(spark, _wap_wave(spark, 5, 8, 9, 2), table_dir, 4)
    assert mor_cdc_read(spark, table_dir, 4).count() == 3


def test_retention_parameters_validated(spark, tmp_path):
    """ADVICE r12: retries<1 / retain<1 are contract violations that
    must raise ValueError at entry — not a bare-raise TypeError
    (txn_commit) or a catalog/table bricked by deleting its newest
    version (catalog_vacuum / mor_cdc_vacuum)."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import mor_cdc_vacuum
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_vacuum,
        txn_catalog_init,
        txn_commit,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "valid", n_keys=10)
    cat = str(tmp_path / "valid_cat")
    txn_catalog_init(cat, {"t": (table_dir, 1)})
    with pytest.raises(ValueError, match="retries"):
        txn_commit(cat, {"t": 1}, retries=0)
    with pytest.raises(ValueError, match="retain"):
        catalog_vacuum(cat, retain=0)
    with pytest.raises(ValueError, match="retain"):
        mor_cdc_vacuum(table_dir, 1, retain=0)
    # the catalog is still alive after the rejected calls
    assert txn_commit(cat, {"t": 1})["version"] == 1


def test_txn_vacuum_keeps_retained_snapshots_resolvable(spark, tmp_path):
    """VERDICT r12 ask #2: after ANY interleaving of table commits,
    txn_commit, catalog_vacuum, and txn_vacuum, every RETAINED catalog
    version must resolve through catalog_read for every member table —
    the coordinated vacuum clamps each table's reclaim to its
    catalog_table_floor, so no retained cross-table snapshot is ever
    stranded.  Seeded-random interleaving; manifest resolution is
    driver-side, so each probe is metadata-cheap."""
    import random

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        _latest_main_version,
        mor_cdc_commit,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_log,
        catalog_read,
        catalog_vacuum,
        txn_catalog_init,
        txn_commit,
        txn_vacuum,
    )

    a_dir = _mk_cdc_table(spark, tmp_path, "txnvac_a", n_keys=40)
    b_dir = _mk_cdc_table(spark, tmp_path, "txnvac_b", n_keys=40)
    cat = str(tmp_path / "txnvac_cat")
    txn_catalog_init(cat, {"a": (a_dir, 1), "b": (b_dir, 1)})
    rng = random.Random(13)
    dirs = {"a": a_dir, "b": b_dir}
    ver = {"a": 1, "b": 1}
    for step in range(10):
        action = rng.choice(["commit", "commit", "cat_vac", "txn_vac"])
        if action == "commit":
            t = rng.choice(["a", "b"])
            ver[t] += 1
            mor_cdc_commit(
                spark,
                _wap_wave(spark, rng.randrange(30), 40, step, ver[t] - 1),
                dirs[t],
                ver[t],
            )
            txn_commit(cat, {t: ver[t]})
        elif action == "cat_vac":
            catalog_vacuum(cat, retain=rng.randint(1, 3))
        else:
            txn_vacuum(cat, retain=rng.randint(1, 3))
        # invariant: every retained catalog version resolves fully
        latest = catalog_log(cat).head()
        for v in range(1, latest + 1):
            if not os.path.exists(
                os.path.join(cat, f"catalog-v{v}.json")
            ):
                continue  # expired pointer: allowed to be gone
            for t in ("a", "b"):
                catalog_read(spark, cat, t, v)  # opens the manifest
    # and the latest snapshot is still value-correct end to end
    assert catalog_read(spark, cat, "a").count() == 40
    assert _latest_main_version(a_dir) == ver["a"]


# ---------------------------------------------------------------------------
# Field-id schema evolution (VERDICT r12 ask #4): rename / drop / widen
# as metadata-only commits, cross-evolution reads, feeds, and skipping.
# ---------------------------------------------------------------------------


def _evo_table(spark, tmp_path, name):
    """k BIGINT / cents INT / version — cents int so widen has work."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import mor_cdc_init

    base = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("int").alias("cents"),
        F.lit(0).alias("version"),
    )
    table_dir = str(tmp_path / name)
    mor_cdc_init(spark, base, table_dir, "k", n_files=4)
    return table_dir


def test_evolution_is_metadata_only_and_id_resolved(spark, tmp_path):
    """Rename+widen+drop publish new manifest versions without
    touching ANY data file; reads resolve old files by field id
    (alias + cast), dropped fields stop projecting, and time travel
    BEFORE the evolution still sees the old names/types."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_drop_column,
        mor_cdc_read,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
    )

    table_dir = _evo_table(spark, tmp_path, "evo1")
    files_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }
    mor_cdc_rename_column(table_dir, "cents", "amount")
    mor_cdc_widen_column(table_dir, "amount", "bigint")
    files_after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }
    assert files_after == files_before  # zero data movement
    cur = mor_cdc_read(spark, table_dir, 3)
    assert dict(cur.dtypes)["amount"] == "bigint"
    assert "cents" not in cur.columns
    assert cur.filter(F.col("k") == 7).collect()[0]["amount"] == 70
    # time travel to v1: the old name and the NARROW type, exactly
    old = mor_cdc_read(spark, table_dir, 1)
    assert dict(old.dtypes)["cents"] == "int"
    assert "amount" not in old.columns


def test_evolution_drop_then_readd_is_a_fresh_field(spark, tmp_path):
    """Iceberg's drop/re-add rule: a column re-added under a dropped
    NAME gets a fresh field id, so pre-drop values never resurrect —
    only rows (re)written after the re-add carry it.  The dropped
    column deliberately holds the chain's MAX field id (VERDICT r14):
    allocating from max(live ids)+1 would re-issue exactly that id and
    resolve the re-add onto the dropped column's stored data."""
    import json as _json
    import os as _os

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_drop_column,
        mor_cdc_init,
        mor_cdc_read,
    )

    # cents LAST so it carries the max id (k=1, version=2, cents=3)
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(0).alias("version"),
        (F.col("id") * 10).cast("int").alias("cents"),
    )
    table_dir = str(tmp_path / "evo2")
    mor_cdc_init(spark, base, table_dir, "k", n_files=4)
    mor_cdc_drop_column(table_dir, "cents")
    wave = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") + 1000).cast("int").alias("cents"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    m3 = mor_cdc_commit(spark, wave, table_dir, 3)
    readd = next(f for f in m3["schema"] if f["name"] == "cents")
    assert readd["id"] > 3  # fresh id past the dropped max (3)
    assert m3["last_field_id"] == readd["id"]
    rows = {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 3).collect()
    }
    assert rows[5] == 1005  # re-added field on the rewritten row
    assert rows[50] is None  # v1's old cents value must NOT resurrect


def test_evolution_drop_max_id_then_add_column_reads_null(
    spark, tmp_path
):
    """The judge's r14 live repro, pinned: drop the max-id column,
    re-add via the EXPLICIT mor_cdc_add_column path — pre-drop rows
    must read NULL, never the dropped column's stored values.  Also
    pins the mark across compaction, which resets the commit_cols
    history the migration fallback derives from."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_add_column,
        mor_cdc_compact,
        mor_cdc_drop_column,
        mor_cdc_init,
        mor_cdc_read,
    )

    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(0).alias("version"),
        (F.col("id") * 10).cast("int").alias("cents"),
    )
    table_dir = str(tmp_path / "evo_readd")
    mor_cdc_init(spark, base, table_dir, "k", n_files=4)
    mor_cdc_drop_column(table_dir, "cents")           # v2: max id (3)
    m3 = mor_cdc_add_column(table_dir, "quality", "int")  # v3
    qid = next(f["id"] for f in m3["schema"] if f["name"] == "quality")
    assert qid > 3 and m3["last_field_id"] == qid
    rows = {
        r["k"]: r["quality"]
        for r in mor_cdc_read(spark, table_dir, 3).collect()
    }
    assert rows[5] is None  # NOT 50 — cents' data must stay dropped
    assert all(v is None for v in rows.values())
    # compaction pins the mark even though it resets commit_cols
    m4 = mor_cdc_compact(spark, table_dir, 3)
    assert m4["last_field_id"] == qid
    mor_cdc_drop_column(table_dir, "quality")         # v5: max again
    m6 = mor_cdc_add_column(table_dir, "score", "int")  # v6
    sid = next(f["id"] for f in m6["schema"] if f["name"] == "score")
    assert sid > qid and m6["last_field_id"] == sid


def test_field_ids_never_reissued_under_random_evolution(
    spark, tmp_path
):
    """Property pin for the last_field_id ratchet, on both table
    lanes (MOR chain and COW chain): under seeded-random sequences of
    add/drop/rename (drops biased toward the CURRENT max-id field — the
    r14 failure shape), every id ever issued is distinct, renames never
    change an id, and the persisted mark equals the running maximum."""
    import json as _json
    import os as _os
    import random

    from nyc_data_pipeline_spark.plans.two_phase import range_buckets
    from nyc_data_pipeline_spark.sources.zonemap import (
        _cluster_col_now,
        _zm_versioned_write,
        cow_add_column,
        cow_drop_column,
        cow_log,
        cow_rename_column,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        _latest_main_version,
        mor_cdc_add_column,
        mor_cdc_drop_column,
        mor_cdc_init,
        mor_cdc_rename_column,
    )

    def mor_chain(table_dir):
        base = spark.range(20).select(
            F.col("id").alias("k"),
            F.lit(0).alias("version"),
            (F.col("id") * 10).cast("int").alias("cents"),
        )
        mor_cdc_init(spark, base, table_dir, "k", n_files=2)

    def cow_chain(table_dir):
        base = spark.range(20).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).cast("int").alias("cents"),
            (F.col("id") + 100).alias("day"),
        )
        b1 = range_buckets(base, "day", 2).withColumnRenamed(
            "bucket", "zb"
        ).drop("lo", "hi")
        _zm_versioned_write(
            b1, table_dir, 1, ["0", "1"], None, (100, 119),
            cluster_col="day",
        )

    lanes = {
        # chain builder, head, ops, columns never dropped or renamed
        "mor": (
            mor_chain, _latest_main_version,
            (mor_cdc_add_column, mor_cdc_drop_column,
             mor_cdc_rename_column),
            lambda m: {"version", m["key"]},
        ),
        "cow": (
            cow_chain, lambda d: cow_log(d).head(),
            (cow_add_column, cow_drop_column, cow_rename_column),
            lambda m: {_cluster_col_now(m)},
        ),
    }
    for lane, (chain, head, ops, protected) in lanes.items():
        add_column, drop_column, rename_column = ops
        for seed in (1, 2, 3):
            rng = random.Random(seed)
            table_dir = str(tmp_path / f"evo_prop_{lane}_{seed}")
            chain(table_dir)
            issued = {1, 2, 3}
            n_allocated = 3
            for step in range(15):
                v = head(table_dir)
                with open(_os.path.join(
                    table_dir, f"manifest-v{v}.json"
                )) as f:
                    m = _json.load(f)
                live = {f["name"]: f["id"] for f in m["schema"]}
                droppable = [n for n in live if n not in protected(m)]
                op = rng.choice(["add", "add", "drop", "rename"])
                if op == "add":
                    mm = add_column(table_dir, f"c{seed}_{step}", "int")
                    nid = next(
                        f["id"] for f in mm["schema"]
                        if f["name"] == f"c{seed}_{step}"
                    )
                    assert nid not in issued  # NEVER re-issued
                    issued.add(nid)
                    n_allocated += 1
                    assert mm["last_field_id"] == max(issued)
                elif op == "drop" and droppable:
                    # bias toward the max-id field: the r14 failure shape
                    target = max(droppable, key=lambda n: live[n])
                    if rng.random() < 0.3:
                        target = rng.choice(droppable)
                    drop_column(table_dir, target)
                elif op == "rename" and droppable:
                    src = rng.choice(droppable)
                    mm = rename_column(table_dir, src, f"r{seed}_{step}")
                    assert (
                        next(
                            f["id"] for f in mm["schema"]
                            if f["name"] == f"r{seed}_{step}"
                        )
                        == live[src]
                    )  # renames keep their id
            assert len(issued) == n_allocated  # bag of ids stayed a set


def test_evolution_key_rename_keeps_skipping(spark, tmp_path):
    """Renaming the CLUSTERING key moves manifest['key']; routing
    bounds and per-file key stats are name-free, so manifest-level
    key-range file skipping keeps pruning after the rename."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_read,
        mor_cdc_rename_column,
    )

    table_dir = _evo_table(spark, tmp_path, "evo3")
    mor_cdc_rename_column(table_dir, "k", "doc_key")
    wave = spark.range(90, 99).select(
        F.col("id").alias("doc_key"),
        (F.col("id") * 10 + 1).cast("int").alias("cents"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave, table_dir, 3)
    pruned = mor_cdc_read(spark, table_dir, 3, key_range=(0, 20))
    assert "doc_key" in pruned.columns
    # one of four buckets: the low range never scans high-bucket files
    assert all(
        "zb=0" in f for f in pruned.inputFiles() if "/dv-" not in f
    )
    assert {r["doc_key"] for r in pruned.collect()} == set(range(21))


def test_evolution_commits_feed_empty_and_cross_feed_aligns(
    spark, tmp_path
):
    """An evolution commit changes no rows: its change feed is EMPTY
    (the compaction rule).  A data commit AFTER the evolution feeds
    pre/post images under the CURRENT names/types."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_commit,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
    )

    table_dir = _evo_table(spark, tmp_path, "evo4")
    mor_cdc_rename_column(table_dir, "cents", "amount")
    mor_cdc_widen_column(table_dir, "amount", "bigint")
    assert mor_cdc_change_feed(spark, table_dir, 2).count() == 0
    assert mor_cdc_change_feed(spark, table_dir, 3).count() == 0
    wave = spark.range(5).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 7).cast("bigint").alias("amount"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave, table_dir, 4)
    feed = mor_cdc_change_feed(spark, table_dir, 4)
    assert {"pre_amount", "post_amount"} <= set(feed.columns)
    row = feed.filter(F.col("k") == 3).collect()[0]
    assert row["pre_amount"] == 30 and row["post_amount"] == 37
    assert row["change"] == "update"


def test_evolution_rejects_lossy_and_reserved(spark, tmp_path):
    """Narrowing / cross-family widens, key drops, and touching the
    reserved 'version' carrier are loud ValueErrors."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_drop_column,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
    )

    table_dir = _evo_table(spark, tmp_path, "evo5")
    with pytest.raises(ValueError, match="widen"):
        mor_cdc_widen_column(table_dir, "k", "int")  # narrow
    with pytest.raises(ValueError, match="widen"):
        mor_cdc_widen_column(table_dir, "cents", "string")
    with pytest.raises(ValueError, match="clustering key"):
        mor_cdc_drop_column(table_dir, "k")
    with pytest.raises(ValueError, match="version"):
        mor_cdc_rename_column(table_dir, "version", "v2")
    with pytest.raises(ValueError, match="name in use"):
        mor_cdc_rename_column(table_dir, "cents", "k")


def test_evolution_composes_with_wap_catalog_and_skipping(
    spark, tmp_path
):
    """Cross-feature matrix: a field-id-evolved chain must keep every
    other lakehouse lane working — WAP staging/audit/publish on the
    renamed schema, catalog transactions over it, manifest-level
    key-range skipping, and the change feed — because each lane only
    ever sees manifests, and evolution is manifest metadata."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        _latest_main_version,
        mor_cdc_commit,
        mor_cdc_read,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
        wap_publish,
        wap_read,
        wap_stage,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_read,
        txn_catalog_init,
        txn_commit,
    )

    table_dir = _evo_table(spark, tmp_path, "compose")  # cents INT
    mor_cdc_rename_column(table_dir, "cents", "amount")
    mor_cdc_widen_column(table_dir, "amount", "bigint")  # head: v3
    cat = str(tmp_path / "cat")
    txn_catalog_init(cat, {"t": (table_dir, 3)})
    # stage a wave on a branch UNDER the evolved schema, audit, publish
    wave = spark.range(90, 100).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 5).cast("bigint").alias("amount"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    wap_stage(spark, wave, table_dir, "audit")
    audit = wap_read(spark, table_dir, "audit", key_range=(90, 99))
    assert dict(audit.dtypes)["amount"] == "bigint"
    assert {r["amount"] for r in audit.collect()} == {
        k * 10 + 5 for k in range(90, 100)
    }
    wap_publish(table_dir, "audit")
    txn_commit(cat, {"t": _latest_main_version(table_dir)})
    # catalog-mediated read with key-range skipping on the evolved key
    snap = catalog_read(spark, cat, "t", key_range=(0, 20))
    assert "amount" in snap.columns and "cents" not in snap.columns
    assert all(
        "zb=0" in f for f in snap.inputFiles() if "/dv-" not in f
    )
    assert {r["k"] for r in snap.collect()} == set(range(21))
    # historical catalog snapshot: pre-publish state, evolved schema
    old = catalog_read(spark, cat, "t", version=1)
    assert old.filter(F.col("k") == 95).collect()[0]["amount"] == 950


def test_add_column_with_default_is_metadata_only(spark, tmp_path):
    """mor_cdc_add_column (Iceberg-v3 default-value rule): the add is
    one JSON write; pre-add rows read back the DEFAULT (injected at
    projection, no file rewritten), post-add rows carry their own
    values, commits may still omit the column (default again), and
    time travel to before the add never sees it."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_add_column,
        mor_cdc_commit,
        mor_cdc_read,
    )

    table_dir = _evo_table(spark, tmp_path, "evo_add")
    files_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }
    mor_cdc_add_column(table_dir, "quality", "bigint", default=100)
    assert files_before == {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }
    wave = spark.range(5).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("int").alias("cents"),
        (F.col("id") + 900).cast("bigint").alias("quality"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave, table_dir, 3)
    rows = {
        r["k"]: r["quality"]
        for r in mor_cdc_read(spark, table_dir, 3).collect()
    }
    assert rows[2] == 902      # post-add row carries its value
    assert rows[50] == 100     # pre-add row reads the default
    # a later commit omitting the column also reads the default
    wave2 = spark.range(90, 93).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 1).cast("int").alias("cents"),
        F.lit(2).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave2, table_dir, 4)
    rows4 = {
        r["k"]: (r["cents"], r["quality"])
        for r in mor_cdc_read(spark, table_dir, 4).collect()
    }
    assert rows4[91] == (911, 100)
    # time travel to v1: the column does not exist
    assert "quality" not in mor_cdc_read(spark, table_dir, 1).columns


def test_stale_producer_rejected_after_rename(spark, tmp_path):
    """A producer still writing a renamed column's OLD name must fail
    loudly (named ValueError), never silently shear its values into a
    fresh field; writing the NEW name works, and a DROPPED field's
    old name stays legitimately reusable (fresh id)."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_rename_column,
    )

    table_dir = _evo_table(spark, tmp_path, "stale_prod")
    mor_cdc_rename_column(table_dir, "cents", "amount")
    stale = spark.range(5).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("int").alias("cents"),  # pre-rename!
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    with pytest.raises(ValueError, match="stale schema"):
        mor_cdc_commit(spark, stale, table_dir, 3)
    fresh = stale.withColumnRenamed("cents", "amount")
    mor_cdc_commit(spark, fresh, table_dir, 3)  # new name: fine


def test_freed_rename_name_is_reusable_after_later_rename(
    spark, tmp_path
):
    """The stale-producer guard blocks only each live field's MOST
    RECENT pre-rename name (ADVICE r13): after cents->amount->revenue,
    adding a genuinely new column named 'cents' (freed two renames
    ago) is a fresh field, while 'amount' (exactly one schema behind)
    is still the named ValueError."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_read,
        mor_cdc_rename_column,
    )

    table_dir = _evo_table(spark, tmp_path, "freed_name")
    mor_cdc_rename_column(table_dir, "cents", "amount")      # v2
    # a data commit under the intermediate schema, so 'amount' sits
    # in a historical name map (the all-history scan would have kept
    # guarding 'cents' off this map's precursor forever)
    mor_cdc_commit(
        spark,
        spark.range(3).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 7).cast("int").alias("amount"),
            F.lit(1).alias("version"),
            F.lit("u").alias("op"),
        ),
        table_dir,
        3,
    )
    mor_cdc_rename_column(table_dir, "amount", "revenue")    # v4
    one_behind = spark.range(5, 8).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("int").alias("revenue"),
        (F.col("id") * 2).cast("int").alias("amount"),  # 1 schema old
        F.lit(2).alias("version"),
        F.lit("u").alias("op"),
    )
    with pytest.raises(ValueError, match="stale schema"):
        mor_cdc_commit(spark, one_behind, table_dir, 5)
    freed = spark.range(5, 8).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("int").alias("revenue"),
        (F.col("id") * 3).cast("int").alias("cents"),  # freed name
        F.lit(2).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, freed, table_dir, 5)
    got = {
        r["k"]: (r["revenue"], r["cents"])
        for r in mor_cdc_read(spark, table_dir, 5).collect()
    }
    assert got[6] == (60, 18)      # the fresh field carries values
    assert got[2] == (27, None)    # pre-add rows read NULL for it


def test_legacy_table_adopts_field_ids_via_compaction(
    spark, tmp_path
):
    """A chain that predates field-id schemas refuses metadata-only
    evolution with a named error pointing at compaction — and a
    compaction REALLY adopts ids (ADVICE r13: it used to carry the
    absent schema forward, making the remediation a dead end): the
    rewrite synthesizes fresh ids from the materialized names/types,
    after which a rename is metadata-only and id-resolved."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_compact,
        mor_cdc_read,
        mor_cdc_rename_column,
    )

    table_dir = _evo_table(spark, tmp_path, "legacy_adopt")
    mpath = os.path.join(table_dir, "manifest-v1.json")
    with open(mpath) as f:
        m = json.load(f)
    m.pop("schema", None)
    m.pop("commit_cols", None)
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="predates field-id"):
        mor_cdc_rename_column(table_dir, "cents", "amount")
    compacted = mor_cdc_compact(spark, table_dir, 1)  # v2 adopts ids
    assert compacted["schema"] is not None
    assert {f["name"] for f in compacted["schema"]} >= {"k", "cents"}
    files_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }
    mor_cdc_rename_column(table_dir, "cents", "amount")   # now works
    assert files_before == {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }  # the rename stayed metadata-only
    got = {
        r["k"]: r["amount"]
        for r in mor_cdc_read(spark, table_dir, 3).collect()
    }
    assert got[7] == 70  # old files resolve by the adopted ids


def test_feed_post_image_types_match_schema_after_widen(
    spark, tmp_path
):
    """After a widen, a producer still writing the narrow type must
    not surface pre_X bigint next to post_X int in one feed frame
    (ADVICE r13): the post image is projected under the commit
    schema's current types exactly like the pre image."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_commit,
        mor_cdc_widen_column,
    )

    table_dir = _evo_table(spark, tmp_path, "feed_widen")
    mor_cdc_widen_column(table_dir, "cents", "bigint")    # v2
    narrow = spark.range(4).select(
        F.col("id").alias("k"),
        (F.col("id") * 11).cast("int").alias("cents"),  # narrow!
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, narrow, table_dir, 3)
    feed = mor_cdc_change_feed(spark, table_dir, 3)
    dtypes = dict(feed.dtypes)
    assert dtypes["pre_cents"] == "bigint"
    assert dtypes["post_cents"] == "bigint"
    rows = {r["k"]: r for r in feed.collect()}
    assert rows[2]["post_cents"] == 22
    assert rows[2]["pre_cents"] == 20


def test_latest_main_version_single_snapshot_under_publish_race(
    spark, tmp_path
):
    """_latest_main_version must never resolve a staged WAP
    intermediate as head (ADVICE r13: two separate listdir snapshots
    let a publish completing in between steer the fast path onto a
    `pending_head` manifest).  Pin both halves: (a) the directory is
    listed exactly ONCE, and (b) even when the listing is STALE —
    taken mid-publish while the head has since landed — the resolver
    returns an announced head (the landed pending target), never the
    intermediate itself."""
    from nyc_data_pipeline_spark.streaming import mor_cdc as mc

    table_dir = str(tmp_path / "pubrace")
    os.makedirs(table_dir)

    def put(v, extra=None):
        with open(
            os.path.join(table_dir, f"manifest-v{v}.json"), "w"
        ) as f:
            json.dump({"version": v, **(extra or {})}, f)

    put(1)
    put(2, {"pending_head": 4, "pending_branch": "audit"})
    put(3, {"pending_head": 4, "pending_branch": "audit"})
    # mid-publish: head v4 absent, branch manifest still present
    with open(
        os.path.join(table_dir, "manifest-audit-v4.json"), "w"
    ) as f:
        json.dump({"version": 4, "branch": "audit"}, f)
    calls = {"n": 0}
    real_listdir = os.listdir

    def counting_listdir(path):
        calls["n"] += 1
        return real_listdir(path)

    mc.os.listdir = counting_listdir
    try:
        assert mc._latest_main_version(table_dir) == 1
        assert calls["n"] == 1  # ONE snapshot: list + branch check
    finally:
        mc.os.listdir = real_listdir
    # stale-listing race: the listing was taken mid-publish (no v4,
    # branch present), but the publish completes before resolution
    stale = list(real_listdir(table_dir))

    def stale_listdir(path):
        return list(stale)

    put(4)  # head lands
    os.unlink(os.path.join(table_dir, "manifest-audit-v4.json"))
    mc.os.listdir = stale_listdir
    try:
        assert mc._latest_main_version(table_dir) == 4
    finally:
        mc.os.listdir = real_listdir
    # and a fresh listing agrees
    assert mc._latest_main_version(table_dir) == 4


def test_streaming_sink_commits_across_an_evolution(spark, tmp_path):
    """MorCdcSink epochs keep flowing across a mid-stream rename: the
    sink derives its next version from the evolved manifest chain and
    commits under the NEW schema; the read folds pre- and
    post-evolution epochs by field id."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        MorCdcSink,
        mor_cdc_read,
        mor_cdc_rename_column,
    )

    table_dir = _evo_table(spark, tmp_path, "sink_evo")
    sink = MorCdcSink(spark, table_dir)
    sink(
        spark.range(3).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 1).cast("int").alias("cents"),
            F.lit(1).alias("version"),
            F.lit("u").alias("op"),
        ),
        epoch_id=0,
    )
    mor_cdc_rename_column(table_dir, "cents", "amount")  # v3
    sink(
        spark.range(3, 6).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 2).cast("int").alias("amount"),
            F.lit(2).alias("version"),
            F.lit("u").alias("op"),
        ),
        epoch_id=1,
    )
    rows = {
        r["k"]: r["amount"]
        for r in mor_cdc_read(spark, table_dir, 4).collect()
    }
    assert rows[1] == 11   # pre-evolution epoch, id-resolved
    assert rows[4] == 42   # post-evolution epoch, native name
    assert rows[50] == 500  # base row


def test_wap_publish_loses_fork_race_cleanly(spark, tmp_path):
    """A concurrent main writer that lands base+1 FIRST must make
    wap_publish raise with NOTHING reader-visible published — the
    first link doubles as the fork-point CAS — and the branch stays
    intact for discard-and-restage."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
        _branch_log,
        _latest_main_version,
        mor_cdc_commit,
        mor_cdc_read,
        wap_discard,
        wap_publish,
        wap_stage,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "wap_race", n_keys=60)
    wap_stage(spark, _wap_wave(spark, 0, 10, 1, 1), table_dir, "audit")
    wap_stage(spark, _wap_wave(spark, 10, 20, 2, 2), table_dir, "audit")
    # the concurrent writer wins v2 with a REAL commit
    mor_cdc_commit(
        spark, _wap_wave(spark, 30, 35, 9, 1), table_dir, 2,
        exclusive=True,
    )
    with pytest.raises(CommitConflictError, match="restage"):
        wap_publish(table_dir, "audit")
    # the writer's state is the head; no branch data leaked to main
    assert _latest_main_version(table_dir) == 2
    rows = {
        r["k"]: r["cents"]
        for r in mor_cdc_read(spark, table_dir, 2).collect()
    }
    assert rows[31] == 319 and rows[5] == 50  # writer applied, branch not
    # branch manifests intact: discard reclaims them without touching
    # the writer's commit
    assert _branch_log(table_dir, "audit").versions() == [2, 3]
    wap_discard(table_dir, "audit")
    assert mor_cdc_read(spark, table_dir, 2).count() == 60


def test_wap_publish_link_conflict_between_two_branches(spark, tmp_path):
    """Two branches forked at the same base: the first publisher's
    HEADLESS pending intermediate occupies base+1 invisibly; the
    second branch's publish must lose at the LINK (not the head
    check — the pending is reader-invisible) with the named error and
    nothing of its own published."""
    import json as _json
    import pytest

    from nyc_data_pipeline_spark.manifest_log import (
        atomic_json_publish_once,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
        _latest_main_version,
        wap_publish,
        wap_stage,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "wap_2br", n_keys=40)
    wap_stage(spark, _wap_wave(spark, 0, 5, 1, 1), table_dir, "alpha")
    wap_stage(spark, _wap_wave(spark, 5, 9, 2, 2), table_dir, "alpha")
    wap_stage(spark, _wap_wave(spark, 20, 25, 3, 1), table_dir, "beta")
    # simulate alpha's publish crashing after its FIRST (pending) link
    with open(
        os.path.join(table_dir, "manifest-alpha-v2.json")
    ) as f:
        m2 = _json.load(f)
    m2.pop("branch"), m2.pop("branch_base")
    m2["pending_head"], m2["pending_branch"] = 3, "alpha"
    atomic_json_publish_once(
        m2, os.path.join(table_dir, "manifest-v2.json")
    )
    assert _latest_main_version(table_dir) == 1  # pending invisible
    # beta forked at v1 too (visible head): its publish passes the
    # base check but must lose the v2 LINK to alpha's pending
    with pytest.raises(CommitConflictError, match="concurrent writer"):
        wap_publish(table_dir, "beta")
    assert _latest_main_version(table_dir) == 1  # still nothing live
    # alpha resumes and wins cleanly
    stats = wap_publish(table_dir, "alpha")
    assert stats["published"] == [2, 3]
    assert _latest_main_version(table_dir) == 3


import pytest as _pytest


@_pytest.mark.parametrize("seed", [7, 23, 91])
def test_evolution_algebra_random_sequences(spark, tmp_path, seed):
    """Randomized evolution algebra: a seeded sequence of commit /
    delete / rename / widen / drop / add-with-default / compact ops,
    checked after EVERY step against a pure-Python model keyed by
    field id — the read must always equal the model's projection of
    the keep-latest merge under the current schema."""
    import random

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_add_column,
        mor_cdc_commit,
        mor_cdc_compact,
        mor_cdc_drop_column,
        mor_cdc_read,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
        main_log,
    )

    rng = random.Random(seed)
    table_dir = str(tmp_path / f"evoprop{seed}")
    N = 40
    base = spark.range(N).select(
        F.col("id").alias("k"),
        (F.col("id") * 7).cast("int").alias("f2"),
        F.lit(0).alias("version"),
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import mor_cdc_init

    mor_cdc_init(spark, base, table_dir, "k", n_files=4)
    # model: schema = [(id, name, type, default)], rows key ->
    # (version, {id: value}) for the winning copy's written fields
    schema = [(1, "k", "bigint", None), (2, "f2", "int", None),
              (3, "version", "int", None)]
    rows = {k: (0, {1: k, 2: k * 7, 3: 0}) for k in range(N)}
    next_id = 4
    cver = 1  # chain head

    def live_names():
        return [(i, n, t, d) for i, n, t, d in schema
                if n not in ("k", "version")]

    def check():
        got = {
            r["k"]: {c: r[c] for c in r.asDict() if c != "k"}
            for r in mor_cdc_read(spark, table_dir, cver).collect()
        }
        want = {}
        for k, (ver, vals) in rows.items():
            row = {"version": ver}
            for i, n, t, d in live_names():
                row[n] = vals.get(i, d)
            want[k] = row
        assert got == want, (len(got), len(want))

    for step in range(7):
        op = rng.choice(
            ["commit", "commit", "delete", "rename", "widen", "drop",
             "add", "compact"]
        )
        if op == "commit":
            ver = step + 1
            keys = rng.sample(range(N + 10), rng.randint(3, 12))
            cols = [F.col("id").alias("k")]
            for i, n, t, d in live_names():
                cols.append(
                    ((F.col("id") * 13 + i * 5 + ver).cast(t)).alias(n)
                )
            wave = (
                spark.range(N + 10)
                .filter(F.col("id").isin(keys))
                .select(*cols)
                .withColumn("version", F.lit(ver))
                .withColumn("op", F.lit("u"))
            )
            cver += 1
            mor_cdc_commit(spark, wave, table_dir, cver)
            for k in keys:
                vals = {1: k, 3: ver}
                for i, n, t, d in live_names():
                    vals[i] = k * 13 + i * 5 + ver
                rows[k] = (ver, vals)
        elif op == "delete":
            ver = step + 1
            live_keys = list(rows)
            if not live_keys:
                continue
            keys = rng.sample(live_keys, min(4, len(live_keys)))
            wave = (
                spark.range(N + 10)
                .filter(F.col("id").isin(keys))
                .select(F.col("id").alias("k"))
                .withColumn("version", F.lit(ver))
                .withColumn("op", F.lit("d"))
            )
            cver += 1
            mor_cdc_commit(spark, wave, table_dir, cver)
            for k in keys:
                rows.pop(k, None)
        elif op == "rename":
            cands = live_names()
            if not cands:
                continue
            i, n, t, d = rng.choice(cands)
            new = f"{n}_r{step}"
            mor_cdc_rename_column(table_dir, n, new)
            schema = [
                (fi, new if fi == i else fn, ft, fd)
                for fi, fn, ft, fd in schema
            ]
            cver += 1
        elif op == "widen":
            cands = [f for f in live_names() if f[2] == "int"]
            if not cands:
                continue
            i, n, t, d = rng.choice(cands)
            mor_cdc_widen_column(table_dir, n, "bigint")
            schema = [
                (fi, fn, "bigint" if fi == i else ft, fd)
                for fi, fn, ft, fd in schema
            ]
            cver += 1
        elif op == "drop":
            cands = live_names()
            if len(cands) < 2:
                continue  # keep at least one payload field
            i, n, t, d = rng.choice(cands)
            mor_cdc_drop_column(table_dir, n)
            schema = [f for f in schema if f[0] != i]
            cver += 1
        elif op == "add":
            name = f"g{next_id}"
            default = rng.choice([None, 100 + next_id])
            mor_cdc_add_column(
                table_dir, name, "bigint", default=default
            )
            schema.append((next_id, name, "bigint", default))
            next_id += 1
            cver += 1
        else:  # compact
            mor_cdc_compact(spark, table_dir, cver)
            cver += 1
        assert main_log(table_dir).versions()[-1] == cver
        check()


def test_change_feed_span_folds_across_evolution(spark, tmp_path):
    """mor_cdc_change_feed_span: a span crossing a data-column rename,
    a KEY rename, a widen, and an add-with-default still folds — every
    per-commit feed surfaces under the TO-version schema by field id,
    and applying the span's net effect to the FROM state reproduces
    the TO state exactly."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_add_column,
        mor_cdc_change_feed_span,
        mor_cdc_commit,
        mor_cdc_read,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
    )

    table_dir = _evo_table(spark, tmp_path, "span_evo")  # v1: k/cents int
    # v2: pre-evolution wave (old names)
    mor_cdc_commit(
        spark,
        spark.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 1).cast("int").alias("cents"),
            F.lit(1).alias("version"),
            F.lit("u").alias("op"),
        ),
        table_dir, 2,
    )
    mor_cdc_rename_column(table_dir, "cents", "amount")   # v3
    mor_cdc_widen_column(table_dir, "amount", "bigint")   # v4
    mor_cdc_rename_column(table_dir, "k", "doc_key")      # v5 (KEY!)
    mor_cdc_add_column(table_dir, "grade", "bigint", default=5)  # v6
    # v7: post-evolution wave (new names, new column)
    mor_cdc_commit(
        spark,
        spark.range(50, 55).select(
            F.col("id").alias("doc_key"),
            (F.col("id") * 10 + 2).cast("bigint").alias("amount"),
            (F.col("id") % 3).cast("bigint").alias("grade"),
            F.lit(2).alias("version"),
            F.lit("u").alias("op"),
        ),
        table_dir, 7,
    )
    # v8: a delete
    mor_cdc_commit(
        spark,
        spark.range(90, 93).select(
            F.col("id").alias("doc_key"),
            F.lit(3).alias("version"),
            F.lit("d").alias("op"),
        ),
        table_dir, 8,
    )
    span = mor_cdc_change_feed_span(spark, table_dir, 1, 8)
    cols = set(span.columns)
    assert cols == {
        "commit", "doc_key", "change",
        "pre_amount", "post_amount", "pre_grade", "post_grade",
    }
    # pre-evolution commit's feed surfaces under the FINAL names
    r2 = {r["doc_key"]: r for r in span.filter(F.col("commit") == 2).collect()}
    assert r2[3]["pre_amount"] == 30 and r2[3]["post_amount"] == 31
    assert r2[3]["pre_grade"] == 5 and r2[3]["post_grade"] == 5  # default
    # evolution commits contribute empty feeds
    assert span.filter(F.col("commit").isin(3, 4, 5, 6)).count() == 0
    # FOLD: net effect per key (latest commit wins) applied to the
    # FROM state must reproduce the TO state exactly
    from pyspark.sql import Window

    w = Window.partitionBy("doc_key").orderBy(F.col("commit").desc())
    net = (
        span.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    frm = mor_cdc_read(spark, table_dir, 1).select(
        F.col("k").alias("doc_key"),
        F.col("cents").cast("bigint").alias("amount"),
        F.lit(5).cast("bigint").alias("grade"),  # the add's default
    )
    folded = (
        frm.join(net, "doc_key", "left_anti")
        .unionByName(
            net.filter(F.col("change") != "delete").select(
                "doc_key",
                F.col("post_amount").alias("amount"),
                F.col("post_grade").alias("grade"),
            )
        )
    )
    to = mor_cdc_read(spark, table_dir, 8).select(
        "doc_key", "amount", "grade"
    )
    assert {tuple(r) for r in folded.collect()} == {
        tuple(r) for r in to.collect()
    }


def test_maintenance_cas_serializes_evolution_compaction_exclusive(
    spark, tmp_path
):
    """VERDICT r13 ask #6: the single-operator maintenance contract is
    mechanized.  Evolution and compaction publish through the same
    link(2) CAS as exclusive commits, so EVERY pairwise interleaving
    of {evolution, compaction, exclusive write} targeting the same
    next version resolves to one winner and a named
    CommitConflictError (or, for two equivalent compactions, the
    loser ADOPTS the winner) — and the surviving chain is a linear,
    readable history."""
    import pytest

    from nyc_data_pipeline_spark import manifest_log
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
        _latest_main_version,
        mor_cdc_commit,
        mor_cdc_compact,
        mor_cdc_read,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
    )

    table_dir = _evo_table(spark, tmp_path, "maint_cas")  # v1
    real = manifest_log.atomic_json_publish_once

    def inject_once(op):
        """Patch the CAS so the NEXT main-manifest publish is beaten
        by `op` landing first (the read->publish race window, made
        deterministic)."""
        state = {"fired": False}

        def wrapper(obj, path):
            if not state["fired"] and os.path.basename(
                path
            ).startswith("manifest-v"):
                state["fired"] = True
                op()
            return real(obj, path)

        manifest_log.atomic_json_publish_once = wrapper

    # --- evolution loses to a concurrent evolution -------------------
    inject_once(lambda: mor_cdc_widen_column(table_dir, "cents", "bigint"))
    try:
        with pytest.raises(CommitConflictError, match="concurrent"):
            mor_cdc_rename_column(table_dir, "cents", "amount")
    finally:
        manifest_log.atomic_json_publish_once = real
    assert _latest_main_version(table_dir) == 2  # widen won, alone
    mor_cdc_rename_column(table_dir, "cents", "amount")  # rebased: v3

    # --- compaction loses to a concurrent evolution ------------------
    inject_once(
        lambda: mor_cdc_rename_column(table_dir, "amount", "revenue")
    )
    try:
        with pytest.raises(CommitConflictError, match="concurrent"):
            mor_cdc_compact(spark, table_dir, 3)
    finally:
        manifest_log.atomic_json_publish_once = real
    # the loser cleaned its writer-unique staged dirs
    assert not [
        d for d in os.listdir(table_dir)
        if d.startswith("v4-") and os.path.isdir(
            os.path.join(table_dir, d))
    ]
    assert _latest_main_version(table_dir) == 4  # the evolution, alone

    # --- exclusive write loses to a concurrent compaction ------------
    wave = spark.range(3).select(
        F.col("id").cast("bigint").alias("k"),
        (F.col("id") * 5).cast("bigint").alias("revenue"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    with pytest.raises(CommitConflictError, match="concurrent"):
        mor_cdc_commit(
            spark, wave, table_dir, 5, exclusive=True,
            _before_publish=lambda: mor_cdc_compact(spark, table_dir, 4),
        )
    assert _latest_main_version(table_dir) == 5  # the compaction
    mor_cdc_commit(spark, wave, table_dir, 6, exclusive=True)  # rebase

    # --- two EQUIVALENT compactions: the loser adopts the winner -----
    inject_once(lambda: mor_cdc_compact(spark, table_dir, 6))
    try:
        adopted = mor_cdc_compact(spark, table_dir, 6)
    finally:
        manifest_log.atomic_json_publish_once = real
    assert adopted["version"] == 7
    assert adopted["compacted_from"] == 6
    with open(os.path.join(table_dir, "manifest-v7.json")) as f:
        assert json.load(f) == adopted  # the WINNER's manifest
    # exactly one v7 data lineage is referenced; the loser's staged
    # dirs are gone
    referenced = {
        os.path.dirname(e["path"])
        for entries in adopted["files"].values()
        for e in entries
    }
    assert len(referenced) == 1
    present_v7 = [
        d for d in os.listdir(table_dir)
        if d.startswith("v7-")
        and os.path.isdir(os.path.join(table_dir, d))
    ]
    assert len(present_v7) == 1

    # --- the surviving history is linear and readable end to end -----
    got = {
        r["k"]: r["revenue"]
        for r in mor_cdc_read(spark, table_dir, 7).collect()
    }
    assert got[1] == 5      # the rebased exclusive wave applied
    assert got[50] == 500   # base rows, twice-renamed+widened, intact
    assert dict(
        mor_cdc_read(spark, table_dir, 7).dtypes
    )["revenue"] == "bigint"


def test_wap_publish_conflicts_with_concurrent_evolution(
    spark, tmp_path
):
    """A schema evolution landing on main while a WAP branch is staged
    must surface at publish time as the named fork-point
    CommitConflictError (the evolution moved the head past the
    branch's base) — never a silent publish over the evolved chain;
    and the reverse race (evolution targeting the version a publish
    just linked) is the maintenance-CAS conflict."""
    import pytest

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
        _latest_main_version,
        mor_cdc_read,
        mor_cdc_rename_column,
        wap_discard,
        wap_publish,
        wap_stage,
    )

    table_dir = _evo_table(spark, tmp_path, "wap_evo")  # v1
    wap_stage(
        spark,
        spark.range(3).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 1).cast("int").alias("cents"),
            F.lit(1).alias("version"),
            F.lit("u").alias("op"),
        ),
        table_dir,
        "audit",
    )
    mor_cdc_rename_column(table_dir, "cents", "amount")  # main: v2
    with pytest.raises(CommitConflictError, match="forked"):
        wap_publish(table_dir, "audit")
    # nothing reader-visible was published; the evolved head stands
    assert _latest_main_version(table_dir) == 2
    assert "amount" in mor_cdc_read(spark, table_dir, 2).columns
    wap_discard(table_dir, "audit")  # abandon, restage from new head
    wap_stage(
        spark,
        spark.range(3).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + 1).cast("int").alias("amount"),
            F.lit(1).alias("version"),
            F.lit("u").alias("op"),
        ),
        table_dir,
        "audit",
    )
    out = wap_publish(table_dir, "audit")
    assert out["head"] == 3
    got = {
        r["k"]: r["amount"]
        for r in mor_cdc_read(spark, table_dir, 3).collect()
    }
    assert got[1] == 11 and got[50] == 500


def test_mor_vacuum_never_collects_inflight_staged_dirs(spark, tmp_path):
    """The manifest_vacuum rule on the MOR lane: staged data AND DV
    directories targeting a version newer than the vacuum's head are
    never collected (an in-flight commit publishes AFTER staging);
    unreferenced staged dirs at or below the head are garbage."""
    import os as _os

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_read,
        mor_cdc_vacuum,
    )

    table_dir = _mk_cdc_table(spark, tmp_path, "cdc_vac_inflight")
    inflight_data = _os.path.join(table_dir, "v2-deadbeef", "zb=0")
    inflight_dv = _os.path.join(table_dir, "dv-v2-deadbeef")
    _os.makedirs(inflight_data)
    _os.makedirs(inflight_dv)
    open(_os.path.join(inflight_data, "part-0.parquet"), "w").write("x")
    open(_os.path.join(inflight_dv, "dv.json"), "w").write("{}")
    loser_data = _os.path.join(table_dir, "v1-feedface", "zb=0")
    loser_dv = _os.path.join(table_dir, "dv-v1-feedface")
    _os.makedirs(loser_data)
    _os.makedirs(loser_dv)
    open(_os.path.join(loser_data, "part-0.parquet"), "w").write("x")
    open(_os.path.join(loser_dv, "dv.json"), "w").write("{}")
    mor_cdc_vacuum(table_dir, latest=1, retain=1)
    assert _os.path.isdir(inflight_data)   # version 2 > head 1
    assert _os.path.isdir(inflight_dv)
    assert not _os.path.isdir(loser_data)  # version 1 <= head, garbage
    assert not _os.path.isdir(loser_dv)
    assert mor_cdc_read(spark, table_dir, 1).count() == 400


def test_mor_lifecycles_rerun_after_partial_state(spark, sf_dir):
    """The src_cow rerun rule on the MOR lane: the registered
    rename/readd lifecycle builders converge after a simulated crash
    (head manifest gone, earlier evolution commits remain) instead of
    raising off the leftover head's already-evolved schema."""
    import os as _os

    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    load_all()
    for qname, scratch, head in (
        ("stream_mor_cdc_rename", "mor_cdc_rename", 7),
        ("stream_mor_cdc_readd", "mor_cdc_readd", 6),
    ):
        first = sorted(
            tuple(r) for r in QUERIES[qname](spark, sf_dir).collect()
        )
        table_dir = scratch_dir(scratch, sf_dir)
        _os.unlink(
            _os.path.join(table_dir, f"manifest-v{head}.json")
        )
        again = sorted(
            tuple(r) for r in QUERIES[qname](spark, sf_dir).collect()
        )
        assert again == first, qname
