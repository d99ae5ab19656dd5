"""IVM probe (VERDICT r9 ask #5 'done' criterion): maintenance cost of
the joined view must be O(changes), not O(view/fact).

Grows the orders fact k× (key-shifted clones — same trick as
storage_probe.py) while holding the CHANGE SET fixed (derived from the
1× slice only), then times, per k:

  maintain    the delta fold of ivm_join_view — ΔA ⋈ B₂ (broadcast
              dim) + ΔB ⋈ V_c₁ (customer-level auxiliary) + the
              full-outer fold into V₁.  Inputs: the two committed view
              artifacts and the materialized feeds; the fact table is
              NOT an input.
  recompute   the one-shot A₂ ⋈ B₂ join + aggregate the oracle runs —
              what a dashboard refresh without IVM pays.

Claim: `maintain` stays flat in k (its only k-dependent input is the
customer-level auxiliary, which grows with |customers|, not |orders|),
`recompute` grows ~linearly.  Both arms are asserted to produce the
identical aggregate.  Record results in SCALE.md §23.

Usage: python scripts/ivm_probe.py [k ...]       (default: 1 8)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nyc_data_pipeline_spark.operators.incremental import (
    IVM_B_DEL_MOD,
    IVM_B_MOVE_MOD,
    _ivm_a1,
    _ivm_b1,
    _ivm_delta_a,
    _ivm_delta_b,
    build_join_view,
    maintain_join_view,
    view_log,
)
from nyc_data_pipeline_spark.session import get_spark
from nyc_data_pipeline_spark.sources.scans import scratch_dir

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main(ks):
    spark = get_spark(
        app_name="ivm-probe",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=32,
    )
    b1 = _ivm_b1(spark, SF_DIR)
    b2 = b1.filter(F.col("c") % IVM_B_DEL_MOD != 0).withColumn(
        "segment",
        F.when(F.col("c") % IVM_B_MOVE_MOD == 0, F.lit("MOVED"))
        .otherwise(F.col("segment")),
    ).localCheckpoint(eager=True)
    a1_once = _ivm_a1(spark, SF_DIR)
    # the feeds are fixed across k — maintenance work must not grow
    da = _ivm_delta_a(a1_once).localCheckpoint(eager=True)
    db = _ivm_delta_b(b1).localCheckpoint(eager=True)
    for k in ks:
        a1 = a1_once
        for i in range(1, k):
            a1 = a1.unionByName(
                a1_once.withColumn("k", F.col("k") + i * 10**9)
            )
        a1 = a1.localCheckpoint(eager=True)
        tdir = scratch_dir(f"ivm_probe_k{k}", SF_DIR)
        build_join_view(a1, b1, tdir)
        m = view_log(tdir).load(1)
        seg_v1 = spark.read.parquet(m["seg_view"])
        cust_v1 = spark.read.parquet(m["cust_view"])

        t0 = time.perf_counter()
        got = {
            r["segment"]: (r["n_rows"], r["sum_cents"])
            for r in maintain_join_view(
                seg_v1, cust_v1, b2, da, db
            ).collect()
        }
        t_maintain = time.perf_counter() - t0

        # one-shot recompute over the post-change tables; the fixed
        # feed touches only the 1x slice (k < 10^9), so the change
        # algebra applies there and the clones pass through verbatim
        orig = a1.filter(F.col("k") < 10**9)
        clones = a1.filter(F.col("k") >= 10**9)
        a2 = (
            orig.filter(F.col("k") % 7 != 0)
            .withColumn(
                "cents",
                F.col("cents")
                + F.when(F.col("k") % 5 == 0, 1000).otherwise(0),
            )
            .unionByName(
                orig.filter(F.col("k") % 13 == 0).select(
                    (F.col("k") + 6_000_000).alias("k"),
                    "c",
                    (F.col("cents") + 7).alias("cents"),
                )
            )
            .unionByName(clones)
        )
        t0 = time.perf_counter()
        want = {
            r["segment"]: (r["n_rows"], r["sum_cents"])
            for r in a2.join(F.broadcast(b2), "c")
            .groupBy("segment")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .collect()
        }
        t_recompute = time.perf_counter() - t0
        # both arms must land on the identical post-change view —
        # changed 1x slice plus untouched clone mass
        assert got == want, {
            s: (got.get(s), want.get(s))
            for s in set(got) | set(want)
            if got.get(s) != want.get(s)
        }
        print(json.dumps({
            "k": k,
            "fact_rows": a1.count(),
            "t_maintain": round(t_maintain, 2),
            "t_recompute": round(t_recompute, 2),
        }))

    stream_arm(spark, ks)


def stream_arm(spark, ks):
    """The STREAMED variant (VERDICT r10 ask #5 'done' criterion): the
    fact lives as a MOR CDC table grown k×, the change set is fixed
    (derived from the 1× slice, so it stays bucket-local as the key
    range grows), and the refresh consumes `mor_cdc_change_feed` rows
    — feeds, view artifacts, and the customer auxiliary are the ONLY
    inputs.  Claim: refresh cost stays FLAT in k because the feed's
    pre-image leg prunes to the churned buckets (the 1× slice lives in
    bucket 0 of 64 once clones stretch the range) while the recompute
    arm reads the whole CDC table — the task-#1 zb_filter measured
    doing its job end to end."""
    from nyc_data_pipeline_spark.operators.incremental import (
        _feed_to_signed_a,
        _feed_to_signed_b,
        advance_cust_view,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
    )

    N_FILES = 64
    b1 = _ivm_b1(spark, SF_DIR).localCheckpoint(eager=True)
    a1_once = _ivm_a1(spark, SF_DIR)
    for k in ks:
        a1 = a1_once
        for i in range(1, k):
            a1 = a1.unionByName(
                a1_once.withColumn("k", F.col("k") + i * 10**9)
            )
        a1 = a1.localCheckpoint(eager=True)
        a_dir = scratch_dir(f"ivm_sjp_a_k{k}", SF_DIR)
        b_dir = scratch_dir(f"ivm_sjp_b_k{k}", SF_DIR)
        t0 = time.perf_counter()
        mor_cdc_init(
            spark, a1.withColumn("version", F.lit(0)), a_dir, "k",
            n_files=N_FILES,
        )
        # both change waves touch ONLY the 1x slice (k < 10^9)
        one_x = a1.filter(F.col("k") < 10**9)
        wave_a1 = (
            one_x.filter(
                (F.col("k") % 5 == 0) & (F.col("k") % 7 != 0)
            )
            .withColumn("cents", F.col("cents") + 1000)
            .withColumn("version", F.lit(1))
            .withColumn("op", F.lit("u"))
        )
        mor_cdc_commit(spark, wave_a1, a_dir, 2, n_files=N_FILES)
        wave_a2 = (
            one_x.filter(F.col("k") % 7 == 0)
            .withColumn("version", F.lit(2))
            .withColumn("op", F.lit("d"))
            .unionByName(
                one_x.filter(F.col("k") % 13 == 0)
                .select(
                    (F.col("k") + 6_000_000).alias("k"),
                    "c",
                    (F.col("cents") + 7).alias("cents"),
                )
                .withColumn("version", F.lit(1))
                .withColumn("op", F.lit("u"))
            )
        )
        mor_cdc_commit(spark, wave_a2, a_dir, 3, n_files=N_FILES)
        mor_cdc_init(
            spark, b1.withColumn("version", F.lit(0)), b_dir, "c"
        )
        wave_b = (
            b1.filter(F.col("c") % IVM_B_DEL_MOD == 0)
            .withColumn("version", F.lit(1))
            .withColumn("op", F.lit("d"))
            .unionByName(
                b1.filter(
                    (F.col("c") % IVM_B_MOVE_MOD == 0)
                    & (F.col("c") % IVM_B_DEL_MOD != 0)
                )
                .withColumn("segment", F.lit("MOVED"))
                .withColumn("version", F.lit(1))
                .withColumn("op", F.lit("u"))
            )
        )
        mor_cdc_commit(spark, wave_b, b_dir, 2)
        t_build = time.perf_counter() - t0
        # view v1 (the ONCE cost; not the claim under test)
        tdir = scratch_dir(f"ivm_sjp_view_k{k}", SF_DIR)
        build_join_view(
            mor_cdc_read(spark, a_dir, 1).select("k", "c", "cents"),
            mor_cdc_read(spark, b_dir, 1).select("c", "segment"),
            tdir,
        )
        m1 = view_log(tdir).load(1)
        seg_v1 = spark.read.parquet(m1["seg_view"])
        cust_v1 = spark.read.parquet(m1["cust_view"])

        # per-arm isolation (the bench.py rule): the builds above leave
        # broadcast blocks + shuffle bookkeeping that tax what follows
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

        # the refresh loop under test: feeds -> two maintenance folds.
        # Signed deltas are O(changes) and feed two consumers each —
        # materialized once, exactly as the registered query does.
        t0 = time.perf_counter()
        da1 = _feed_to_signed_a(
            mor_cdc_change_feed(spark, a_dir, 2)
        ).localCheckpoint(eager=True)
        b_v1 = mor_cdc_read(spark, b_dir, 1).select("c", "segment")
        seg_v2 = maintain_join_view(
            seg_v1, cust_v1, b_v1, da1,
            b_v1.limit(0).withColumn("w", F.lit(1)),
        ).localCheckpoint(eager=True)
        cust_v2 = advance_cust_view(cust_v1, da1).localCheckpoint(
            eager=True
        )
        da2 = _feed_to_signed_a(
            mor_cdc_change_feed(spark, a_dir, 3)
        ).localCheckpoint(eager=True)
        db = _feed_to_signed_b(mor_cdc_change_feed(spark, b_dir, 2))
        b2 = mor_cdc_read(spark, b_dir, 2).select("c", "segment")
        got = {
            r["segment"]: (r["n_rows"], r["sum_cents"])
            for r in maintain_join_view(
                seg_v2, cust_v2, b2, da2, db
            ).collect()
        }
        t_refresh = time.perf_counter() - t0

        # recompute arm: the whole CDC table read + one-shot join
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        want = {
            r["segment"]: (r["n_rows"], r["sum_cents"])
            for r in mor_cdc_read(spark, a_dir, 3)
            .select("k", "c", "cents")
            .join(F.broadcast(b2), "c")
            .groupBy("segment")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .collect()
        }
        t_recompute = time.perf_counter() - t0
        assert got == want, {
            s: (got.get(s), want.get(s))
            for s in set(got) | set(want)
            if got.get(s) != want.get(s)
        }
        print(json.dumps({
            "arm": "stream_feed",
            "k": k,
            "fact_rows": a1.count(),
            "t_build": round(t_build, 2),
            "t_feed_refresh": round(t_refresh, 2),
            "t_recompute": round(t_recompute, 2),
        }))


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]] or [1, 8])
