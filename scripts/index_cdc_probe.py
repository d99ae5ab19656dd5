"""CDC-maintained ANN index probe (VERDICT r11 ask #4 'done'
criterion): maintenance cost must be O(changes) while a rebuild
scales with the corpus.

Grows the embeddings corpus k× (key-shifted clones above the change
range — the storage_probe.py trick) while holding the CHANGE SET
fixed (derived from the 1× slice only: the sim_index_cdc_maintain
wave), then times, per k:

  maintain   one `maintain_ivf_pq_from_feed` step — the feed read
             (O(churned buckets + changes)), the frozen-artifact
             encode of the post-images, and the tombstone write.  The
             corpus is not an input.
  rebuild    `build_cdc_index` over the table's current state — what
             a per-batch reindex pays.

Claim: `maintain` stays flat in k, `rebuild` grows ~linearly.  Both
arms are asserted to serve the same current-state corpus (row counts
agree).  Record results in SCALE.md §25.

Usage: python scripts/index_cdc_probe.py [k ...]     (default: 1 8)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nyc_data_pipeline_spark.catalog import load_table
from nyc_data_pipeline_spark.session import get_spark
from nyc_data_pipeline_spark.similarity.cdc_maintain import (
    _emb_cdc_wave,
    build_cdc_index,
    cdcidx_log,
    maintain_ivf_pq_from_feed,
)
from nyc_data_pipeline_spark.sources.scans import scratch_dir
from nyc_data_pipeline_spark.streaming.mor_cdc import (
    mor_cdc_commit,
    mor_cdc_init,
    mor_cdc_read,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CLONE_SHIFT = 10_000_000  # clones land far above CDC_INS_SHIFT ids


def main(ks: list[int]) -> None:
    spark = get_spark()
    emb1 = load_table(spark, SF_DIR, "embeddings")
    wave = _emb_cdc_wave(emb1)  # fixed: derived from the 1x slice only
    out = []
    for k in ks:
        grown = emb1
        for i in range(1, k):
            grown = grown.unionByName(
                emb1.select(
                    (F.col("vec_id") + CLONE_SHIFT * i).alias("vec_id"),
                    "embedding",
                    "label",
                )
            )
        emb_dir = scratch_dir(f"idxprobe_emb_{k}x", SF_DIR)
        idx_dir = scratch_dir(f"idxprobe_idx_{k}x", SF_DIR)
        shutil.rmtree(emb_dir, ignore_errors=True)
        shutil.rmtree(idx_dir, ignore_errors=True)
        # bucket fan-out scales with the table (as production sizing
        # does) so per-bucket volume stays constant and the feed's
        # churned-bucket pre-image read measures CHURN, not corpus
        nf = 8 * k
        mor_cdc_init(
            spark, grown.withColumn("version", F.lit(0)), emb_dir,
            "vec_id", n_files=nf,
        )
        build_cdc_index(
            spark,
            mor_cdc_read(spark, emb_dir, 1).select(
                "vec_id", "embedding", "label"
            ),
            idx_dir, version=1, table_commit=1,
        )
        mor_cdc_commit(spark, wave, emb_dir, 2, n_files=nf)

        t0 = time.time()
        m2 = maintain_ivf_pq_from_feed(spark, emb_dir, idx_dir)
        t_maintain = time.time() - t0

        cur = mor_cdc_read(spark, emb_dir, 2).select(
            "vec_id", "embedding", "label"
        )
        rebuild_dir = scratch_dir(f"idxprobe_rb_{k}x", SF_DIR)
        shutil.rmtree(rebuild_dir, ignore_errors=True)
        t0 = time.time()
        mr = build_cdc_index(
            spark, cur, rebuild_dir, version=1, table_commit=2
        )
        t_rebuild = time.time() - t0
        assert m2["n_rows"] == mr["n_rows"], (m2["n_rows"], mr["n_rows"])
        assert cdcidx_log(idx_dir).load()["version"] == 2
        out.append(
            {
                "k": k,
                "corpus_rows": mr["n_rows"],
                "changes": m2["n_appended"] + m2["n_tombstoned"],
                "maintain_sec": round(t_maintain, 2),
                "rebuild_sec": round(t_rebuild, 2),
            }
        )
        print(json.dumps(out[-1]))
    print(json.dumps({"probe": "index_cdc", "sf_dir": SF_DIR, "rows": out}))


if __name__ == "__main__":
    ks = [int(a) for a in sys.argv[1:]] or [1, 8]
    main(ks)
