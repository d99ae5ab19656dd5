"""CDC-maintained text-stats index probe (VERDICT r12 ask #5 'done'
criterion): maintenance cost must be O(churned docs) while a rebuild
scales with the corpus.

Grows the documents corpus k× (key-shifted clones above the change
range — the storage_probe.py trick) while holding the CHANGE SET
fixed (derived from the 1× slice only: the text_index_cdc_maintain
recrawl wave), then times, per k:

  maintain   one `maintain_text_index_from_feed` step — the feed read
             (O(churned buckets + changes)), the pre/post token-set
             delta explode over only the churned docs, and two
             manifest integers.  The corpus is not an input.
  rebuild    `build_text_index` over the table's current state — the
             full-lexicon df pass a per-crawl reindex pays.

Claim: `maintain` stays flat in k, `rebuild` grows ~linearly.  Both
arms are asserted to agree on n_docs/Σdl for the same current state.
Record results in SCALE.md §31.

Usage: python scripts/text_index_probe.py [k ...]     (default: 1 8)
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
from nyc_data_pipeline_spark.functions.text_index import (
    _text_waves,
    build_text_index,
    maintain_text_index_from_feed,
    tidx_log,
)
from nyc_data_pipeline_spark.session import get_spark
from nyc_data_pipeline_spark.sources.scans import scratch_dir
from nyc_data_pipeline_spark.streaming.mor_cdc import (
    mor_cdc_commit,
    mor_cdc_init,
    mor_cdc_read,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CLONE_SHIFT = 100_000_000  # clones land far above TIX_INS_SHIFT ids


def main(ks: list[int]) -> None:
    spark = get_spark()
    d1 = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    wave = _text_waves(d1)[0]  # fixed: the 1x recrawl wave only
    out = []
    for k in ks:
        grown = d1
        for i in range(1, k):
            grown = grown.unionByName(
                d1.select(
                    (F.col("doc_id") + CLONE_SHIFT * i).alias("doc_id"),
                    "text",
                )
            )
        tbl_dir = scratch_dir(f"tidxprobe_tbl_{k}x", SF_DIR)
        idx_dir = scratch_dir(f"tidxprobe_idx_{k}x", SF_DIR)
        shutil.rmtree(tbl_dir, ignore_errors=True)
        shutil.rmtree(idx_dir, ignore_errors=True)
        nf = 8 * k  # fan-out scales with the table (production sizing)
        mor_cdc_init(
            spark, grown.withColumn("version", F.lit(0)), tbl_dir,
            "doc_id", n_files=nf,
        )
        build_text_index(
            spark,
            mor_cdc_read(spark, tbl_dir, 1).select("doc_id", "text"),
            idx_dir, version=1, table_commit=1,
        )
        mor_cdc_commit(spark, wave, tbl_dir, 2, n_files=nf)

        t0 = time.time()
        m2 = maintain_text_index_from_feed(
            spark, tbl_dir, idx_dir, swap_fraction=10.0
        )
        t_maintain = time.time() - t0

        cur = mor_cdc_read(spark, tbl_dir, 2).select("doc_id", "text")
        rebuild_dir = scratch_dir(f"tidxprobe_rb_{k}x", SF_DIR)
        shutil.rmtree(rebuild_dir, ignore_errors=True)
        t0 = time.time()
        mr = build_text_index(
            spark, cur, rebuild_dir, version=1, table_commit=2
        )
        t_rebuild = time.time() - t0
        assert (m2["n_docs"], m2["sum_dl"]) == (mr["n_docs"], mr["sum_dl"])
        assert tidx_log(idx_dir).load()["version"] == 2
        out.append(
            {
                "k": k,
                "corpus_docs": m2["n_docs"],
                "delta_rows": m2["n_delta_rows"],
                "maintain_sec": round(t_maintain, 2),
                "rebuild_sec": round(t_rebuild, 2),
            }
        )
        print(json.dumps(out[-1]))
    print(json.dumps({"probe": "text_index_cdc", "sf_dir": SF_DIR, "rows": out}))


if __name__ == "__main__":
    ks = [int(a) for a in sys.argv[1:]] or [1, 8]
    main(ks)
