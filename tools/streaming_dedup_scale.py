#!/usr/bin/env python
"""Per-batch cost of the always-on incremental dedup lane at scale:
seed the banded index with the retained corpus (even doc ids of the
given tier), then stream the fresh snapshot (odd ids) in N
micro-batches and record each batch's wall time as the index grows.

The claim under test (streaming/dedup.py): per-batch cost is the
batch's own signing plus a band-bucket equi-join against the index —
so batches should cost ~flat-plus-index-growth, not re-pair the
retained corpus with itself.

Usage: python tools/streaming_dedup_scale.py [sf_dir] [n_batches]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf10"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    work = "/tmp/spark_graft_streaming_dedup"
    shutil.rmtree(work, ignore_errors=True)

    from pyspark.sql import functions as F

    from ramen_spark import get_spark
    from ramen_spark.catalog import load_table
    from ramen_spark.streaming.dedup import IncrementalDedupIndex

    spark = get_spark("streaming_dedup_scale")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    index = IncrementalDedupIndex(spark, os.path.join(work, "index"))
    t0 = time.perf_counter()
    index.append(old)
    n_seed = old.count()
    print(
        json.dumps(
            {"stage": "seed", "docs": n_seed,
             "wall_s": round(time.perf_counter() - t0, 2)}
        ),
        flush=True,
    )
    # micro-batches driven directly (the streaming query's per-batch
    # fold, minus the checkpoint machinery — same plan per batch)
    for i in range(n_batches):
        # odd ids: bucket on doc_id//2 so every batch is non-empty
        batch = new.filter(
            F.floor(F.col("doc_id") / 2) % n_batches == i
        )
        t0 = time.perf_counter()
        index.update(batch, i, 0.5)
        n_pairs = index.store.latest("pairs").count()
        print(
            json.dumps(
                {"stage": f"batch_{i}", "docs": batch.count(),
                 "pairs": n_pairs,
                 "wall_s": round(time.perf_counter() - t0, 2)}
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
