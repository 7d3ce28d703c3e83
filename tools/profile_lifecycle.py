"""Phase-level wall profiler for the streaming index lifecycle queries.

Mirrors the registry bodies of stream_ivfpq_autocompact /
stream_index_auto_retrain but timestamps each phase (base build, each
micro-batch drain via an instrumented sink wrapper, compactions,
serve) so optimization targets the phase that actually costs.

Usage: python tools/profile_lifecycle.py [autocompact|retrain] [sf_dir]
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from avk_job_skill_analytics_spark.plans.session import get_spark  # noqa: E402
from avk_job_skill_analytics_spark.plans.schemas import load  # noqa: E402


def ts(label, t0, marks=[None]):
    now = time.time()
    prev = marks[0] or t0
    print(f"[{now - t0:7.2f}s] (+{now - prev:5.2f}s) {label}", flush=True)
    marks[0] = now


def profile_autocompact(spark, sf_dir):
    from avk_job_skill_analytics_spark.operators import ann_index
    from avk_job_skill_analytics_spark.registry.streaming_queries import (
        _absorb_stream,
    )

    t0 = time.time()
    e = load(spark, sf_dir, "embeddings")
    e.count()
    ts("embeddings loaded", t0)
    d = tempfile.mkdtemp(prefix="prof_ivfpq_ac_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ann_index.build_index(
        spark, e.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", d
    )
    ts("build_index (base)", t0)
    _absorb_stream(
        spark, sf_dir, d,
        [("0_q1.parquet", F.col("vec_id") % 8 == 1),
         ("1_q3.parquet", F.col("vec_id") % 8 == 3),
         ("2_q5.parquet", F.col("vec_id") % 8 == 5),
         ("3_q7.parquet", F.col("vec_id") % 8 == 7)],
        "prof_emb_ac_src_",
        compact_every=2,
    )
    ts("absorb stream drain (4 batches + 2 compactions)", t0)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    out = ann_index.serve_topk(
        spark, d, queries, "vec_id", "embedding", n_probe=2, sub_d=8, k=5
    )
    out.write.format("noop").mode("overwrite").save()
    ts("serve_topk", t0)


def profile_retrain(spark, sf_dir):
    from avk_job_skill_analytics_spark.operators import ann_index
    from avk_job_skill_analytics_spark.registry.streaming_queries import (
        _drops_stream,
        _shifted_embeddings,
        _single_file_drops,
    )
    from avk_job_skill_analytics_spark.streaming.ann_maintain import (
        foreach_batch_auto_retrain,
    )
    from avk_job_skill_analytics_spark.streaming.incremental import (
        drain_available_now,
    )

    t0 = time.time()
    e2 = _shifted_embeddings(load(spark, sf_dir, "embeddings"))
    base = e2.filter(F.col("vec_id") % 4 == 0)
    root = tempfile.mkdtemp(prefix="prof_ann_ar_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    v0 = ann_index.rebuild_swap(spark, root, base, "vec_id", "embedding")
    assert v0 == 0
    ts("rebuild_swap v0 (base train)", t0)
    src = _single_file_drops(
        spark, sf_dir, "embeddings", ["vec_id", "embedding"],
        [("0_calm.parquet", F.col("vec_id") % 4 == 1),
         ("1_shifted.parquet", F.col("vec_id") % 4 == 2),
         ("2_calm.parquet", F.col("vec_id") % 4 == 3)],
        "prof_emb_ar_src_", mutate=_shifted_embeddings,
    )
    ts("fixture file drops staged", t0)
    stream = _drops_stream(spark, src, "vec_id long, embedding array<double>")
    drain_available_now(
        spark,
        foreach_batch_auto_retrain(stream, root, base, "vec_id", "embedding"),
    )
    ts("drain (calm + shifted/retrain + calm)", t0)
    e2 = _shifted_embeddings(load(spark, sf_dir, "embeddings"))
    queries = e2.filter(F.col("vec_id") < 10)
    out = ann_index.serve_current(
        spark, root, queries, "vec_id", "embedding",
        n_probe=2, sub_d=8, k=5,
    )
    out.write.format("noop").mode("overwrite").save()
    ts("serve_current", t0)


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "autocompact"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark()
    # neutral warm-up: parquet read + tiny shuffle
    load(spark, sf_dir, "region").groupBy("r_name").count().collect()
    print(f"== {which} @ {sf_dir} ==", flush=True)
    if which == "autocompact":
        profile_autocompact(spark, sf_dir)
    else:
        profile_retrain(spark, sf_dir)


if __name__ == "__main__":
    main()
