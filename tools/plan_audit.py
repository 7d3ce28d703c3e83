"""Physical-plan red-flag sweep across the whole query registry.

For every ``queries()`` entry (streaming drains excluded — their plan
is inside the StreamingQuery), build the DataFrame and scan its
physical plan for patterns that are scale hazards at 100 TB even when
sf0.01 correctness is green:

- ``CartesianProduct`` — an unconditioned join that isn't a 1-row
  broadcast;
- ``BatchEvalPython`` / ``ArrowEvalPython`` — row/batch Python eval in
  a batch path (only ``MapInPandas``/``FlatMapGroupsInPandas`` nodes
  are sanctioned, and only where the operator is genuinely external,
  plus the one hyperplane-signature kernel, allowlisted per query);
- a ``Window`` with an empty partition spec (all rows to one task) —
  except over already-aggregated tiny frames, which the allowlist
  records with a justification;
- ``Exchange SinglePartition`` feeding a non-final stage.

It also builds every DataFrame a second time, on a warm parquet schema
cache, and prints the Spark jobs each build fired (eager probes,
``count()``/``collect()`` rounds, footer reads), sorted descending and
closed by their sum, to rank the build-side fixed cost of the
short-query tail and compare the registry total across changes.

Usage: python tools/plan_audit.py [sf_dir]
Exit 1 if any un-allowlisted flag fires.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_SIGNATURE_KERNEL = (
    "python-eval",
    "operators/similarity._signatures, the one sanctioned signature kernel",
)

# name -> (pattern, why it's acceptable THERE)
ALLOW: dict[str, list[tuple[str, str]]] = {
    "a1_total_count": [("global-window-or-single", "1-row global aggregate")],
    "tpch_q11_important_stock": [
        ("CartesianProduct|BroadcastNestedLoopJoin",
         "1-row total broadcast back over per-part frame"),
    ],
    "tpch_q22_dormant_customers": [
        ("CartesianProduct|BroadcastNestedLoopJoin",
         "1-row avg-balance broadcast"),
    ],
    "tpch_q17_small_quantity": [
        ("CartesianProduct|BroadcastNestedLoopJoin", "1-row threshold")
    ],
    "ann_knn_graph": [_SIGNATURE_KERNEL],
    "ann_lsh_topk": [_SIGNATURE_KERNEL],
    "dd_semantic_prune_lsh": [_SIGNATURE_KERNEL],
    "a11_pct_of_total": [
        ("empty-partition-window", "window over the aggregated per-dim frame"),
    ],
    "pipeline_global_shuffle": [
        ("empty-partition-window",
         "prefix-sum over the bucket HISTOGRAM (num_buckets rows, "
         "corpus-size independent); the corpus window itself is "
         "partitioned by bucket — asserted in test_plan_quality"),
    ],
    "win_month_over_month": [
        ("empty-partition-window", "ordered trend over per-month aggregate"),
    ],
    "win_survival_curve": [
        ("empty-partition-window",
         "cumulative risk-set + ordered survival fold over the "
         "per-DURATION frame (<= max-duration rows, 31 here) — the "
         "corpus collapses in the per-user aggregate before any "
         "window; same class as win_day_over_day"),
    ],
    "win_ewma_control": [
        ("empty-partition-window",
         "sequential EWMA fold + lag over the per-DAY frame (30 "
         "rows) — the recurrence is inherently ordered and the "
         "frame is corpus-size independent"),
    ],
    "win_day_over_day": [
        ("empty-partition-window", "ordered trend over per-day aggregate"),
    ],
    "win_rolling_7d": [
        ("empty-partition-window", "range frame over day-grain aggregate"),
    ],
    "win_running_revenue": [
        ("empty-partition-window", "cumulative frame over per-day aggregate"),
    ],
    "txt_bm25_topk": [
        ("empty-partition-window",
         "rank stamp over the ALREADY-LIMITED top-k frame (k=10 rows): "
         "the corpus-sized selection runs as TakeOrderedAndProject "
         "(sort+limit), only the k survivors enter the window"),
    ],
    "ml_hybrid_rrf": [
        ("empty-partition-window",
         "rank stamp over the already-limited fused top-k (k=10 rows); "
         "fusion input is bounded at |systems|*topn rank rows"),
    ],
    "j2_topn_window": [
        ("empty-partition-window",
         "rank over the per-dimension aggregate (|dims| rows), the window "
         "twin of the semi-join form — bounded input by construction"),
    ],
    "mm_shard_assign": [
        ("empty-partition-window",
         "prefix-sum over the bucket byte HISTOGRAM (id_range/1000 "
         "rows, corpus-size independent); the corpus window is "
         "partitioned by bucket — same decomposition as "
         "pipeline_global_shuffle, asserted in test_plan_quality"),
    ],
    "win_gap_fill": [
        ("empty-partition-window",
         "locf/interpolation windows over the day-grain calendar "
         "spine (bounded rows; facts are aggregated to day FIRST — "
         "same class as win_day_over_day)"),
    ],
    "ml_cascade_rerank": [
        ("empty-partition-window",
         "two bounded windows: the BM25 rank stamp over its "
         "TakeOrdered top-50, and the rerank over those same <= 50 "
         "broadcast candidates — corpus-size independent by "
         "construction (same class as txt_bm25_topk)"),
    ],
    "ml_auc_gate": [
        ("empty-partition-window",
         "cumulative-negatives window over the DISTINCT-SCORE "
         "relation (bounded by score granularity, aggregated before "
         "the window — the corpus never enters it); the standard "
         "distributed Mann-Whitney decomposition"),
    ],
    "ml_pr_curve": [
        ("empty-partition-window",
         "cumulative tp/fp over the DISTINCT-SCORE relation "
         "(granularity-bounded, aggregated before the window — same "
         "class as ml_auc_gate)"),
    ],
    "ml_roc_points": [
        ("empty-partition-window",
         "cumulative tp/fp over the DISTINCT-SCORE relation — "
         "pr_curve's twin, same granularity-bounded class"),
    ],
    "ml_best_threshold": [
        ("empty-partition-window",
         "top-1 over the distinct-score PR curve plus its cumulative "
         "— both granularity-bounded (same class as ml_auc_gate)"),
    ],
    "ml_calibration_bins": [
        ("empty-partition-window",
         "group-start cumulative over the DISTINCT-SCORE relation; "
         "the corpus-sized rank is PARTITIONED by score (asserted in "
         "test_plan_quality) — the decomposed-rank discipline of "
         "pipeline_global_shuffle"),
    ],
    "agg_histogram_quantiles": [
        ("empty-partition-window",
         "cumulative sum over the n_bins-row histogram (<= 64 rows by "
         "construction, corpus-size independent — the whole point of "
         "the sketch); the data-scaled work is the map-side-combined "
         "bin count, not this window"),
    ],
    "win_seasonal_backtest": [
        ("empty-partition-window",
         "lag(season) over the AGGREGATED daily frame (~31 rows, "
         "corpus-size independent; the data-scaled work is the "
         "per-day count aggregate) — same class as win_ewma_control"),
    ],
    "win_cusum_changepoint": [
        ("empty-partition-window",
         "prefix-sum + running-min over the AGGREGATED daily frame "
         "(~31 rows, corpus-size independent) — the CUSUM identity's "
         "two stacked integer windows"),
    ],
    "win_holt_linear": [
        ("empty-partition-window",
         "ordered two-state fold over the AGGREGATED daily frame "
         "(~31 rows) — same sequential-recurrence class as "
         "win_ewma_control"),
    ],
    "win_anomaly_mad": [
        ("empty-partition-window",
         "two order-statistic row_numbers over the AGGREGATED daily "
         "frame (~31 rows); the corpus never enters a window"),
    ],
    "win_rolling_median": [
        ("empty-partition-window",
         "rolling w-element sorted-array median over the AGGREGATED "
         "daily frame (~31 rows) — same class as win_ewma_control"),
    ],
    "ml_lift_table": [
        ("empty-partition-window",
         "group-start cumulative over the DISTINCT-SCORE relation "
         "plus the n_bins-row bin cumulative; the corpus-sized rank "
         "is PARTITIONED by score — the ml_calibration_bins "
         "decomposed-rank discipline"),
    ],
}


def flags_for(plan: str) -> list[str]:
    out = []
    if "CartesianProduct" in plan:
        out.append("CartesianProduct|BroadcastNestedLoopJoin")
    if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
        out.append("python-eval")
    # Window with empty partition spec: windowspecdefinition(<sort only>)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "ASC" in spec or "DESC" in spec:
            head = spec.split(",")[0].strip()
            if "ASC" in head or "DESC" in head:
                out.append("empty-partition-window")
                break
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from avk_job_skill_analytics_spark.plans.inspect import build_jobs

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    bad = 0
    jobs: list[tuple[int, str]] = []
    for name, fn in sorted(E.queries().items()):
        if name.startswith("stream_"):
            continue  # availableNow drain: plan lives in the stream
        try:
            fn(spark, sf_dir)  # warms the schema cache and fixture memos
            df, n = build_jobs(spark, lambda: fn(spark, sf_dir))
            jobs.append((n, name))
            jvm = spark._jvm
            plan = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "extended"
            )
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: {type(exc).__name__}: {exc}")
            bad += 1
            continue
        allowed = {p for p, _ in ALLOW.get(name, [])}
        hits = [
            f
            for f in flags_for(plan)
            if f not in allowed
            and not any(re.fullmatch(a, f) for a in allowed)
        ]
        if hits:
            print(f"FLAG {name}: {', '.join(hits)}")
            bad += 1
    print("\nSpark jobs fired while building, warm cache:")
    for n, name in sorted(jobs, key=lambda x: (-x[0], x[1])):
        print(f"{n:5d}  {name}")
    print(f"{sum(n for n, _ in jobs):5d}  total")
    print(f"\n{bad} flagged")
    raise SystemExit(1 if bad else 0)


if __name__ == "__main__":
    main()
