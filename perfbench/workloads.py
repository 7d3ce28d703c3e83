"""The benchmark's workloads: which registry queries make up a pass.

An op is one registry query, ``queries()[name](spark, sf_dir)``
materialized with the ``noop`` sink. Every op here has a DuckDB
oracle, so each run checks its output once, untimed. Why each
workload exists is stated in ``BENCHMARK.json`` and the README.
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    "bi_dashboard": (
        "a1_total_count", "a2_distinct_counts", "a3_a5_kpi_cards",
        "a7_pricing_summary", "a9_events_latest_month",
        "a12_top_tokens", "j1_anti_join", "j3_bridge_join",
        "p4_regex_filter", "tpch_q3_shipping_priority",
        "tpch_q6_revenue", "tpch_q12_late_shipments",
    ),
    "etl_incremental": (
        "io_compact_roundtrip", "s6_jdbc_stream_upsert",
        "stream_stateful_user_stats", "s7_manifest_new_files",
    ),
}
