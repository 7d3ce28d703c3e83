"""Physical-plan inspection helpers.

The engine's 100 TB contract is enforced structurally, not by hope:
filters must reach the parquet scan (PushedFilters), projections must
prune the read schema (ReadSchema), small sides must broadcast, and
hot expression paths must stay inside whole-stage codegen. These
helpers expose the formatted plan as a string so tests (and the bench
audit) can assert those properties instead of eyeballing explain()
output.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain() output as a string (modes: simple, extended,
    codegen, cost, formatted)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def final_plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """Execute the frame (collect) and return the FINAL adaptive plan.
    Under AQE the pre-execution plan hides codegen annotations and
    runtime join/partition decisions behind ``isFinalPlan=false`` —
    inspect this one when asserting what actually ran. Materializes
    the result: use at test scale only."""
    df.collect()
    return plan_string(df, mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates the parquet scan accepted for pushdown."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        inner = m.group(1).strip()
        if inner:
            out.extend(p.strip() for p in inner.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings, one per file scan — the columns that
    actually get decoded (column pruning evidence)."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", plan_string(df))


def has_node(df: DataFrame, node: str) -> bool:
    """True if the physical plan contains an operator whose name
    matches ``node`` (e.g. 'BroadcastHashJoin', 'SortMergeJoin',
    'TakeOrderedAndProject', 'WholeStageCodegen')."""
    return node in plan_string(df)


def scan_partition_counts(df: DataFrame) -> list[int]:
    """Selected-partition count per file scan in the physical plan —
    the authoritative directory-pruning evidence (the textual explain
    modes don't carry a count). Non-partitioned scans report 1."""
    out: list[int] = []

    def walk(plan):
        leaves = plan.collectLeaves()
        for i in range(leaves.length()):
            node = leaves.apply(i)
            name = node.getClass().getSimpleName()
            # AQE wraps the whole query: the adaptive node is a leaf
            # of its parent, so descend into its inner plan
            if "AdaptiveSparkPlan" in name:
                walk(node.initialPlan())
            elif "QueryStage" in name:
                walk(node.plan())
            else:
                try:
                    out.append(
                        int(node.selectedPartitions().partitionCount())
                    )
                except Exception:  # leaves without a file listing
                    continue

    walk(df._jdf.queryExecution().executedPlan())
    return out


def build_jobs(spark, build) -> tuple[DataFrame, int]:
    """``build()``'s DataFrame and the Spark jobs launched while it was
    built (eager footer reads, probe ``count()``/``collect()`` calls). Read
    from the scheduler's job-id counter, which moves the moment a job
    is submitted; the status tracker only sees a job once the listener
    bus has delivered its start event. Nothing else may submit jobs
    meanwhile."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    df = build()
    return df, dag.nextJobId() - before
