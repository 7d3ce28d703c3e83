"""Benchmark harness — runs the full query inventory at a scale factor.

Prints ONE compact JSON line as the FINAL stdout line, sized to fit
the driver's 2000-char output-tail capture (r1-r3 tails truncated the
full 159-query dict and parsed as null):

  {"metric": "total_query_wall", "value": <sec>, "unit": "sec",
   "queries": {<headline name>: <sec>, ...},
   "subtotals": {<family>: <sec>, ...},
   "n_queries": N, "loadavg": [...], "sf": <sf>}

The full per-query dict is written to BENCH_DETAIL.json (same schema,
"queries" complete) so every number survives stdout truncation.

Config via env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] threads (default 32)

Measurement protocol (noise isolation):
- Each query is materialized with the noop sink (full execution, no
  driver-side collect cost), so timings measure the Spark plan itself.
- Warm-ups are NEUTRAL actions (a tiny parquet read + shuffle, a
  mapInPandas ping for Python workers, a throwaway streaming agg for
  state-store providers) — never an untimed run of a query that is
  about to be timed, so no query gets a flattered cache-warm number.
- Families run in churn order: streaming first (right after the
  streaming warm-up — workers/state stores idle out if deferred),
  then the pure batch set, then io-heavy (Derby JDBC, XLSX codec,
  filesystem sinks) LAST so their JVM/GC churn can't inflate the
  batch numbers (r03 showed uniform ~1.3x drift on unchanged batch
  queries in a churned session).
- A JVM System.gc() runs at family boundaries, and os.getloadavg()
  is recorded at start/end so cross-round drift on unchanged queries
  can be attributed to machine load rather than plan changes.
- LOAD GUARD: if 1-min load exceeds LOAD_THRESHOLD at start, the run
  WAITS (up to MAX_LOAD_WAIT_S) for the machine to settle; if it never
  does, the artifact carries "load_contaminated": true so a drifted
  number is never silently attributed to code. After the sweep, any
  query that regressed >25% vs the previous BENCH_DETAIL.json is
  re-timed MULTIPLE times post-settle and the MEDIAN of all samples
  stands ("samples" records every observation) — a single-run load
  spike or GC hiccup self-heals instead of masquerading as a
  regression, while a real code regression reproduces across samples
  and keeps its slow median.
- SPARK_GRAFT_RERUNS=N (default 1) times EVERY selected query N times
  and reports per-query medians — the isolation mode for pinning down
  an outlier (e.g. `SPARK_GRAFT_RERUNS=5 python bench.py
  a12_top_tokens`).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from avk_job_skill_analytics_spark.plans.session import get_spark  # noqa: E402
from avk_job_skill_analytics_spark.registry import all_queries  # noqa: E402
from avk_job_skill_analytics_spark.registry import _fixtures  # noqa: E402
from avk_job_skill_analytics_spark.streaming.incremental import (  # noqa: E402
    drain_available_now,
)

# Headline queries for the compact stdout line: the most expensive /
# most representative member of each family (full dict lands in
# BENCH_DETAIL.json). Keep this list small enough that the final line
# stays well under the driver's 2000-char tail capture.
HEADLINE = [
    "pipeline_curate",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "a7_pricing_summary",
    "j6_asof_attribution",
    "win_sessionize",
    "dd_minhash_lsh",
    "dd_dup_clusters_twostar",
    "graph_pagerank_suppliers",
    "ml_kmeans_centroids",
    "ann_cosine_topk",
    "txt_gopher_rules",
    "mm_extract_features",
    "stream_stateful_user_stats",
    "s3_excel_datasource",
    "s6_jdbc_roundtrip",
    "dd_substring_spans",
    "emb_gram_matrix",
    "dd_prefix_filter_join",
    "stream_ssjoin_maintain",
    "ml_auc_gate",
    "ml_cascade_rerank",
    "ml_ab_bootstrap",
    "dq_expectations",
]

_FAMILIES = (
    "tpch", "stream", "pipeline", "dd", "txt", "mm", "win",
    "ann", "ml", "graph", "pii", "agg", "ud", "dq", "er", "emb",
)
_IO_PREFIXES = ("s1_", "s2_", "s3_", "s4_", "s5_", "s6_", "s7_", "hf_", "io_")


def family(name: str) -> str:
    for p in _FAMILIES:
        if name.startswith(p + "_"):
            return p
    if name.startswith(_IO_PREFIXES):
        return "io"
    return "core"


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _neutral_warmup(spark, sf_dir: str) -> None:
    """Warm JVM codegen, the parquet reader path, the shuffle machinery
    and the Arrow/Python worker pool WITHOUT executing any registry
    query (every timed query starts equally cold)."""
    try:
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).groupBy(
            "r_name"
        ).count().write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    try:  # shuffle + codegen warm
        spark.range(100_000).selectExpr("id % 7 AS k").groupBy(
            "k"
        ).count().write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    try:  # Arrow + Python worker pool warm
        spark.range(1_000).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass


def _streaming_warmup(spark, tiny_dir: str) -> None:
    """Spin up the streaming engine + state-store provider with a
    throwaway aggregation over the tiniest SF — NOT one of the timed
    stream_* queries. The first stateful streaming query in a session
    otherwise pays ~7-30s of session-fixed provider spin-up."""
    import shutil
    import tempfile

    src = os.path.join(tiny_dir, "region.parquet")
    d = tempfile.mkdtemp(prefix="bench_warm_src_")
    try:
        try:  # file streams need a DIRECTORY source — stage the tiny file
            shutil.copy(src, os.path.join(d, "region.parquet"))
            schema = spark.read.parquet(src).schema
        except Exception as exc:
            print(f"# WARN streaming warm-up stage failed: {exc}",
                  file=sys.stderr)
            return
        try:
            drain_available_now(
                spark,
                spark.readStream.schema(schema).parquet(d)
                .groupBy("r_name").count()
                .writeStream.format("noop").outputMode("complete"),
            )
        except Exception as exc:
            print(f"# WARN streaming warm-up failed: {exc}", file=sys.stderr)
        try:
            # the Python stateful path (applyInPandasWithState) spins up
            # its own worker/state machinery on first use — warm it with
            # a trivial inline stateful op, not a registry query
            from pyspark.sql.streaming.state import GroupStateTimeout

            def _echo(key, pdfs, state):
                import pandas as pd
                n = sum(len(p) for p in pdfs)
                yield pd.DataFrame({"k": [key[0]], "n": [n]})

            drain_available_now(
                spark,
                spark.readStream.schema(schema).parquet(d)
                .groupBy("r_regionkey")
                .applyInPandasWithState(
                    _echo, "k long, n long", "n long", "update",
                    GroupStateTimeout.NoTimeout,
                )
                .writeStream.format("noop").outputMode("update"),
            )
        except Exception as exc:
            print(f"# WARN stateful warm-up failed: {exc}", file=sys.stderr)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _jvm_gc(spark) -> None:
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


LOAD_THRESHOLD = 2.0
MAX_LOAD_WAIT_S = 300


def _wait_for_settle(max_wait_s: int = MAX_LOAD_WAIT_S,
                     threshold: float = LOAD_THRESHOLD) -> int:
    """Block until the 1-min load average drops below ``threshold`` or
    the wait budget runs out. Returns seconds waited."""
    waited = 0
    while os.getloadavg()[0] > threshold and waited < max_wait_s:
        time.sleep(10)
        waited += 10
    return waited


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Round for the archived BENCH_DETAIL_r<N>.json: explicit beats
    # inference (ADVICE r12 — the max(BENCH_r*)+1 guess lands under the
    # wrong round if the driver ledger is written before/after this
    # run). `--round N` or SPARK_GRAFT_ROUND=N; else infer.
    argv = sys.argv[1:]
    round_override = os.environ.get("SPARK_GRAFT_ROUND")
    if "--round" in argv:
        i = argv.index("--round")
        round_override = argv[i + 1]
        del argv[i:i + 2]
    load_wait_s = _wait_for_settle()
    if load_wait_s:
        print(f"# waited {load_wait_s}s for load to settle",
              file=sys.stderr)
    spark = get_spark(master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 4))
    load_start = list(os.getloadavg())
    load_contaminated = load_start[0] > LOAD_THRESHOLD
    # previous run's full detail = the outlier reference (same machine,
    # same sf; the driver archives its own copy per round)
    prior: dict[str, float] = {}
    try:
        with open(os.path.join(ROOT, "BENCH_DETAIL.json")) as f:
            prev = json.load(f)
        if prev.get("sf") == sf_from_dir(sf_dir):
            prior = {
                k: v for k, v in prev.get("queries", {}).items() if v > 0
            }
    except Exception:
        pass

    queries = all_queries()
    only = argv
    if only:
        queries = {k: v for k, v in queries.items() if k in only}

    _neutral_warmup(spark, sf_dir)
    if any(family(n) == "stream" for n in queries):
        _streaming_warmup(spark, "/root/testdata/sf0.001")

    # Churn order: streaming → pure batch → io-heavy; alphabetical
    # within a group for stable round-over-round comparison.
    def group(name: str) -> int:
        fam = family(name)
        return 0 if fam == "stream" else (2 if fam == "io" else 1)

    import statistics

    n_reruns = max(1, int(os.environ.get("SPARK_GRAFT_RERUNS", "1")))

    def _cleanup() -> None:
        # queries are timed independently: drop any caches a query
        # persisted and any memory-sink temp views a streaming query
        # drained into, so later timings don't ride on (or pay GC for)
        # earlier queries' leftover state
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)

    def _one_timing(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    sample_failures: dict[str, int] = {}
    # fixture accounting (VERDICT r11 #2): a query whose FIRST timing
    # builds an expensive memoized fixture records fixture_cold: true
    # (the number includes one-off build cost); a query that resolved
    # through an already-built fixture records false (steady-state
    # replay). Queries touching no registered memo get no tag, so
    # round-over-round deltas need no prose footnote to interpret.
    fixture_cold: dict[str, bool] = {}
    order = sorted(queries.items(), key=lambda kv: (group(kv[0]), kv[0]))
    prev_group = None
    for name, fn in order:
        g = group(name)
        if prev_group is not None and g != prev_group:
            # family boundary: drop leftover state, nudge the JVM to
            # collect so the next family doesn't pay this one's GC
            spark.catalog.clearCache()
            _jvm_gc(spark)
        prev_group = g
        obs: list[float] = []
        builds0, hits0 = _fixtures.counters()
        for _ in range(n_reruns):
            try:
                obs.append(_one_timing(fn))
            except Exception as exc:  # a failure must not hide the rest
                print(f"# FAIL {name}: {exc}", file=sys.stderr)
                break
            _cleanup()
        builds1, hits1 = _fixtures.counters()
        if builds1 > builds0:
            # with reruns, only the first observation paid the build;
            # the published median is warm-dominated for n >= 3, so
            # the tag tracks what the NUMBER contains, not whether a
            # build happened (the cold sample survives in "samples")
            fixture_cold[name] = n_reruns == 1
        elif hits1 > hits0:
            fixture_cold[name] = False
        if len(obs) < n_reruns:
            # a later-rerun failure must be VISIBLE in the artifact —
            # a flaky query in isolation mode would otherwise record a
            # clean median while single-pass mode records -1.0
            sample_failures[name] = n_reruns - len(obs)
        if obs:
            timings[name] = round(statistics.median(obs), 3)
            if n_reruns > 1:
                samples[name] = obs
        else:
            timings[name] = -1.0
        _cleanup()

    # outlier re-time (single-pass mode): queries >25% slower than
    # last run's settled number (and big enough for the delta to
    # matter) get FOUR more samples after the load settles; the
    # MEDIAN of all five stands. A single-run load spike or GC pause
    # is outvoted; a real code regression reproduces and keeps its
    # slow median. A run that STARTED contaminated (load never
    # settled inside the wait budget) widens the pass and waits the
    # full budget again before re-timing, and the artifact records
    # whether the re-time itself ran settled — so round-over-round
    # driver comparisons stay signal even when the initial sweep ran
    # under load (VERDICT r10 #3).
    outlier_cap = 12 if load_contaminated else 5
    outliers = [] if n_reruns > 1 else sorted(
        (
            n for n, t in timings.items()
            if t > 0.5 and n in prior and t > 1.25 * prior[n]
        ),
        key=lambda n: timings[n] - prior[n],
        reverse=True,
    )[:outlier_cap]
    resettle: dict = {}
    if outliers:
        waited = _wait_for_settle(
            MAX_LOAD_WAIT_S if load_contaminated else 60
        )
        resettle = {
            "names": outliers,
            "wait_s": waited,
            "settled": os.getloadavg()[0] <= LOAD_THRESHOLD,
        }
        spark.catalog.clearCache()
        _jvm_gc(spark)
        for name in outliers:
            obs = [timings[name]]
            for _ in range(4):
                try:
                    obs.append(_one_timing(queries[name]))
                except Exception:
                    break
                spark.catalog.clearCache()
            samples[name] = obs
            timings[name] = round(statistics.median(obs), 3)
            if fixture_cold.get(name):
                # the published median is now dominated by warm
                # re-samples (the fixture was memoized by sample 1) —
                # a true tag would launder warm-path regressions as
                # fixture noise; the cold first observation stays
                # visible in "samples"
                fixture_cold[name] = False
            _cleanup()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    subtotals: dict[str, float] = {}
    for n, t in timings.items():
        if t >= 0:
            subtotals[family(n)] = round(subtotals.get(family(n), 0) + t, 3)
    full = {
        "metric": "total_query_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "subtotals": subtotals,
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "loadavg": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "load_wait_s": load_wait_s,
        "load_contaminated": load_contaminated,
        "samples": samples,
        "sample_failures": sample_failures,
        "n_reruns_per_query": n_reruns,
        "resettle": resettle,
        "fixture_cold": fixture_cold,
        "sf": sf_from_dir(sf_dir),
    }
    with open(os.path.join(ROOT, "BENCH_DETAIL.json"), "w") as f:
        f.write(json.dumps(full, separators=(",", ":")) + "\n")
    if not only:
        # archive FULL sweeps per round (VERDICT r11 #2): the round
        # comes from --round/SPARK_GRAFT_ROUND when given, else is
        # inferred from the driver's BENCH_r<N>.json ledger (this run
        # feeds round max+1). Partial runs never archive — they'd
        # overwrite a full sweep with a fragment.
        import glob as _glob
        import re as _re

        if round_override is not None:
            n = int(round_override)
        else:
            rounds = [
                int(m.group(1))
                for f in _glob.glob(os.path.join(ROOT, "BENCH_r*.json"))
                if (m := _re.search(r"BENCH_r(\d+)\.json$", f))
            ]
            n = max(rounds, default=0) + 1
        # DRIFT GUARD (VERDICT r12 #1): the r12 archive shipped a
        # 1.22x uniform machine-load drift as if it were a code
        # regression. A sweep may not become the round-of-record when
        # (a) its own resettle pass could not settle, or (b) the
        # median per-query ratio vs the PREVIOUS archived sweep at the
        # same sf exceeds 1.1 — uniform drift of that size is machine
        # load, not code (code regressions are never uniform across
        # ~345 independent plans). The run still lands in
        # BENCH_DETAIL.json for inspection; re-run from a settled
        # machine to archive.
        drift_median = None
        prev_detail = sorted(
            _glob.glob(os.path.join(ROOT, "BENCH_DETAIL_r*.json"))
        )
        prev_detail = [
            p for p in prev_detail
            if (m := _re.search(r"_r(\d+)\.json$", p)) and int(m.group(1)) < n
        ]
        if prev_detail:
            try:
                with open(prev_detail[-1]) as f:
                    ref = json.load(f)
                if ref.get("sf") == full["sf"]:
                    ratios = sorted(
                        timings[k] / v
                        for k, v in ref.get("queries", {}).items()
                        if v >= 0.2 and timings.get(k, -1) > 0
                    )
                    if ratios:
                        drift_median = round(
                            ratios[len(ratios) // 2], 3
                        )
            except Exception:
                pass
        refused = None
        if resettle and not resettle.get("settled", True):
            refused = "resettle_never_settled"
        elif drift_median is not None and drift_median > 1.1:
            refused = f"median_drift_{drift_median}x_vs_r{n - 1}"
        full["drift_median"] = drift_median
        if refused:
            full["archive_refused"] = refused
            print(f"# ARCHIVE REFUSED ({refused}): BENCH_DETAIL_r{n:02d}"
                  ".json NOT written — re-run load-clean",
                  file=sys.stderr)
        else:
            with open(os.path.join(ROOT, f"BENCH_DETAIL_r{n:02d}.json"),
                      "w") as f:
                f.write(json.dumps(full, separators=(",", ":")) + "\n")
        # the inspection copy must carry the guard's verdict too
        with open(os.path.join(ROOT, "BENCH_DETAIL.json"), "w") as f:
            f.write(json.dumps(full, separators=(",", ":")) + "\n")

    compact = dict(full)
    compact["queries"] = {
        n: timings[n] for n in HEADLINE if n in timings
    }
    compact.pop("samples", None)
    compact.pop("sample_failures", None)
    compact.pop("fixture_cold", None)
    compact["n_fixture_cold"] = sum(fixture_cold.values())
    compact["n_reruns"] = len(samples)
    compact["n_flaky"] = len(sample_failures)
    compact["detail"] = "BENCH_DETAIL.json"
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never exceed tail capture
        compact.pop("queries", None)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
