"""Traced passes: one span tree and one per-layer record per op.

Each op gets a root span with three children, ``build`` (the registry
call), ``plan`` (forcing the executed plan) and ``execute`` (the noop
write). Micro-batches reported by the streaming listener and timed
calls into ``sources.sinks`` and ``streaming.fsio`` become children of
the smallest span that contains them. Counters are read after the op
span has closed, so reading them costs the op nothing.
"""

from __future__ import annotations

import threading
import time

import layers as L
import spans as S

# per-layer counters summed over the ops of a pass
SUMMED = (
    "registry.build_s", "registry.build_jobs", "plans.plan_s",
    "spark.execute_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "operators.python_eval_s", "operators.python_rows",
    "sources.scan_s", "sources.scan_bytes", "sources.scan_files",
    "sources.sink_s", "sources.sink_calls", "streaming.triggers",
    "streaming.trigger_s", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.query_planning_ms",
    "streaming.latest_offset_ms", "streaming.input_rows",
    "streaming.state_rows", "streaming.state_mem_bytes",
    "streaming.fsio_s", "streaming.fsio_calls", "fixtures.builds",
    "fixtures.hits",
)
# layer of each span kind's self time
SELF_LAYER = {
    "build": "registry.build_s", "plan": "plans.plan_s",
    "execute": "spark.execute_s", "sink": "sources.sink_s",
    "trigger": "streaming.trigger_s", "fsio": "streaming.fsio_s",
}
# per-op counters the identical-work guard compares across passes
SAME_WORK = ("fixtures.builds", "fixtures.hits", "spark.jobs")


class Tracer:
    def __init__(self, spark, cores: int):
        from avk_job_skill_analytics_spark.sources import sinks
        from avk_job_skill_analytics_spark.streaming import fsio

        self.cores = cores
        self.probe = L.SparkProbe(spark)
        self.triggers: list[dict] = []
        spark.streams.addListener(L.stream_listener(self.triggers))
        self._calls: list[tuple] = []
        self._lock = threading.Lock()
        L.CallTimer("sink", self._record).install(sinks)
        L.CallTimer("fsio", self._record).install(fsio, classes=("IndexFS",))
        self.ops: list[dict] = []

    def _record(self, kind, start, end, name) -> None:
        with self._lock:
            self._calls.append((kind, start, end, name))

    def run(self, name: str, pass_no: int, build) -> None:
        """Run one op (``build()`` returns its DataFrame) as a span tree."""
        from avk_job_skill_analytics_spark.registry import _fixtures

        probe = self.probe
        probe.flush()
        probe.operator_metrics()        # skip executions of earlier cleanup
        with self._lock:
            self._calls.clear()
        n_trig = len(self.triggers)
        fx0 = _fixtures.counters()
        mark0 = probe.mark()

        t0 = time.time()
        df = build()
        t1 = time.time()
        mark1 = probe.mark()
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.time()

        probe.flush()
        fx1 = _fixtures.counters()
        op_id = len(self.ops)
        tree = [
            S.Span("op", t0, t3, op_id, 0),
            S.Span("build", t0, t1, op_id, 1, parent=0),
            S.Span("plan", t1, t2, op_id, 2, parent=0),
            S.Span("execute", t2, t3, op_id, 3, parent=0),
        ]
        trig = self.triggers[n_trig:]
        for b in trig:
            tree.append(S.Span("trigger", b["start"],
                               b["start"] + b["trigger_ms"] / 1e3,
                               op_id, len(tree)))
        with self._lock:
            calls = list(self._calls)
        for kind, a, b, fn_name in calls:
            tree.append(S.Span(kind, a, b, op_id, len(tree),
                               attrs={"fn": fn_name}))
        S.link_parents(tree, 0)
        selfs = S.self_times(tree, 0)
        by_kind: dict[str, float] = {}
        for sp in tree:
            by_kind[sp.kind] = by_kind.get(sp.kind, 0.0) + selfs[sp.span_id]

        m = {k: 0 for k in SUMMED}
        for kind, layer in SELF_LAYER.items():
            m[layer] = by_kind.get(kind, 0.0)
        m["registry.build_jobs"] = mark1[0] - mark0[0]
        m.update(probe.stage_metrics(mark0))
        m.update(probe.operator_metrics())
        m["sources.sink_calls"] = sum(1 for c in calls if c[0] == "sink")
        m["streaming.fsio_calls"] = sum(1 for c in calls if c[0] == "fsio")
        m["streaming.triggers"] = len(trig)
        for key in ("add_batch_ms", "wal_commit_ms", "query_planning_ms",
                    "latest_offset_ms", "input_rows"):
            m[f"streaming.{key}"] = sum(b[key] for b in trig)
        for key in ("state_rows", "state_mem_bytes"):
            m[f"streaming.{key}"] = max((b[key] for b in trig), default=0)
        busy = [b["trigger_ms"] for b in trig if b["input_rows"] > 0]
        m["streaming.trigger_p50_ms"] = S.median(busy) if busy else 0.0
        m["fixtures.builds"] = fx1[0] - fx0[0]
        m["fixtures.hits"] = fx1[1] - fx0[1]
        wall = t3 - t0
        m["spark.slot_busy_frac"] = (
            m["spark.executor_run_s"] / (wall * self.cores) if wall else 0.0
        )
        self.ops.append({
            "op": name, "pass": pass_no, "op_id": op_id, "wall_s": wall,
            "self_s": by_kind, "self_sum_s": sum(selfs.values()),
            "metrics": m,
            "triggers": trig,
            "spans": [
                {"id": sp.span_id, "parent": sp.parent, "kind": sp.kind,
                 "start": sp.start, "end": sp.end, **sp.attrs}
                for sp in tree
            ],
        })

    def report(self, untraced_passes: list[float],
               traced_passes: list[float]) -> dict:
        """Per-pass sums of every per-layer metric, their medians, the
        identical-work check, the tracing overhead and the op-wall and
        trigger distributions of the traced passes (a tail only where
        the run has enough samples beyond it)."""
        passes: dict[int, dict] = {}
        for rec in self.ops:
            agg = passes.setdefault(rec["pass"], {k: 0 for k in SUMMED}
                                    | {"wall_s": 0.0})
            for k in SUMMED:
                agg[k] += rec["metrics"][k]
            agg["wall_s"] += rec["wall_s"]
        for agg in passes.values():
            agg["spark.slot_busy_frac"] = agg["spark.executor_run_s"] / (
                agg["wall_s"] * self.cores)
        per_layer = {
            k: S.median([p[k] for p in passes.values()])
            for k in (*SUMMED, "spark.slot_busy_frac")
        }
        busy = [b["trigger_ms"] for r in self.ops for b in r["triggers"]
                if b["input_rows"] > 0]
        per_layer["streaming.trigger_p50_ms"] = S.median(busy) if busy else 0.0

        seen: dict[str, set] = {}
        for rec in self.ops:
            seen.setdefault(rec["op"], set()).add(
                tuple(rec["metrics"][k] for k in SAME_WORK))
        mismatch = {
            op: [dict(zip(SAME_WORK, v)) for v in sorted(vals)]
            for op, vals in seen.items() if len(vals) > 1
        }
        base = S.median(untraced_passes)

        def dist(values):
            return {"n": len(values),
                    "p50": S.median(values) if values else None,
                    "p90": S.tail(values, 0.9)}

        return {
            "per_layer": per_layer,
            "passes": passes,
            "untraced_pass_s": untraced_passes,
            "traced_pass_s": traced_passes,
            "tracing_overhead": (S.median(traced_passes) - base) / base,
            "work_mismatch": mismatch,
            "op_wall_s": dist([r["wall_s"] for r in self.ops]),
            "busy_trigger_ms": dist(busy),
            "max_self_sum_error_s": max(
                (abs(r["self_sum_s"] - r["wall_s"]) for r in self.ops),
                default=0.0),
            "ops": self.ops,
        }
