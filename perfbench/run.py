"""Closed-loop benchmark of the registry queries, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one client thread and a
``local[<cores>]`` session: each op starts only after the previous one
completed. A run

1. generates the workload's inputs from ``--seed`` (cached under
   ``.perfbench/data``) and their expected per-op digests from the
   DuckDB oracles (``oracle.py``);
2. starts the session and runs neutral warm-ups;
3. runs every op once with ``collect()`` to check its output;
4. runs at least three timed passes, each in an op order drawn from the
   seed, for at least ``--seconds``, with the calibration probe
   (``probe``) before every op and after the last. ``setup_s`` is the
   time from process start to the first timed op, less step 1 (input
   generation and the DuckDB oracles). ``pass_s`` and ``op_p50_s`` are
   host-scaled: each op's wall over the mean of the two probes around
   it, times ``PROBE_REF_S``;
5. with ``--trace 1``, then runs two traced passes (no probes) that
   split every op into layer spans and counters, writes them to
   ``.perfbench/traces/<workload>-seed<N>.json`` and prints the
   per-layer metrics, with the peak memory of the timed passes, instead
   of the end-to-end ones.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()    # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "avk_job_skill_analytics_spark"
sys.path.insert(0, HERE)

import spans as S  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIN_PASSES = 3           # timed passes, however short --seconds is
TRACED_PASSES = 2
PROBE_REF_S = 0.15       # probe wall the timed metrics are scaled to


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable from the Python workers, whatever the cwd."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # JVM temp files and no hsperfdata under the system /tmp
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.chdir(work)   # spark-warehouse, metastore_db, derby.log
    tempfile.tempdir = None


def warm_up(spark, work: str) -> None:
    """Neutral warm-ups: a parquet write and read, a shuffle and the
    calibration probe. No registry query runs here; the check pass
    that follows warms everything else (Python workers, streaming,
    JDBC)."""
    src = os.path.join(work, "warm_src")
    spark.range(100).selectExpr("id", "id % 5 AS k").write.parquet(src)
    spark.read.parquet(src).groupBy("k").count().write.format(
        "noop").mode("overwrite").save()
    spark.range(100_000).selectExpr("id % 7 AS k").groupBy(
        "k").count().write.format("noop").mode("overwrite").save()
    for _ in range(5):
        probe(spark)


def probe(spark) -> float:
    """Wall of the calibration probe: two fixed queries that run no
    package code, one over a task per core with a shuffle, one in a
    single task. Timed passes run it around every op, so a host that
    slows the op slows the probe alike and the op's wall over the
    probe's stays put. The parallel query alone overstated how much a
    busy host slows the streaming ops, the single task alone understated
    it for the dashboard reads; together they tracked both."""
    cores = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    spark.range(0, 400_000, 1, cores).selectExpr(
        "id % 97 AS k", "id * 3 AS v").groupBy("k").sum("v").write.format(
        "noop").mode("overwrite").save()
    spark.range(0, 400_000, 1, 1).selectExpr(
        "id % 97 AS k", "id * 3 AS v").where("k > 3").write.format(
        "noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Bench:
    def __init__(self, ops: tuple[str, ...], work: str, sf_dir: str):
        self.ops, self.work, self.sf_dir = ops, work, sf_dir
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0

    # -- session ---------------------------------------------------
    def setup(self) -> None:
        from avk_job_skill_analytics_spark.plans.session import get_spark

        self.spark = get_spark(
            master=f"local[{self.cores}]",
            shuffle_partitions=max(self.cores, 4),
        )
        warm_up(self.spark, self.work)

    def cleanup(self) -> None:
        """Drop what an op left in the session (cached frames, memory
        sink views) so the next op starts clean."""
        from avk_job_skill_analytics_spark.plans import session

        self.spark.catalog.clearCache()
        # clearCache unpersisted these; a full FIFO would otherwise
        # unpersist old entries whose plans equal ones the next op
        # persists, and that op would skip its cache jobs
        session._SCRATCH_PERSISTED.clear()
        for t in self.spark.catalog.listTables():
            if t.isTemporary:
                self.spark.catalog.dropTempView(t.name)

    @staticmethod
    def reset_fixtures() -> None:
        """Every pass builds its memoized fixtures again, so every
        pass does the same work."""
        from avk_job_skill_analytics_spark.registry import _fixtures

        for memo in _fixtures.ALL_MEMOS:
            memo.clear()

    def fail(self, name: str, what: str) -> None:
        self.failed += 1
        print(f"# FAIL {name}: {what}", file=sys.stderr)

    # -- check pass ------------------------------------------------
    def check(self, expected: dict) -> None:
        import oracle

        queries = self.queries()
        self.reset_fixtures()
        for name in self.ops:
            self.attempted += 1
            try:
                df = queries[name](self.spark, self.sf_dir)
                got = oracle.digest(df.columns, [tuple(r) for r in df.collect()])
            except Exception:
                self.fail(name, traceback.format_exc(limit=3))
                continue
            finally:
                self.cleanup()
            if got != expected[name]:
                self.fail(name, f"output {got} != expected {expected[name]}")

    def queries(self) -> dict:
        from avk_job_skill_analytics_spark.registry import all_queries

        return all_queries()

    # -- timed passes ----------------------------------------------
    def run_op(self, fn) -> None:
        fn(self.spark, self.sf_dir).write.format("noop").mode(
            "overwrite").save()

    def passes(self, orders, seconds: float, min_passes: int,
               tracer=None) -> list[list[tuple[str, float, float]]]:
        """Run passes until ``seconds`` passed and ``min_passes`` ran.
        Returns each pass as its ``(op, wall, probe)`` list, failed ops
        left out. Untraced, the calibration probe runs before every op
        and after the last one, and ``probe`` is the mean of the two
        around the op; traced, it does not run and ``probe`` is 0."""
        queries = self.queries()
        out = []
        t_start = time.perf_counter()
        while (len(out) < min_passes
               or time.perf_counter() - t_start < seconds):
            self.reset_fixtures()
            walls = []
            before = probe(self.spark) if tracer is None else 0.0
            for name in next(orders):
                self.attempted += 1
                fn = queries[name]
                t0 = time.perf_counter()
                try:
                    if tracer is None:
                        self.run_op(fn)
                    else:
                        tracer.run(name, len(out),
                                   lambda: fn(self.spark, self.sf_dir))
                    wall = time.perf_counter() - t0
                except Exception:
                    self.fail(name, traceback.format_exc(limit=3))
                    wall = None
                finally:
                    self.cleanup()
                after = probe(self.spark) if tracer is None else 0.0
                if wall is not None:
                    walls.append((name, wall, (before + after) / 2))
                before = after
            out.append(walls)
        return out

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and the
        Python workers it started have exited."""
        if self.spark is None:
            return
        from layers import process_tree, running

        started = process_tree(os.getpid())[1:]
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc = gateway.proc       # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 10
        for pid in started:
            while running(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if running(pid):
                os.kill(pid, signal.SIGKILL)


def pass_wall(walls: list[tuple[str, float, float]]) -> float:
    """A pass's wall: the sum of its op walls."""
    return sum(t for _, t, _ in walls)


def host_steal() -> tuple[int, int]:
    """Steal and total jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def note(what: str, since: float) -> float:
    """Log a phase's wall to stderr; returns the current clock."""
    now = time.perf_counter()
    print(f"# {what}: {now - since:.2f} s", file=sys.stderr)
    return now


def metric_block(spec_metrics: list[dict], values: dict) -> dict:
    return {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in spec_metrics
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    spec = load_spec()
    ops = WORKLOADS[args.workload]
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    import oracle

    t0 = time.perf_counter()
    sf_dir = oracle.inputs(os.path.join(state, "data"), args.seed)
    expected = oracle.expected(sf_dir, ops)
    clock = note("inputs and oracles", t0)
    excluded = clock - t0          # left out of setup_s
    prepare_env(work)

    bench = Bench(ops, work, sf_dir)
    orders = S.op_orders(list(ops), args.seed)
    try:
        bench.setup()
        clock = note("session", clock)
        bench.check(expected)
        clock = note("check pass", clock)
        setup_s = clock - T_START - excluded
        from layers import PeakMemory

        # the sampler thread would slow the passes it times
        mem = PeakMemory() if args.trace else contextlib.nullcontext()
        steal0 = host_steal()
        with mem:
            timed = bench.passes(orders, args.seconds, MIN_PASSES)
        steal1 = host_steal()
        pass_walls = [pass_wall(p) for p in timed]
        scaled = S.host_scaled(timed, PROBE_REF_S)
        per_op: dict[str, list[float]] = {}
        for name, w in (x for p in scaled for x in p):
            per_op.setdefault(name, []).append(w)
        clock = note(
            f"timed passes {[round(x, 2) for x in pass_walls]}, host steal "
            f"{(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1%}",
            clock)
        print("# host-scaled op walls " + json.dumps(
            [[(name, round(w, 3)) for name, w in p] for p in scaled]),
            file=sys.stderr)
        if args.trace:
            import tracer as T

            tr = T.Tracer(bench.spark, bench.cores)
            t_walls = [pass_wall(p) for p in bench.passes(
                orders, 0, TRACED_PASSES, tracer=tr)]
            clock = note(f"{len(t_walls)} traced passes", clock)
            report = tr.report(pass_walls, t_walls)
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            path = os.path.join(state, "traces",
                                f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump(report, f, indent=1)
            mismatch = report["work_mismatch"]
            for name in mismatch:
                bench.fail(name, f"work differs across passes: {mismatch[name]}")
            values = report["per_layer"]
            values["memory.peak_rss_mb"] = mem.peak_bytes / 2**20
            block = metric_block(spec["per_layer"], values)
        else:
            values = {
                "setup_s": setup_s,
                # with three passes, means varied less across seeds
                # than medians
                "pass_s": statistics.mean(
                    sum(w for _, w in p) for p in scaled),
                "op_p50_s": S.median(
                    [statistics.mean(v) for v in per_op.values()]),
            }
            block = metric_block(spec["end_to_end"], values)
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        note("shutdown", clock)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": block,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
