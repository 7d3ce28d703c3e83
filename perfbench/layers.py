"""Per-layer probes, all taken from outside the package.

- Spark work per op (jobs, stages, tasks, executor time, shuffle,
  spill) is read from the application status store for the job and
  stage ids the op created. Streaming micro-batches run under their
  own job group, so ids are taken as ranges of the scheduler's
  counters rather than by group.
- Operator metrics (Python evaluation, file scans) are read from the
  SQL status store's plan graphs of the executions the op created.
- Micro-batches come from a ``StreamingQueryListener``.
- ``sources.sinks`` and ``streaming.fsio`` are timed by wrapping their
  public functions (and ``IndexFS`` methods) wherever the package
  bound them.

All of it answers with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import inspect
import os
import re
import sys
import threading
import time
from datetime import datetime

PKG = "avk_job_skill_analytics_spark"

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "PiB": 2.0**50,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value in base units (s, bytes, count).

    Accepts ``"426 ms"``, ``"1018.0 KiB"``, ``"60,000"`` and the
    per-task form ``"total (min, med, max ...)\\n4.0 s (1.9 s, ...)"``.
    """
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkProbe:
    """Job, stage and SQL-execution deltas of one op."""

    _PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_exec = self._max_execution_id()

    def flush(self) -> None:
        """Wait until every posted listener event has been handled."""
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        lst = self._sql.executionsList(int(n - 1), 1)
        return lst.apply(0).executionId() if lst.size() else -1

    def _new_executions(self) -> list:
        n = int(self._sql.executionsCount())
        k = 32
        while True:
            lst = self._sql.executionsList(max(0, n - k), k)
            items = [lst.apply(i) for i in range(lst.size())]
            if (not items or items[0].executionId() <= self._last_exec
                    or k >= n):
                break
            k *= 2
        new = [e for e in items if e.executionId() > self._last_exec]
        if items:
            self._last_exec = max(self._last_exec, items[-1].executionId())
        return new

    def stage_metrics(self, since: tuple[int, int]) -> dict:
        job0, stage0 = since
        job1, stage1 = self.mark()
        out = {
            "spark.jobs": job1 - job0, "spark.stages": 0, "spark.tasks": 0,
            "spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0,
            "spark.gc_s": 0.0, "spark.shuffle_read_bytes": 0,
            "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0,
        }
        for sid in range(stage0, stage1):
            seq = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for i in range(seq.size()):
                s = seq.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["spark.executor_run_s"] += s.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["spark.gc_s"] += s.jvmGcTime() / 1e3
                out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spark.spill_bytes"] += (
                    s.memoryBytesSpilled() + s.diskBytesSpilled()
                )
        return out

    def operator_metrics(self) -> dict:
        out = {
            "operators.python_eval_s": 0.0, "operators.python_rows": 0,
            "sources.scan_s": 0.0, "sources.scan_bytes": 0,
            "sources.scan_files": 0,
        }
        for e in self._new_executions():
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if self._PYTHON_NODE.search(name):
                    wanted = {
                        "time to run Python workers": "operators.python_eval_s",
                        "number of output rows": "operators.python_rows",
                    }
                elif name.startswith("Scan "):
                    wanted = {
                        "scan time": "sources.scan_s",
                        "size of files read": "sources.scan_bytes",
                        "number of files read": "sources.scan_files",
                    }
                else:
                    continue
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    key = wanted.get(m.name())
                    acc = m.accumulatorId()
                    if key and values.contains(acc):
                        out[key] += parse_metric(values.apply(acc))
        for k in ("operators.python_rows", "sources.scan_bytes",
                  "sources.scan_files"):
            out[k] = int(out[k])
        return out


def stream_listener(sink: list):
    """A listener appending one dict per micro-batch to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            start = datetime.fromisoformat(
                p.timestamp.replace("Z", "+00:00")
            ).timestamp()
            ops = p.stateOperators or []
            sink.append({
                "start": start,
                "trigger_ms": float(d.get("triggerExecution", 0)),
                "add_batch_ms": float(d.get("addBatch", 0)),
                "wal_commit_ms": float(d.get("walCommit", 0)),
                "query_planning_ms": float(d.get("queryPlanning", 0)),
                "latest_offset_ms": float(d.get("latestOffset", 0)),
                "input_rows": int(p.numInputRows),
                "state_rows": sum(int(o.numRowsTotal) for o in ops),
                "state_mem_bytes": sum(int(o.memoryUsedBytes) for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


class CallTimer:
    """Times the outermost calls into a module's public functions."""

    def __init__(self, kind: str, record):
        self.kind = kind
        self._record = record          # record(kind, start, end, name)
        self._depth = threading.local()

    def wrap(self, fn):
        timer = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            depth = getattr(timer._depth, "n", 0)
            if depth:
                return fn(*args, **kwargs)
            timer._depth.n = 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                timer._depth.n = 0
                timer._record(timer.kind, t0, time.time(), fn.__name__)

        return timed

    def install(self, module, classes: tuple[str, ...] = ()) -> None:
        """Wrap every public function of ``module`` in every package
        module that bound it, and the public methods of ``classes``."""
        public = [
            fn for name, fn in vars(module).items()
            if inspect.isfunction(fn) and not name.startswith("_")
            and fn.__module__ == module.__name__
        ]
        wrapped = {id(fn): self.wrap(fn) for fn in public}
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for name, value in list(vars(mod).items()):
                if id(value) in wrapped:
                    setattr(mod, name, wrapped[id(value)])
        for cls_name in classes:
            cls = getattr(module, cls_name)
            for name, fn in list(vars(cls).items()):
                if inspect.isfunction(fn) and not name.startswith("_"):
                    setattr(cls, name, self.wrap(fn))


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class PeakMemory:
    """Peak summed proportional set size (PSS) of this process and all
    its descendants: the driver JVM, the Python worker daemon and its
    forked workers. PSS splits pages the forked workers share, so the
    sum does not grow with the number of idle workers."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_bytes = 0

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, ValueError):
            pass
        return 0

    def sample(self) -> None:
        total = sum(self._pss(p) for p in process_tree(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
