"""Outside-in span tracing for the benchmark's traced run.

While installed, the tracer wraps the pyspark actions the engine calls
(``localCheckpoint``, ``collect``, ``first``, ``count``, ``isEmpty``,
``DataFrameWriter.parquet`` / ``save``) and ``Future.result`` (the crawl's
bloom / metrics helper-thread waits) in this process only. Each span is
attributed three ways: to the innermost ``walk_spark`` module on the call
stack, to the calling thread's active Spark job description (the crawl
labels its jobs ``ss{k}:fetch_extract`` and so on) and to its thread. Spans
carry the Spark job-id range they overlapped, read from
``sc.statusTracker()``. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import json
import linecache
import statistics
import sys
import threading
import time

from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

_ACTIONS = [
    (DataFrame, "localCheckpoint"), (DataFrame, "collect"),
    (DataFrame, "first"), (DataFrame, "count"), (DataFrame, "isEmpty"),
    (DataFrameWriter, "parquet"), (DataFrameWriter, "save"),
    (concurrent.futures.Future, "result"),
]


def _caller(frame) -> tuple[str, str, str]:
    """(module, function, source line) of the innermost walk_spark frame,
    or the benchmark's own frame when no engine code is on the stack."""
    f = frame
    while f is not None:
        mod = f.f_globals.get("__name__", "")
        if mod.startswith("walk_spark."):
            line = linecache.getline(f.f_code.co_filename, f.f_lineno).strip()
            return mod[len("walk_spark."):], f.f_code.co_name, line
        f = f.f_back
    return "bench", frame.f_code.co_name if frame else "", ""


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.installed = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[type, str, object]] = []
        self._origin = time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self._origin

    def job_mark(self) -> int:
        """One past the highest Spark job id submitted so far."""
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    # -- span recording --------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _begin(self, name: str, frame) -> dict:
        module, func, line = _caller(frame)
        rec = {
            "name": name, "module": module, "func": func,
            "jd": self.sc.getLocalProperty("spark.job.description") or "",
            "thread": threading.current_thread().name,
            "job_lo": self.job_mark(), "child_s": 0.0,
            "t0": self.now(),
        }
        if name == "Future.result":
            rec["line"] = line
        self._stack().append(rec)
        return rec

    def _end(self, rec: dict) -> None:
        dur = self.now() - rec["t0"]
        stack = self._stack()
        stack.pop()
        if stack:
            stack[-1]["child_s"] += dur
        rec["dur_s"] = dur
        rec["self_s"] = dur - rec.pop("child_s")
        rec["job_hi"] = self.job_mark()
        with self._lock:
            self.spans.append(rec)

    def _record(self, name: str, frame, fn, args, kwargs):
        rec = self._begin(name, frame)
        try:
            return fn(*args, **kwargs)
        finally:
            self._end(rec)

    @contextlib.contextmanager
    def span(self, name: str):
        """A benchmark-level span around a call into one layer; recorded
        only while the tracer is installed."""
        if not self.installed:
            yield
            return
        rec = self._begin(name, sys._getframe(2))
        try:
            yield
        finally:
            self._end(rec)

    def install(self) -> None:
        if self.installed:
            return
        tracer = self
        for owner, attr in _ACTIONS:
            orig = owner.__dict__[attr]
            label = f"{owner.__name__}.{attr}"

            def traced(*a, _orig=orig, _label=label, **k):
                return tracer._record(_label, sys._getframe(1), _orig, a, k)

            traced.__name__ = attr
            traced.__doc__ = orig.__doc__
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, traced)
        self.installed = True

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        self.installed = False

    # -- summaries ---------------------------------------------------------

    def window(self, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans if t0 <= s["t0"] <= t1]

    def task_counts(self, job_lo: int, job_hi: int) -> tuple[int, int, int]:
        """(jobs, completed tasks, failed tasks) for job ids in [lo, hi)."""
        st = self.sc.statusTracker()
        stages = set()
        for j in range(job_lo, job_hi):
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        done = failed = 0
        for sid in stages:
            si = st.getStageInfo(sid)
            if si is not None:
                done += si.numCompletedTasks
                failed += si.numFailedTasks
        return job_hi - job_lo, done, failed

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["t0"]):
                f.write(json.dumps(s) + "\n")


def module_self_time(spans: list[dict]) -> dict[str, float]:
    """Self time of the action spans, summed per walk_spark module; the
    ``Future.result`` waits overlap the helper thread's own spans."""
    out: dict[str, float] = {}
    for s in spans:
        if s["name"] != "Future.result":
            out[s["module"]] = out.get(s["module"], 0.0) + s["self_s"]
    return out


def jd_time(spans: list[dict], *suffixes: str) -> float:
    """Self time of spans whose job description ends with a suffix."""
    return sum(s["self_s"] for s in spans
               if s["name"] != "Future.result" and s["jd"].endswith(suffixes))


def superstep_times(spans: list[dict], t_end: float) -> list[float]:
    """Superstep wall times, cut where the job description first moves to
    the next ``ss{k}:`` label."""
    starts: dict[int, float] = {}
    for s in spans:
        jd = s["jd"]
        if jd.startswith("ss") and ":" in jd:
            k = int(jd[2:jd.index(":")])
            starts[k] = min(starts.get(k, s["t0"]), s["t0"])
    ks = sorted(starts)
    ends = [starts[k] for k in ks[1:]] + [t_end]
    return [e - starts[k] for k, e in zip(ks, ends)]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
