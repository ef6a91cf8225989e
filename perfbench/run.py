"""walk_spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Run from the repository root. Spark logs go to stderr. Stdout gets one
line with the environment, the check verdict and the wall and CPU split of
set-up and of every measured operation, then, as its last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding either the
end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``; its spans are written under ``.perfbench_out/``). The exit
code is 0 only when every output check passed.

End-to-end metrics, the same for every workload:

- ``items_per_cpu_s``: URLs fetched (crawl_wide) or input rows
  deduplicated (text_dedup) per CPU second of the process tree (driver,
  JVM, Python workers), median over the measured operations. On a shared
  host, wall-clock throughput of the same run drifted by a third with the
  neighbours' load while CPU time moved a few percent; the traced run
  reports the wall-clock figures as ``wall.*``.
- ``setup_s``: CPU seconds of the set-up: session start, warm-up pass and
  the median of three rounds of input generation and engine prep.
- ``peak_rss_mb``: peak resident memory of the process tree, sampled.

The environment is pinned here, before the JVM starts: ``local[N]`` with
N = min(usable cores, 4), a 2 GB driver, Spark's local and temp dirs inside
the checkout, and the checkout on the Python workers' import path.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402

MAX_CORES = 4
DRIVER_MEMORY = "2g"


class RssSampler:
    """Samples the process tree's RSS (driver, JVM, Python workers)."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,),
                                        daemon=True)

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.peak = max(self.peak, procs.tree_rss_bytes(os.getpid()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _pin_environment(work: str) -> None:
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Spark's Python workers do not inherit sys.path: without this a run
    # launched outside the checkout fails with ModuleNotFoundError
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tempfile.tempdir = os.environ["TMPDIR"]


def _session(cores: int, work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("walk_spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a fixed-size heap keeps the JVM's resident set from depending on
        # when it grows; no perf-data file under /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads job and stage counts back from the status
        # store; keep enough of them
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.ui.retainedStages", "40000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, then wait until the JVM and every process it started
    (the Python workers) have ended."""
    from pyspark import SparkContext

    started = procs.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while any(map(procs.alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(procs.alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "walk_spark", "__init__.py")):
        print(f"perfbench: no walk_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _pin_environment(work)
    from perfbench.workloads import (
        SELF_MODULES, WORKLOADS, Run, finish_layers,
    )
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    spark = None
    try:
        with RssSampler() as rss:
            t0, c0 = time.perf_counter(), procs.tree_cpu_seconds(os.getpid())
            spark = _session(cores, work)
            run = Run(spark, args.seed, args.seconds, bool(args.trace),
                      cores, work)
            run.setup_time("session_s", time.perf_counter() - t0,
                           procs.tree_cpu_seconds(os.getpid()) - c0)
            WORKLOADS[args.workload](run)
            if run.traced:
                finish_layers(run)
                out = os.path.join(ROOT, ".perfbench_out")
                os.makedirs(out, exist_ok=True)
                run.tracer.dump(os.path.join(
                    out, f"trace-{args.workload}-seed{args.seed}.jsonl"))
                run.tracer.uninstall()
            _stop(spark)
            spark = None
    except Exception:  # noqa: BLE001 - report, clean up, fail the run
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"local[{cores}] driver={DRIVER_MEMORY} checks="
          + ("passed" if not run.problems else "FAILED") + " setup "
          + " ".join(f"{k}={v:.2f}" for k, v in run.setup.items())
          + " cpu " + " ".join(f"{k}={v:.2f}" for k, v in run.setup_cpu.items())
          + " ops " + " ".join(f"{n}/{w:.2f}s/{c:.2f}cpu" for n, w, c in run.ops))
    for p in run.problems:
        print(f"perfbench: check failed: {p}")
    if run.traced:
        layers = {
            "spark.session_s": run.setup["session_s"],
            "setup.inputs_s": run.setup.get("inputs_s", 0.0),
            "setup.warmup_s": run.setup.get("warmup_s", 0.0),
            "plans.crawl.prep_s": run.setup.get("prep_s", 0.0),
            "wall.setup_s": sum(run.setup.values()),
            **run.layers,
        }
        metrics = {k: {"value": layers.get(k, 0), "unit": u}
                   for k, u in layer_units(SELF_MODULES).items()}
    else:
        m = dict(run.metrics)
        m["setup_s"] = sum(run.setup_cpu.values())
        m["peak_rss_mb"] = rss.peak / 2**20
        metrics = {k: {"value": m[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": not run.problems, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if not run.problems else 1


#: end-to-end metrics, reported by every workload (see Run.report);
#: setup_s is the CPU time of the set-up, which a loaded host stretches
#: less than its wall time
E2E_UNITS = {"items_per_cpu_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def layer_units(self_modules) -> dict[str, str]:
    """Every per-layer metric with its unit; a traced run reports all of
    them, with 0 for layers its workload does not reach."""
    units = {
        "wall.items_per_s": "1/s", "wall.op_p50_ms": "ms", "wall.setup_s": "s",
        "spark.session_s": "s", "spark.jobs": "count",
        "spark.tasks": "count", "spark.failed_tasks": "count",
        "setup.inputs_s": "s", "setup.warmup_s": "s",
        "plans.crawl.prep_s": "s", "plans.crawl.superstep_p50_s": "s",
        "plans.crawl.jobs_per_superstep": "count",
        "plans.crawl.tasks_per_superstep": "count",
        "plans.crawl.fetch_extract_s": "s", "plans.crawl.checkpoint_s": "s",
        "plans.crawl.bloom_wait_s": "s",
        "functions.extract.pages_per_s": "1/s",
        "functions.urlnorm.urls_per_s": "1/s",
        "operators.politeness.pick_s": "s",
        "operators.dedup.expand_build_s": "s",
        "operators.dedup.bloom_merge_s": "s",
        "operators.dedup.candidates": "count",
        "operators.dedup.new_urls": "count",
        "operators.dedup.new_ratio": "ratio",
        "operators.frontier.seq_assign_s": "s",
        "operators.queries.capture_index_ms": "ms",
        "operators.queries.lookup_ms": "ms",
        "operators.sitemap.index_page_ms": "ms",
        "server.read_p50_ms": "ms", "server.reads_per_s": "1/s",
        "server.route_ms": "ms", "server.http_ms": "ms",
        "server.jobs_per_read": "count", "server.read_samples": "count",
        "operators.dedup_text.minhash_s": "s",
        "operators.dedup_text.simhash_s": "s",
        "operators.similarity.embdup_s": "s",
        "trace.overhead_pct": "%",
    }
    units.update({f"self_s.{m}": "s" for m in self_modules})
    return units


if __name__ == "__main__":
    sys.exit(main())
