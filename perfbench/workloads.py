"""The benchmark's workloads.

Each workload takes a ``Run`` (session, seed, run length, tracer), sets
itself up, runs a warm-up pass, measures operations for ``run.seconds``
(at least one crawl, at least two dedup job sets), checks every output
against expectations derived in ``perfbench.inputs`` and fills
``run.metrics`` (end-to-end) and ``run.layers`` (reported by the traced
run, which instead measures one untraced, one traced and one untraced
operation).

Spark state is pinned by ``perfbench.run``; the engine is only called
through its public functions.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from perfbench import procs
from perfbench.inputs import Corpus, dedup_inputs, read_requests
from perfbench.trace import (
    Tracer, jd_time, median, module_self_time, superstep_times,
)
from walk_spark.config import CrawlConfig
from walk_spark.functions.extract import with_extraction
from walk_spark.functions.urlnorm import normalize_url_series
from walk_spark.operators import dedup_text, similarity
from walk_spark.operators.frontier import STATUS_FAILED, STATUS_QUEUED
from walk_spark.operators.politeness import pick_budget_window
from walk_spark.operators.queries import build_capture_index, get_capture
from walk_spark.operators.sitemap import sorted_index_page
from walk_spark.plans.crawl import Crawler
from walk_spark.server import WalkServer

#: input generation + engine prep is repeated this often; setup_s takes
#: the median, so one slow repetition does not move it
SETUP_REPS = 3

#: modules that call Spark actions, whose self time the traced run reports
#: (``self_s.<module>``); "bench" is actions the benchmark itself calls
SELF_MODULES = [
    "plans.crawl", "operators.dedup", "operators.frontier",
    "operators.queries", "operators.dedup_text", "operators.similarity",
    "server", "bench",
]


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    traced: bool
    cores: int
    work: str
    setup: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    #: traced measurement windows (t0, t1, first job id, end job id)
    windows: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.spark)
        #: measured operations: (items, wall seconds, CPU seconds)
        self.ops: list[tuple[int, float, float]] = []
        #: CPU seconds per setup part, alongside the wall seconds in setup
        self.setup_cpu: dict[str, float] = {}

    def check(self, what: str, n: int, bad: int) -> None:
        """Record ``n`` checked outcomes of which ``bad`` were wrong."""
        self.attempted += n
        self.failed += bad
        if bad:
            self.problems.append(f"{what}: {bad} of {n} wrong")

    def report(self, ops: list[tuple[int, float, float]]) -> None:
        """Figures over measured operations (a crawl, a dedup job set):
        items (URLs, input rows) per CPU second of the process tree, the
        end-to-end metric, and the wall-clock figures, which the traced
        run reports (on a shared host they drift with its load)."""
        self.metrics["items_per_cpu_s"] = median(n / c for n, _, c in ops)
        self.layers["wall.items_per_s"] = median(n / w for n, w, _ in ops)
        self.layers["wall.op_p50_ms"] = 1000 * median(w for _, w, _ in ops)

    def setup_time(self, part: str, seconds: float, cpu: float) -> None:
        self.setup[part] = self.setup.get(part, 0.0) + seconds
        self.setup_cpu[part] = self.setup_cpu.get(part, 0.0) + cpu


def _timed(fn, *a, **k):
    t0 = time.perf_counter()
    out = fn(*a, **k)
    return out, time.perf_counter() - t0


def _cpu() -> float:
    return procs.tree_cpu_seconds(os.getpid())


def _measured(fn, *a, **k):
    """(fn's result, wall seconds, process-tree CPU seconds)."""
    c0 = _cpu()
    out, dt = _timed(fn, *a, **k)
    return out, dt, _cpu() - c0


def _median_setup(run: Run, make):
    """Call ``make()`` SETUP_REPS times; it returns (value, {part: (wall s,
    CPU s)}). Each part's medians go to the run's setup; the values are
    returned."""
    values, parts = [], {}
    for _ in range(SETUP_REPS):
        v, p = make()
        values.append(v)
        for k, t in p.items():
            parts.setdefault(k, []).append(t)
    for k, ts in parts.items():
        run.setup_time(k, median(w for w, _ in ts), median(c for _, c in ts))
    return values


def _bracket(run: Run, op):
    """Traced run: untraced, traced, untraced ``op``. The overhead compares
    the traced op's CPU per item with the mean of its untraced neighbours,
    which brackets the warm-up trend the ops still ride on. Returns the
    traced op's result."""
    op()
    tr = run.tracer
    tr.install()
    t0, j0 = tr.now(), tr.job_mark()
    out = op()
    run.windows.append((t0, tr.now(), j0, tr.job_mark()))
    tr.uninstall()
    op()
    (n0, _, c0), (n1, _, c1), (n2, _, c2) = run.ops[-3:]
    untraced = (c0 / n0 + c2 / n2) / 2
    run.layers["trace.overhead_pct"] = 100 * (c1 / n1 / untraced - 1)
    run.report([run.ops[-3], run.ops[-1]])
    return out


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------

def _crawl_config(corpus: Corpus) -> CrawlConfig:
    """Bloom prefilter on, sized at ~10 bits per url per seen-set
    partition; no politeness budget; in-memory state."""
    cfg = CrawlConfig(
        seeds=corpus.seeds(), domains=corpus.domains(),
        record_redirects=False, dedup_pages=False,
        use_bloom=True, bloom_expected_items=corpus.n,
    )
    cfg.bloom_num_bits = max(10 * corpus.n // cfg.seen_partitions, 65536)
    return cfg


#: per-host budget of the traced politeness pick (no workload crawls with
#: a budget; the pick runs over a traced crawl's mid-run frontier)
PICK_BUDGET = 100


def _prepare(run: Run, corpus: Corpus):
    """Generate the corpus, then build and warm a Crawler over it.
    Returns ((crawler, pages, reference depths), setup parts)."""
    def generate():
        pages = corpus.pages_df(run.spark, run.cores).cache()
        pages.count()
        return pages, corpus.reference_depths()

    def prep():
        with run.tracer.span("plans.crawl.prep"):
            c = Crawler(run.spark, pages, _crawl_config(corpus))
            c.warm()
        return c

    (pages, ref), *t_in = _measured(generate)
    c, *t_prep = _measured(prep)
    return (c, pages, ref), {"inputs_s": t_in, "prep_s": t_prep}


def _check_crawl(run: Run, corpus: Corpus, ref: dict, result) -> int:
    """Crawl output checks; returns the number of URLs fetched."""
    rows = result.order.select("url", "depth", "superstep").collect()
    urls = [r["url"] for r in rows]
    fetched = set(urls)
    n_failed = result.frontier.filter(F.col("status") == STATUS_FAILED).count()
    run.check("crawl: corpus urls fetched", corpus.n, len(set(ref) - fetched))
    run.check("crawl: urls outside the corpus", len(fetched),
              len(fetched - set(ref)))
    run.check("crawl: urls fetched twice", len(urls), len(urls) - len(fetched))
    run.check("crawl: depth differs from reference BFS", len(rows),
              sum(ref.get(r["url"], -1) != r["depth"] for r in rows))
    run.check("crawl: failed rows", len(rows), n_failed)
    return len(urls)


def _crawl_layers(run: Run, corpus: Corpus, pages, result, window) -> None:
    """Per-layer metrics of one traced crawl (``window`` = t0, t1, jobs)."""
    t0, t1, job_lo, job_hi = window
    spans = run.tracer.window(t0, t1)
    steps = superstep_times(spans, t1)
    n_steps = max(len(result.metrics), 1)
    jobs, tasks, _ = run.tracer.task_counts(job_lo, job_hi)
    cand = result.ok_resources().agg(
        F.coalesce(F.sum(F.size("links")), F.lit(0))).first()[0]
    new = sum(m["new_urls"] for m in result.metrics)
    waits = [s for s in spans if s["name"] == "Future.result"]
    # the politeness pick over the frontier as it stood mid-crawl: a BFS
    # fetches every url queued when superstep k begins at k or later
    mid = len(result.metrics) // 2 + 1
    queued = result.frontier.join(
        result.order.filter(F.col("superstep") >= mid).select("url"), "url"
    ).withColumn("status", F.lit(STATUS_QUEUED)).cache()
    n_queued = queued.count()
    pick = [_timed(lambda: pick_budget_window(
        queued, PICK_BUDGET, approx_queued=n_queued).count())[1]
        for _ in range(3)]
    queued.unpersist()
    extract = [_timed(lambda: with_extraction(pages).write.format("noop")
                      .mode("overwrite").save())[1] for _ in range(2)]
    urls = pd.Series([corpus.url(p).upper().replace("/P/", "/p/./")
                      for p in range(corpus.n)])
    norm = [_timed(normalize_url_series, urls)[1] for _ in range(3)]
    run.layers.update({
        "plans.crawl.superstep_p50_s": median(steps),
        "plans.crawl.jobs_per_superstep": jobs / n_steps,
        "plans.crawl.tasks_per_superstep": tasks / n_steps,
        "plans.crawl.fetch_extract_s": jd_time(spans, ":fetch_extract"),
        "plans.crawl.checkpoint_s": jd_time(
            spans, ":checkpoint", ":checkpoint_lineage"),
        "plans.crawl.bloom_wait_s": sum(
            s["dur_s"] for s in waits if "bloom" in s.get("line", "")),
        "functions.extract.pages_per_s": corpus.n / median(extract),
        "functions.urlnorm.urls_per_s": corpus.n / median(norm),
        "operators.politeness.pick_s": median(pick),
        "operators.dedup.expand_build_s": jd_time(spans, ":expand_build"),
        "operators.dedup.bloom_merge_s": jd_time(
            spans, ":bloom_merge", ":bloom_bcast"),
        "operators.dedup.candidates": cand,
        "operators.dedup.new_urls": new,
        "operators.dedup.new_ratio": new / cand if cand else 0.0,
        "operators.frontier.seq_assign_s": jd_time(spans, ":seq_assign"),
    })


def _traced_crawl(run: Run, crawler):
    """Run one crawl; returns (result, trace window)."""
    tr = run.tracer
    t0, j0 = tr.now(), tr.job_mark() if tr.installed else 0
    with tr.span("plans.crawl.run"):
        result = crawler.run()
    return result, (t0, tr.now(), j0, tr.job_mark() if tr.installed else 0)


#: crawl_wide shape: 2 wide supersteps — the 1250 seeds, then the other
#: 8750 pages, whose 70000 links all point at seen urls
WIDE = dict(n=10000, n_hosts=64, out_degree=8, n_seeds=1250)


def crawl_wide(run: Run) -> None:
    # warm-up: a full crawl of another corpus of the same shape, so the
    # measured crawl finds Python workers started and the JVM's hot paths
    # compiled for this data size (a first crawl runs ~40% slower, and a
    # smaller warm-up crawl leaves the measured one ~25% noisier)
    def warm_up():
        warm = Corpus(run.seed + 1, **WIDE)
        (c, _, ref), _ = _prepare(run, warm)
        _check_crawl(run, warm, ref, c.run())

    _, *t = _measured(warm_up)
    run.setup_time("warmup_s", *t)

    corpus = Corpus(run.seed, **WIDE)
    prepared = _median_setup(run, lambda: _prepare(run, corpus))

    def crawl_once():
        c, pages, ref = prepared.pop()
        (result, window), dt, cpu = _measured(_traced_crawl, run, c)
        run.ops.append((_check_crawl(run, corpus, ref, result), dt, cpu))
        return pages, result, window

    if run.traced:
        pages, result, window = _bracket(run, crawl_once)
        run.tracer.install()
    else:
        # crawl until the run length is spent (at least one crawl)
        while not run.ops or (sum(w for _, w, _ in run.ops) < run.seconds
                              and prepared):
            crawl_once()
        run.report(run.ops)
        return
    _crawl_layers(run, corpus, pages, result, window)
    _serve_layers(run, corpus, result.ok_resources())


# ---------------------------------------------------------------------------
# read path, measured in the traced run over the crawled archive
# ---------------------------------------------------------------------------

PAGE_SIZE = 10
CLIENTS = 2


def _get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _read_ok(corpus: Corpus, index: list[str], req, status: int,
             body: bytes) -> bool:
    kind, _, arg = req
    if status != 200:
        return False
    if kind == "raw":
        return body.decode() == corpus.text(arg)
    data = json.loads(body)["data"]
    if kind == "meta":
        return data["url"] == corpus.url(arg) and data["title"] == corpus.title(arg)
    want = index[(arg - 1) * PAGE_SIZE: arg * PAGE_SIZE]
    return [d["url"] for d in data] == want


def _read_window(run: Run, port: int, corpus: Corpus, index: list[str],
                 requests) -> tuple[list[float], float]:
    """Closed loop: CLIENTS threads each send their next request from the
    shared seeded sequence when the previous one returns, until the run
    length is spent. Returns (latencies in s, window seconds)."""
    seq = iter(requests)
    lock = threading.Lock()
    lat, bad = [], [0]
    t_start = time.perf_counter()
    deadline = t_start + run.seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                req = next(seq)
            t0 = time.perf_counter()
            status, body = _get(port, req[1])
            dt = time.perf_counter() - t0
            ok = _read_ok(corpus, index, req, status, body)
            with lock:
                lat.append(dt)
                bad[0] += not ok

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    window = time.perf_counter() - t_start
    run.check("serve: reads with a wrong answer", len(lat), bad[0])
    return lat, window


def _serve_layers(run: Run, corpus: Corpus, ok) -> None:
    """Serve the crawl's ok resources through WalkServer and read them back
    over HTTP: a seeded mix of ~70% capture meta reads, ~20% raw capture
    reads and ~10% SURT index pages, every answer checked."""
    tr = run.tracer
    index = [corpus.url(p) for p in sorted(
        range(corpus.n), key=lambda p: (corpus.surt(p), corpus.warc_ts(p)))]
    requests = read_requests(corpus, run.seed, 10000, PAGE_SIZE)
    routes = []
    orig = WalkServer.route

    def timed_route(self, path, query):
        out, dt = _timed(orig, self, path, query)
        routes.append(dt)
        return out

    srv = WalkServer({"bench": ok})
    port = srv.serve()
    WalkServer.route = timed_route
    try:
        t0, j0 = tr.now(), tr.job_mark()
        lat, secs = _read_window(run, port, corpus, index, requests)
        run.windows.append((t0, tr.now(), j0, tr.job_mark()))
    finally:
        WalkServer.route = orig
        srv.shutdown()
    jobs = run.windows[-1][3] - j0
    urls = [corpus.url(p) for p in range(0, corpus.n, corpus.n // 3)]
    ix_t = [_timed(build_capture_index, ok)[1] for _ in range(2)]
    ix = build_capture_index(ok)
    look = [_timed(get_capture, ok, u, capture_index=ix)[1] for u in urls]
    page = [_timed(lambda: sorted_index_page(ok, PAGE_SIZE, off).collect())[1]
            for off in (0, 5 * PAGE_SIZE)]
    p50 = 1000 * median(lat)
    run.layers.update({
        "server.read_p50_ms": p50,
        "server.reads_per_s": len(lat) / secs,
        "server.read_samples": len(lat),
        "server.route_ms": 1000 * median(routes),
        "server.http_ms": p50 - 1000 * median(routes),
        "server.jobs_per_read": jobs / max(len(lat), 1),
        "operators.queries.capture_index_ms": 1000 * median(ix_t),
        "operators.queries.lookup_ms": 1000 * median(look),
        "operators.sitemap.index_page_ms": 1000 * median(page),
    })


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------

DEDUP = dict(n_docs=2500, n_vecs=1250, n_dups=25)


def _dedup_frames(run: Run, seed: int, shape: dict):
    def generate():
        docs, emb, dp, vp = dedup_inputs(seed, **shape)
        d = run.spark.createDataFrame(docs).repartition(run.cores).cache()
        e = run.spark.createDataFrame(
            emb, "vec_id long, embedding array<float>"
        ).repartition(run.cores).cache()
        d.count(), e.count()
        return d, e, dp, vp

    frames, *t = _measured(generate)
    return frames, {"inputs_s": t}


def _dedup_jobs(run: Run, frames) -> dict[str, float]:
    """One job set; checks every injected pair is reported."""
    d, e, dp, vp = frames
    jobs = {
        "operators.dedup_text.minhash_s": (
            lambda: dedup_text.minhash_lsh_pairs(d, threshold=0.8), dp),
        "operators.dedup_text.simhash_s": (
            lambda: dedup_text.simhash_pairs(d, max_hamming=3), dp),
        "operators.similarity.embdup_s": (
            lambda: similarity.embedding_dup_pairs(
                e, threshold=0.99, dim=64, bits=8, bands=4), vp),
    }
    out = {}
    for name, (job, want) in jobs.items():
        with run.tracer.span(name):
            rows, out[name] = _timed(
                lambda: job().select("id_a", "id_b").collect())
        found = {(r["id_a"], r["id_b"]) for r in rows}
        run.check(f"{name}: injected pairs found", len(want), len(want - found))
    return out


def text_dedup(run: Run) -> None:
    frames = _median_setup(run, lambda: _dedup_frames(run, run.seed, DEDUP))[-1]
    # warm-up: one job set over the measured inputs (the jobs keep no state
    # between calls)
    _, *t = _measured(_dedup_jobs, run, frames)
    run.setup_time("warmup_s", *t)
    rows = DEDUP["n_docs"] + DEDUP["n_vecs"] + 2 * DEDUP["n_dups"]

    def job_set() -> dict[str, float]:
        jobs, dt, cpu = _measured(_dedup_jobs, run, frames)
        run.ops.append((rows, dt, cpu))
        return jobs

    if run.traced:
        run.layers.update(_bracket(run, job_set))
        return
    # job sets until the run length is spent, at least two: the first set
    # after the warm-up uses more CPU than the second, so a slow host that
    # fits only one set in the run length must not change the mix
    while len(run.ops) < 2 or sum(w for _, w, _ in run.ops) < run.seconds:
        job_set()
    run.report(run.ops)


WORKLOADS = {
    "crawl_wide": crawl_wide,
    "text_dedup": text_dedup,
}


def finish_layers(run: Run) -> None:
    """Layer metrics over all traced measurement windows: self time per
    module and Spark job / task totals."""
    spans = [s for w in run.windows for s in run.tracer.window(w[0], w[1])]
    by_mod = module_self_time(spans)
    for m in SELF_MODULES:
        run.layers[f"self_s.{m}"] = by_mod.get(m, 0.0)
    counts = [run.tracer.task_counts(w[2], w[3]) for w in run.windows]
    run.layers.update({
        "spark.jobs": sum(c[0] for c in counts),
        "spark.tasks": sum(c[1] for c in counts),
        "spark.failed_tasks": sum(c[2] for c in counts),
    })
