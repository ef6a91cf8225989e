"""The crawl superstep loop — walk's coordinator re-expressed as BSP.

Reference lifecycle (lib/coordinator.go, traced in SURVEY.md §3.1): a
continuous goroutine pipeline (seeds chan -> queue chan -> fetchbot workers
-> CompletedResources -> dedup -> enqueue) with done-detection by queue
emptiness. Here each superstep is one deterministic vectorized round:

  pick batch (politeness budgets, canonical FIFO order)      [F5, S11]
  -> fetch join against the pages table (simulated GET)       [J4, S2]
  -> follow redirect chains (≤ max_redirects iterative joins) [F6, F7]
  -> extract title/links/text/sniff/hash (one Arrow UDF pass) [S3, P1-P6]
  -> update request statuses: done / requeue / failed         [F2, F3, F8]
  -> candidate filter + robots gating                         [P7]
  -> within-batch dedup + seen anti-join (bloom prefilter)    [D1, D2]
  -> assign deterministic discovery sequence, merge frontier  [D5, F1]
  until no queued rows remain                                  [F9]

Determinism: every ordering is (depth, discovery_seq, url); sequence
assignment is the scalable two-phase rank of operators.frontier — byte
identical crawl order across parallelism levels (local[8] == local[32]).

State: frontier/resources/order DataFrames; between supersteps either
``localCheckpoint`` (in-memory runs) or parquet-per-superstep + a manifest
JSONL under ``workdir`` (durable; ``Crawler.resume`` restarts mid-crawl —
SURVEY.md F17; at production scale these writes are Iceberg MERGE commits
and the manifest records snapshot ids).

Deliberate deviations from the reference (documented, not accidental):
- redirect sources become terminal status 'redirected' instead of being
  re-fetched until MaxAttempts (the reference re-enqueues any non-2xx/3xx
  dequeue including redirect hops, lib/coordinator.go:381-384 — wasteful);
- the resources output keeps error/redirect rows with an ``error`` column
  (the reference drops URL-less error resources on the floor,
  lib/coordinator.go:282-286); sinks filter to OK rows (handlers only ever
  receive OK resources, lib/coordinator.go:368-377).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
    TimestampType, ArrayType,
)

from walk_spark.config import CrawlConfig
from walk_spark.functions.extract import with_extraction
from walk_spark.functions.urlnorm import (
    normalize_url, normalize_url_series, url_parts_col,
)
from walk_spark.operators import dedup as D
from walk_spark.operators import politeness as P
from walk_spark.operators.frontier import (
    FRONTIER_SCHEMA, ORDER_COLS, STATUS_DONE, STATUS_FAILED, STATUS_QUEUED,
    STATUS_REDIRECTED, with_global_seq,
)

RESOURCES_SCHEMA = StructType(
    [
        StructField("job_id", StringType()),
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("status", IntegerType()),
        StructField("content_type", StringType()),
        # P6: flattened [k1, v1, k2, v2, ...] response headers
        # (lib/resource.go:41-43, 151-156); populated when
        # cfg.record_headers (lib/config.go:173-174), else NULL. The map
        # view is operators.queries.headers_map (lib/resource.go:58-67).
        StructField("headers", ArrayType(StringType())),
        StructField("content_sniff", StringType()),
        StructField("content_length", LongType()),
        StructField("title", StringType()),
        StructField("hash", StringType()),
        StructField("links", ArrayType(StringType())),
        StructField("text", StringType()),
        StructField("redirect_to", StringType()),
        StructField("redirect_from", StringType()),
        StructField("error", StringType()),
        StructField("superstep", IntegerType()),
        StructField("depth", IntegerType()),
    ]
)

ORDER_SCHEMA = StructType(
    [
        StructField("superstep", IntegerType()),
        StructField("depth", IntegerType()),
        StructField("discovery_seq", LongType()),
        StructField("url", StringType()),
    ]
)

#: auto pin width (``CrawlConfig.pin_partitions`` = 0): enough partitions
#: that each holds ≤ PIN_ROWS_PER_PARTITION corpus rows, clamped to
#: [cores, PIN_WIDTH_FACTOR x cores] — a 4x bigger cluster gets up to 4x
#: the partitions (2-3 task waves per core = straggler slack) while a
#: small input never pays 3 waves of task overhead. Same-window A/B at
#: local[32] (BENCH/BASELINE.md round-5 tuning note): at 4M urls width 96
#: beats width 32 by 1.34x overall / 1.73x on the dominant superstep
#: (140 -> 80 s — 125k html rows in one partition spill); at 2M urls width
#: 96 LOSES 0.71x (task overhead), hence a rows/partition target rather
#: than a blind factor.
PIN_WIDTH_FACTOR = 3
PIN_ROWS_PER_PARTITION = 50_000

_norm_udf = F.pandas_udf(normalize_url_series, returnType=StringType())


@dataclass
class CrawlResult:
    frontier: DataFrame
    resources: DataFrame  # all fetch outcomes; filter ok() for sink parity
    order: DataFrame      # canonical crawl order (superstep, depth, seq, url)
    metrics: list = field(default_factory=list)

    def ok_resources(self) -> DataFrame:
        """What the reference's handlers receive (lib/coordinator.go:368-377):
        OK-status (200..308, lib/job.go:273-275) non-redirect-hop rows."""
        return self.resources.filter(
            F.col("status").between(200, 308) & F.col("error").isNull()
            & F.col("redirect_to").isNull()
        )


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame | None,
        cfg: CrawlConfig,
        robots: DataFrame | None = None,
        workdir: str | None = None,
        robots_delays: DataFrame | None = None,
    ) -> None:
        # bad prefilter config fails here, before any Spark job — not
        # later on the helper thread that maintains the filters
        if cfg.seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(f"unknown seen_filter {cfg.seen_filter!r}")
        if cfg.use_bloom:
            D.check_filters_bytes(D.filter_map_bytes(
                cfg.seen_partitions, cfg.bloom_num_bits))
        self.spark = spark
        self.cfg = cfg
        self.robots = robots
        self.workdir = workdir
        #: robots-declared Crawl-delay per host (input: host, crawl_delay_ms
        #: — sources.robots.crawl_delays_from_bodies). fetchbot honors a
        #: host's robots delay when Polite, not only the configured one
        #: (lib/worker.go:79-90); here it becomes (a) a standing per-host
        #: budget override on the BSP politeness pick and (b) the per-host
        #: sleep interval in http fetch mode. Collected once: only hosts
        #: DECLARING the directive have rows (broadcast-small by the same
        #: argument as the rules table).
        self._robots_delay_ms: dict[str, int] = {}
        if robots_delays is not None and cfg.polite:
            self._robots_delay_ms = {
                r["host"]: int(r["crawl_delay_ms"])
                for r in robots_delays.select("host", "crawl_delay_ms")
                .collect()
                if r["crawl_delay_ms"] and r["crawl_delay_ms"] > 0
            }
        #: standing (host, budget) overrides derived from the robots delays
        #: under the BSP round model: budget = round_ms / robots_delay_ms,
        #: where round_ms is superstep_seconds*1000 (or the round the
        #: configured budget models, base_budget * delay_milli). The robots
        #: delay wins over the configured one in BOTH directions (fetchbot
        #: parity) — raises are honored via max_override_budget on the pick.
        self._robots_budgets = None
        self._robots_budget_max = 0
        base_budget = cfg.effective_host_budget()
        if self._robots_delay_ms and base_budget > 0:
            round_ms = (cfg.superstep_seconds * 1000
                        if cfg.superstep_seconds > 0
                        else base_budget * cfg.delay_milli)
            if round_ms > 0:
                rows = [(h, max(1, int(round_ms // d)))
                        for h, d in self._robots_delay_ms.items()]
                self._robots_budgets = spark.createDataFrame(
                    rows, "host string, budget int")
                self._robots_budget_max = max(b for _, b in rows)
        #: one helper thread for overlapping independent Spark actions
        #: within a superstep (Spark actions are thread-safe); created
        #: lazily, shut down by close() / run()'s finally so repeated
        #: Crawler construction doesn't leak driver threads
        self._pool_inst = None
        # pin / fetch-join width, resolved BEFORE the corpus repartition so
        # the persisted corpus and every superstep's batch repartition agree
        # (exact co-partitioning, no corpus-side exchange). Auto (default)
        # is data-aware — see PIN_WIDTH_FACTOR for the measured crossover.
        cores = spark.sparkContext.defaultParallelism
        if cfg.pin_partitions > 0:
            w = cfg.pin_partitions
        elif pages is not None and cfg.fetch_mode != "http":
            n_rows = pages.count()  # metadata-cheap on parquet/range inputs
            w = min(max(cores, -(-n_rows // PIN_ROWS_PER_PARTITION)),
                    PIN_WIDTH_FACTOR * cores)
        else:
            w = cores
        self._pin_parts = max(w, cfg.seen_partitions, 1)
        if cfg.fetch_mode == "http":
            # S2 real mode: no corpus — fetches go through
            # sources.http_fetch; everything else in the loop is identical
            self.pages = None
        else:
            self.pages = self._prep_pages(pages)
        # the normalized join keys are computed ONCE: persist the prepped
        # corpus projection (url_norm + fetch columns) so each superstep's
        # fetch join doesn't re-run the normalization UDF over the corpus.
        # Pre-partition by the JOIN KEY before persisting: the persisted
        # plan then carries HashPartitioning(p_url_norm), so every
        # superstep's fetch join shuffles only the small batch side — the
        # html-bearing corpus (GBs) is never re-shuffled after prep. At
        # warehouse scale this is the pages table bucketed by url_norm
        # (write once, scan many), not a cache.
        # MEMORY_AND_DISK_DESER keeps the columnar batches on heap with disk
        # spill — a DISK_ONLY corpus made every superstep's fetch join
        # contend on one shared SSD, a per-superstep cost that cannot shrink
        # with executor count.
        from pyspark import StorageLevel
        if self.pages is not None:
            self.pages = self.pages.repartition(
                self._pin_parts, "p_url_norm"
            ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        self._has_redirects: bool | None = None
        self._chains: DataFrame | None = None
        self._chain_hops: DataFrame | None = None
        self._hop_rows: DataFrame | None = None
        self._domains = [self._parse_domain(d) for d in cfg.domains]
        self._hot_hosts: list[str] = sorted(cfg.hot_hosts)
        if cfg.hot_host_threshold > 0 and self.pages is not None:
            self._hot_hosts = sorted(
                set(self._hot_hosts) | set(self._detect_hot_hosts())
            )
        self.metrics: list[dict] = []
        #: broadcasts this crawler's filter probes hold, released after each
        #: superstep's state pin (per-owner registry — a concurrent
        #: Crawler's release can never destroy this one's broadcasts)
        self._bloom_registry: list = []
        self.next_seq = 0
        self.superstep = 0
        self.total_done = 0
        self.frontier: DataFrame | None = None
        # frontier split (the Iceberg-MERGE shape): the ACTIVE (queued)
        # set is the only state rewritten+pinned per superstep; rows that
        # reach a terminal status (done/failed/redirected) are append-only
        # parts, lazy projections over the already-pinned per-superstep
        # `fetched`, compacted every _TERM_COMPACT parts. self.frontier
        # stays the canonical union VIEW for every reader (API, resume,
        # seen-set, tests) — but per-superstep pinned bytes are O(active),
        # not O(every url ever seen).
        self._queued: DataFrame | None = None
        self._term_parts: list[DataFrame] = []
        self.resources: DataFrame | None = None
        self.order: DataFrame | None = None
        # per-superstep output parts — unioned lazily when read, so the
        # growing resources/order logs are never rewritten per superstep
        # (only the frontier, which the loop actually re-reads, is).
        self._res_parts: list[DataFrame] = []
        self._order_parts: list[DataFrame] = []
        self._queued_count: int | None = None
        #: exact count of QUEUED depth-0 rows (seeds are the only urls the
        #: fetch path must still normalize — see _fetch). Maintained with
        #: ZERO extra jobs: seeded from the driver-side seed list, updated
        #: from the per-superstep metrics aggregate (picked vs requeued
        #: depth-0), adjusted by add_seeds*/forget_urls, re-derived in the
        #: same one-time aggregate run() pays on resume. None = unknown →
        #: _fetch keeps the safe normalize branch.
        self._d0_queued: int | None = None
        #: raw seed -> normal form, for driver-known seeds whose normal
        #: form DIFFERS from the raw string (well-formed seeds are fixed
        #: points and are omitted). Lets _fetch attach url_norm with a
        #: tiny broadcast map instead of a Python UDF pass: a non-fixed-
        #: point key can never collide with a depth>0 url (those are
        #: normalizer outputs, i.e. fixed points), so coalesce(map[url],
        #: url) ≡ normalize(url) for every batch row — as long as every
        #: queued depth-0 row came from a driver-side list
        #: (``_streamed_d0`` guards the add_seeds_df / resumed-state
        #: cases, which fall back to the UDF branch).
        self._seed_norms: dict[str, str] = {}
        self._seed_norm_df: DataFrame | None = None
        self._streamed_d0 = False
        #: standing URL-seen prefilter, DRIVER-owned {part_id: filter
        #: bytes} (cfg.seen_filter kind): built once from the frontier,
        #: then each superstep merges a build over only the rows enqueued
        #: since ``_filter_hwm`` (cost ∝ new urls, not total seen). None =
        #: rebuild from the frontier on next use (start, resume, bloom
        #: forget_urls).
        self._filters: dict[int, bytes] | None = None
        self._filter_hwm: int = -1  # superstep whose additions are merged
        #: hosts throttled next superstep (F12 backoff — lib/job.go:122-132;
        #: the reference's slowdown side is commented out, we define the
        #: canonical behavior: a host that returned a backoff code gets half
        #: budget for the following superstep, recovering after one clean one)
        self._backoff_hosts: DataFrame | None = None

    # -- preparation -------------------------------------------------------

    @staticmethod
    def _parse_domain(d: str) -> tuple[str, str]:
        """Domain -> (authority, path prefix), both canonicalized so they
        compare equal against normalized candidate urls
        (reference compares raw parsed hosts, lib/job.go:250-271; our
        candidates are already normalized so domains must be too)."""
        n = normalize_url(d)
        parts = urlsplit(n or d)
        return (parts.netloc, parts.path or "")

    def _prep_pages(self, pages: DataFrame) -> DataFrame:
        """Normalize join keys once; column-prune everything else lazily."""
        cols = dict.fromkeys(pages.columns)
        p = pages.withColumn("p_url_norm", _norm_udf(F.col("url")))
        if "redirect_to" in cols:
            p = p.withColumn(
                "p_redir_norm",
                F.when(
                    F.col("redirect_to").isNotNull(),
                    _norm_udf(F.col("redirect_to")),
                ),
            )
        else:
            p = p.withColumn(
                "redirect_to", F.lit(None).cast("string")
            ).withColumn("p_redir_norm", F.lit(None).cast("string"))
        if "status" not in cols:
            p = p.withColumn("status", F.lit(200))
        if "content_type" not in cols:
            p = p.withColumn(
                "content_type", F.lit("text/html; charset=utf-8")
            )
        if "headers" not in cols:
            # minimal simulated response headers (worker.go records the
            # real response's header map; the corpus join synthesizes the
            # equivalent from the fixture columns)
            p = p.withColumn(
                "headers",
                F.array(F.lit("Content-Type"), F.col("content_type")),
            )
        sel = p.select(
            F.col("p_url_norm"),
            F.col("url").alias("p_url"),
            F.col("warc_ts").alias("p_warc_ts"),
            F.col("html").alias("p_html"),
            F.col("status").alias("p_status"),
            F.col("content_type").alias("p_content_type"),
            F.col("headers").alias("p_headers"),
            F.col("p_redir_norm"),
        )
        if self.cfg.dedup_pages:
            # the fetch join requires p_url_norm unique — duplicate
            # normalized keys would fan out batch rows (inflated metrics,
            # negative queued tracking, duplicate resources). Latest capture
            # wins, tie-break raw url; one whole-row max_by so columns never
            # mix across rows. One corpus shuffle, paid once at prep.
            others = [c for c in sel.columns if c != "p_url_norm"]
            sel = (
                sel.groupBy("p_url_norm")
                .agg(F.max_by(F.struct(*others),
                              F.struct("p_warc_ts", "p_url")).alias("_r"))
                .select("p_url_norm",
                        *[F.col(f"_r.{c}").alias(c) for c in others])
            )
        return sel

    def _note_seed_norms(self, seeds: list[str]) -> None:
        """Record driver-side seeds' normal forms (diffs only) so _fetch
        can use the broadcast-map path; costs ~µs per seed, once."""
        for u in seeds:
            n = normalize_url(u)
            if n and n != u:
                self._seed_norms[u] = n
        self._seed_norm_df = None  # rebuilt lazily on next use

    def _seed_rows(self, seeds: list[str], seq0: int) -> DataFrame:
        """Depth-0 queued frontier rows for driver-side seeds, enqueued as
        the exact raw strings (not normalized — reference
        lib/coordinator.go:174-178), seqs from ``seq0`` in list order.
        Notes their normal forms, so _fetch keeps the map path."""
        self._note_seed_norms(seeds)
        rows = [(u, None, 0, seq0 + i, STATUS_QUEUED, 0, 0, self.superstep,
                 0, self.cfg.job_id) for i, u in enumerate(seeds)]
        return self._with_host(
            self.spark.createDataFrame(rows, FRONTIER_SCHEMA))

    def _with_host(self, df: DataFrame) -> DataFrame:
        """``df`` with ``host`` and ``part_id`` (set or replaced) derived
        from its ``url``."""
        host = url_parts_col(F.col("url"))[1]
        return df.withColumns({
            "host": host, "part_id": self._part_id_col(host, F.col("url")),
        })

    def _detect_hot_hosts(self) -> list[str]:
        """Auto-detect hot hosts from corpus page counts (one groupBy at
        init; the list is then FIXED for the crawl so part_id stays a pure
        function of url)."""
        host_col = url_parts_col(F.col("p_url"))[1]
        rows = (
            self.pages.groupBy(host_col.alias("h"))
            .count()
            .filter(F.col("count") > self.cfg.hot_host_threshold)
            .collect()
        )
        return sorted(r["h"] for r in rows)

    def _part_id_col(self, host, url):
        """Salted seen-set partition id (north rule): host-hash normally,
        url-hash for hot hosts so one giant host can't pin a partition.
        Pure function of (host, url) given the fixed hot-host list —
        consistent across supersteps, resume, and cluster sizes."""
        P = F.lit(self.cfg.seen_partitions)
        by_host = F.pmod(F.xxhash64(host), P)
        if not self._hot_hosts:
            return by_host.cast("int")
        by_url = F.pmod(F.xxhash64(url), P)
        return (
            F.when(host.isin(self._hot_hosts), by_url).otherwise(by_host)
        ).cast("int")

    def _jd(self, label: str) -> None:
        """Thread-local Spark job description — every eager action in the
        superstep gets a stable ``ss<k>:<phase>`` label so the Spark UI /
        status tracker can attribute stages to loop phases. ``run()``
        restores the caller's description when it returns."""
        self.spark.sparkContext.setJobDescription(label)

    @property
    def _pool(self):
        if self._pool_inst is None:
            from concurrent.futures import ThreadPoolExecutor
            self._pool_inst = ThreadPoolExecutor(max_workers=1)
        return self._pool_inst

    def close(self) -> None:
        """Release driver-side resources: the helper thread pool and any
        filter broadcasts still pending. Idempotent; run() calls it in a
        finally, and Crawler works as a context manager."""
        if self._pool_inst is not None:
            self._pool_inst.shutdown(wait=True)
            self._pool_inst = None
        D.release_bloom_broadcasts(self._bloom_registry)

    def __enter__(self) -> "Crawler":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    #: compact terminal parts into one pin once this many accumulate —
    #: bounds plan width (a 1000-superstep crawl would otherwise union
    #: 1000 branches into every seen-set scan)
    _TERM_COMPACT = 8

    def _rebuild_frontier_view(self) -> None:
        """frontier = queued ∪ terminal parts (lazy; parts are projections
        of pinned state, so re-reads are cheap and never re-fetch)."""
        df = self._queued
        for p in self._term_parts:
            df = df.unionByName(p)
        self.frontier = df

    def _pin(self, df: DataFrame) -> DataFrame:
        """coalesce + localCheckpoint: cut lineage AND bound the partition
        count. Unions add partition counts (a 12-branch redirect union kept
        48 partitions; three supersteps of frontier merges compounded to
        600-task stages on a 20-row fixture — each task paying fixed
        scheduler + Python-worker overhead). Pinning keeps every state
        DataFrame at ≤ the resolved pin width (CrawlConfig.pin_partitions,
        auto = data-aware, see PIN_WIDTH_FACTOR); coalesce is
        shuffle-free."""
        return df.coalesce(self._pin_parts).localCheckpoint(eager=True)

    # -- superstep stages ---------------------------------------------------

    def _pick_order(self) -> list | None:
        """None = canonical FIFO order; queue_mode='priority' orders the
        budgeted pick by cfg.priority_expr (higher first), canonical order
        as tie-break (north rule "priority queue")."""
        cfg = self.cfg
        if cfg.queue_mode == "fifo":
            return None
        if cfg.queue_mode != "priority":
            raise ValueError(f"unknown queue_mode {cfg.queue_mode!r}")
        pr = F.expr(cfg.priority_expr) if cfg.priority_expr else F.lit(0)
        return [pr.desc()] + [F.col(c) for c in ORDER_COLS]

    def _budget_overrides(self) -> DataFrame | None:
        """Standing robots Crawl-delay budgets ∪ this superstep's backoff
        halvings, min per host (a robots-paced host that also returned a
        backoff code gets the stricter of the two). Both tables are tiny
        (hosts declaring a delay / hosts that misbehaved last round)."""
        rb, bo = self._robots_budgets, self._backoff_hosts
        if rb is None:
            return bo
        if bo is None:
            return rb
        return (rb.unionByName(bo).groupBy("host")
                .agg(F.min("budget").alias("budget")))

    def _pick_batch(self, queued: DataFrame) -> DataFrame:
        order = self._pick_order()
        b = P.pick_budget_window(
            queued, self.cfg.effective_host_budget(),
            budget_overrides=self._budget_overrides(),
            approx_queued=self._queued_count,
            order=order,
            max_override_budget=self._robots_budget_max,
        )
        return P.cap_batch(b, self.cfg.max_batch_size, order=order)

    def _redirect_chains(self) -> DataFrame | None:
        """Resolve every redirect chain in the corpus ONCE (F6 — the
        reference follows hops per fetch, lib/worker.go:195-228; here
        redirects are a property of the corpus, so chains are precomputed
        and each superstep pays a single extra join regardless of length).

        Returns (src: first redirecting url_norm, terminal: landing url_norm
        or NULL when the cap is exceeded, prev: last hop source, hops:
        array<struct<url, redirect_to, redirect_from, warc_ts, status,
        content_type>>) — hops carry the page metadata needed to emit the
        recorded redirect resources (F6/F7). Cycles and >max_redirects
        chains end with terminal NULL ("too many redirects",
        lib/worker.go:222-224). Cost: ≤ max_redirects small joins over only
        the redirecting subset of the corpus, once per crawl.
        """
        if self._chains is not None or self._has_redirects is False:
            return self._chains
        edges = self.pages.filter(F.col("p_redir_norm").isNotNull()).select(
            F.col("p_url_norm").alias("src"),
            F.col("p_redir_norm").alias("dst"),
            F.col("p_warc_ts").alias("e_ts"),
            F.col("p_status").alias("e_status"),
            F.col("p_content_type").alias("e_ct"),
        )
        if self._has_redirects is None:
            self._has_redirects = not edges.isEmpty()
            if not self._has_redirects:
                return None
        edges = self._pin(edges)
        hop0 = F.struct(
            F.col("src").alias("url"),
            F.col("dst").alias("redirect_to"),
            F.lit(None).cast("string").alias("redirect_from"),
            F.col("e_ts").alias("warc_ts"),
            F.col("e_status").alias("status"),
            F.col("e_ct").alias("content_type"),
        )
        state = edges.select(
            "src",
            F.col("dst").alias("cur"),
            F.array(hop0).alias("hops"),
            F.lit(False).alias("done"),
        )
        e2 = edges.select(
            F.col("src").alias("_s"), F.col("dst").alias("_d"),
            F.col("e_ts").alias("_ts"), F.col("e_status").alias("_st"),
            F.col("e_ct").alias("_ct"),
        )
        for _ in range(self.cfg.max_redirects):
            j = state.join(e2, state.cur == e2._s, "left")
            step = F.struct(
                F.col("cur").alias("url"),
                F.col("_d").alias("redirect_to"),
                F.element_at("hops", -1)["url"].alias("redirect_from"),
                F.col("_ts").alias("warc_ts"),
                F.col("_st").alias("status"),
                F.col("_ct").alias("content_type"),
            )
            state = j.select(
                "src",
                F.when(F.col("done") | F.col("_d").isNull(), F.col("cur"))
                .otherwise(F.col("_d")).alias("cur"),
                F.when(F.col("done") | F.col("_d").isNull(), F.col("hops"))
                .otherwise(F.concat("hops", F.array(step))).alias("hops"),
                (F.col("done") | F.col("_d").isNull()).alias("done"),
            )
            state = self._pin(state)
            if state.filter(~F.col("done")).isEmpty():
                break
        self._chains = self._pin(
            state.select(
                "src",
                F.when(F.col("done"), F.col("cur")).alias("terminal"),
                F.element_at("hops", -1)["url"].alias("prev"),
            )
        )
        self._chain_hops = self._pin(
            state.select("src", F.explode("hops").alias("h")).select(
                "src",
                F.col("h.url").alias("url"),
                F.col("h.redirect_to").alias("redirect_to"),
                F.col("h.redirect_from").alias("redirect_from"),
                F.col("h.warc_ts").alias("warc_ts"),
                F.col("h.status").alias("status"),
                F.col("h.content_type").alias("content_type"),
            )
        )
        return self._chains

    def _build_filters(self, rows: DataFrame) -> dict[int, bytes]:
        """Filters over ``rows`` (part_id, url) of the configured kind,
        built per partition on the executors and collected as a
        {part_id: bytes} map (only partitions with rows appear)."""
        if self.cfg.seen_filter == "cuckoo":
            from walk_spark.operators.cuckoo import build_cuckoo_partitions
            build = build_cuckoo_partitions
        else:
            build = D.build_bloom_partitions
        return D.collect_filters(build(
            rows.select("part_id", "url"), 0, self.cfg.bloom_num_bits))

    def _update_filters(self, frontier: DataFrame, superstep: int) -> dict:
        """The one filter maintenance step: build over the rows enqueued
        since the last merged superstep (the whole frontier on first use)
        and merge them into the driver-owned map. The filters must be a
        SUPERSET of the seen set (a missing url is a false negative →
        duplicate enqueue).

        Depends only on state pinned at the END of the last superstep, so
        the loop submits it to the helper thread at superstep START — the
        build overlaps the fetch join + extraction. ``frontier`` is
        captured AT SUBMIT TIME so the helper thread never races a later
        reassignment of ``self.frontier``."""
        self._jd(f"ss{superstep}:bloom_merge")
        if self._filters is None:
            standing, rows = {}, frontier
        else:
            standing = self._filters
            rows = frontier.filter(F.col("superstep") > self._filter_hwm)
        self._filters = D.merge_filters(
            standing, self._build_filters(rows), self.cfg.seen_filter)
        self._filter_hwm = superstep - 1
        return self._filters

    def _fetch_http(self, batch: DataFrame) -> DataFrame:
        """S2 real mode: live GETs (sources.http_fetch, worker.go:138-228
        semantics) mapped to the corpus-join column shape so the rest of
        the superstep is fetch-mode-agnostic. The fetch output is pinned
        IMMEDIATELY — HTTP has side effects; downstream consumers must
        re-read results, never re-GET."""
        cfg = self.cfg
        from walk_spark.sources.http_fetch import fetch_batch

        # the frontier's own status column ('queued') collides with the
        # HTTP status — it is a constant for batch rows, re-added after
        f = fetch_batch(
            batch.drop("status"),
            user_agent=cfg.user_agent,
            timeout_s=cfg.fetch_timeout_s,
            max_redirects=cfg.max_redirects,
            delay_ms=cfg.http_delay_milli,
            host_delay_ms=self._robots_delay_ms or None,
        )
        f = self._pin(f)
        self._hop_rows = None
        if cfg.record_redirects:
            self._hop_rows = f.select(
                "depth", "fetched_at", F.explode("hops").alias("h")
            ).select(
                F.col("h.url").alias("url"),
                F.col("fetched_at").alias("warc_ts"),
                F.col("h.status").alias("status"),
                F.col("h.content_type").alias("content_type"),
                F.col("h.redirect_to").alias("redirect_to"),
                F.col("h.redirect_from").alias("redirect_from"),
                F.col("depth"),
            )
        ok = F.col("error").isNull()
        return f.select(
            *[c for c in batch.columns if c != "status"],
            F.lit(STATUS_QUEUED).alias("status"),
            _norm_udf(F.col("url")).alias("url_norm"),
            F.when(ok, _norm_udf(F.col("final_url"))).alias("final_url_norm"),
            F.when(ok, F.col("redirect_from")).alias("redirect_from"),
            F.col("error").alias("_redirect_err"),
            F.col("final_url").alias("p_url"),
            F.col("fetched_at").alias("p_warc_ts"),
            F.col("body").alias("p_html"),
            F.when(ok, F.col("status")).alias("p_status"),
            F.col("content_type").alias("p_content_type"),
            F.col("headers").alias("p_headers"),
        )

    def _fetch(self, batch: DataFrame) -> DataFrame:
        """Simulated GET (J4): resolve redirect terminals via the
        precomputed chains table, then a single content join on the final
        url, then extraction. One row per batch url; recorded hop rows in
        self._hop_rows.
        With ``fetch_mode='http'`` this dispatches to live GETs instead —
        same output columns, same downstream superstep."""
        if self.cfg.fetch_mode == "http":
            # live GETs produce rows host-grouped by the politeness pick —
            # spread them before extraction (no corpus to co-partition with)
            return _extract_fetched(
                self._fetch_http(batch).repartition(self._pin_parts))
        # depth > 0 rows entered the frontier as extraction output, i.e.
        # already through resolve_and_normalize — and normalization is
        # idempotent (tests/test_urlnorm_properties.py::test_idempotent),
        # so their url IS its normal form. Only depth-0 rows (seeds,
        # enqueued verbatim per lib/coordinator.go:174-178) can differ:
        # run the Python normalize UDF on those alone instead of the whole
        # batch (guide §4 — don't pay the JVM↔Python boundary for rows
        # whose answer is the identity).
        # When the tracked depth-0 queued count says NO seed-depth row can
        # be in this batch (the common steady state after superstep 1),
        # the plan carries no Python eval node and no union at all. While
        # driver-known seeds ARE still queued, their normal forms were
        # computed on the driver at enqueue time: a broadcast of the
        # (raw, norm) DIFFS — usually empty, because well-formed seeds are
        # normalization fixed points — replaces the UDF pass entirely (a
        # non-fixed-point key cannot equal any depth>0 url, so the
        # coalesce is exact). Only depth-0 rows of unknown provenance
        # (add_seeds_df streams, resumed snapshots) keep the Python
        # filter+union branch; a when() would not help there — Spark
        # extracts Python UDFs into an eval node that runs on every row.
        # An UNKNOWN depth-0 count (None) takes that safe branch too.
        if self._d0_queued == 0:
            b = batch.withColumn("url_norm", F.col("url"))
        elif self._d0_queued is None or self._streamed_d0:
            seeds0 = batch.filter(F.col("depth") == 0).withColumn(
                "url_norm", _norm_udf(F.col("url"))
            )
            rest = batch.filter(F.col("depth") > 0).withColumn(
                "url_norm", F.col("url")
            )
            b = seeds0.unionByName(rest)
        elif not self._seed_norms:
            b = batch.withColumn("url_norm", F.col("url"))
        else:
            if self._seed_norm_df is None:
                self._seed_norm_df = self.spark.createDataFrame(
                    list(self._seed_norms.items()),
                    "url string, _seed_norm string",
                )
            b = batch.join(
                F.broadcast(self._seed_norm_df), "url", "left"
            ).withColumn(
                "url_norm",
                F.coalesce(F.col("_seed_norm"), F.col("url")),
            ).drop("_seed_norm")
        chains = self._redirect_chains()
        self._hop_rows = None
        if chains is not None:
            b = b.join(chains, b.url_norm == chains.src, "left")
            b = b.withColumn(
                "final_url_norm",
                F.when(F.col("src").isNull(), F.col("url_norm"))
                .otherwise(F.col("terminal")),
            ).withColumn(
                "redirect_from",
                F.when(F.col("src").isNotNull() & F.col("terminal").isNotNull(),
                       F.col("prev")),
            ).withColumn(
                "_redirect_err",
                F.when(
                    F.col("src").isNotNull() & F.col("terminal").isNull(),
                    F.lit(f"stopped after {self.cfg.max_redirects} redirects"),
                ),
            ).drop("src", "terminal", "prev")
            if self.cfg.record_redirects:
                hop_src = b.select("url_norm", "depth")
                self._hop_rows = self._pin(
                    hop_src.join(
                        self._chain_hops,
                        hop_src.url_norm == self._chain_hops.src,
                    ).select(
                        "url", "warc_ts", "status", "content_type",
                        "redirect_to", "redirect_from", "depth",
                    )
                )
        else:
            b = b.withColumn(
                "final_url_norm", F.col("url_norm")
            ).withColumn(
                "redirect_from", F.lit(None).cast("string")
            ).withColumn("_redirect_err", F.lit(None).cast("string"))
        # An EXPLICIT repartition on the join key, same width as the
        # persisted corpus (AQE never coalesces a user repartition): the
        # join is then exactly co-partitioned — hash(final_url_norm, P) ==
        # hash(p_url_norm, P) — so the html-bearing corpus rows flow scan →
        # join → extraction → pin inside ONE stage. Before this, the join
        # output was repartitioned post-hoc to spread extraction, pushing
        # every joined html byte (~GBs per superstep) through a second
        # full shuffle — pure memory-bus traffic that scaled at ~1x with
        # cores. The batch side (narrow rows) is the only thing shuffled.
        b = b.repartition(self._pin_parts, "final_url_norm")
        # content join, LEFT OUTER with a SHUFFLE_HASH hint on the batch
        # side (ShuffledHashJoin LeftOuter BuildLeft): hash-build the
        # narrow batch rows, STREAM the corpus. Without the hint the
        # planner's size estimates (checkpoint-backed batch = unknown) fell
        # back to sort-merge, which sorted the html-bearing corpus
        # partitions every superstep (measured 4x slower at high
        # parallelism from sort spills). Build side is the politeness-
        # capped batch, bounded per partition at any corpus scale. A miss
        # keeps its batch row with NULL page columns; its extraction is
        # parse_page(url, None).
        pages = self.pages.drop("p_redir_norm")
        return _extract_fetched(b.hint("shuffle_hash").join(
            pages, b.final_url_norm == pages.p_url_norm, "left"
        ))

    def _candidate_filter_expr(self, authority, path):
        """P7 (lib/job.go:250-271): reject ignore-pattern substrings; accept
        iff some domain authority matches AND path has the domain's prefix
        (``authority``/``path`` as from ``url_parts_col``). Prefix-less
        domains collapse into a single ``isin`` (an O(1) hash probe instead
        of an OR-chain of per-domain string compares — with walk-scale
        domain lists the chain dominated candidate filtering)."""
        url = F.col("url")
        exact = [a for (a, pre) in self._domains if not pre]
        prefixed = [(a, pre) for (a, pre) in self._domains if pre]
        keep = authority.isin(exact) if exact else F.lit(False)
        for (auth, pre) in prefixed:
            keep = keep | (
                (authority == F.lit(auth)) & path.startswith(F.lit(pre))
            )
        for pat in self.cfg.ignore_patterns:
            keep = keep & ~url.contains(F.lit(pat))
        return keep

    # -- the loop ------------------------------------------------------------

    def warm(self) -> int:
        """Materialize the prepped corpus cache (and redirect chains, when
        present) ahead of ``run()``. At production scale the pages table is
        an EXISTING warehouse table — its residency is a property of the
        storage layer, not work the crawl performs — so throughput
        benchmarks call this before starting the clock. Returns corpus size."""
        if self.pages is None:
            return 0
        n = self.pages.count()
        self._redirect_chains()
        return n

    def _ensure_state(self) -> None:
        if self.frontier is None:
            seeds = self.cfg.all_seeds()
            self._queued = self._pin(self._seed_rows(seeds, 0))
            self._term_parts = []
            self._rebuild_frontier_view()
            self.resources = self.spark.createDataFrame([], RESOURCES_SCHEMA)
            self.order = self.spark.createDataFrame([], ORDER_SCHEMA)
            self.next_seq = self._queued_count = len(seeds)
            self._d0_queued = self._queued_count  # all seeds are depth 0
        elif self._queued is None:
            # state arrived as one snapshot (resume). Queued depth-0 rows
            # of unknown provenance (the original run may have
            # add_seeds'ed urls not in cfg) → normalize via the UDF
            # branch, never the driver-side seed map.
            self._streamed_d0 = True
            self._load_snapshot(self.frontier)

    def _load_snapshot(self, frontier: DataFrame) -> None:
        """State from one frontier snapshot (resume, durable checkpoint):
        the queued/terminal split is derived lazily — both filters read
        the same parquet/pin."""
        self.frontier = frontier
        self._queued = frontier.filter(F.col("status") == STATUS_QUEUED)
        self._term_parts = [frontier.filter(F.col("status") != STATUS_QUEUED)]

    def add_seeds(self, seeds: list[str]) -> None:
        """Enqueue more seeds mid-crawl (the streaming-ingest path). Unlike
        initial seeds (enqueued unchecked, reference parity), late seeds are
        deduped against the frontier — AND within the incoming batch itself
        (first occurrence keeps the lowest seq) — so stream redelivery and
        duplicate-bearing micro-batches are both idempotent."""
        self._ensure_state()
        seeds = list(dict.fromkeys(seeds))
        if not seeds:
            return
        fresh = self._seed_rows(seeds, self.next_seq).join(
            self.frontier.select("url"), "url", "left_anti")
        n = fresh.count()
        self.next_seq += len(seeds)  # seq values are unique, not dense
        if n:
            self._queued = self._pin(self._queued.unionByName(fresh))
            self._rebuild_frontier_view()
            if self._queued_count is not None:
                self._queued_count += n
            if self._d0_queued is not None:
                self._d0_queued += n  # late seeds enqueue at depth 0

    def add_seeds_df(self, seeds: DataFrame, url_col: str = "url") -> int:
        """Enqueue a DataFrame of seed urls mid-crawl WITHOUT materializing
        them on the driver — the firehose-scale twin of ``add_seeds``
        (which takes a Python list; fine for operational batches,
        driver-bound for a 100k-url stream micro-batch). Returns the
        number of NEW urls enqueued.

        Semantics match ``add_seeds``: urls are enqueued verbatim (seeds
        bypass normalization, lib/coordinator.go:174-178), deduped within
        the batch and against the frontier; ``discovery_seq`` values are
        assigned deterministically in URL sort order (a DataFrame has no
        arrival order) via the same two-phase range rank the crawl loop
        uses — no single-partition window, no collect of the urls (the
        only driver data is the P-row offset map and the new-url count).
        Stream redelivery is idempotent: re-delivered urls anti-join away.
        """
        self._ensure_state()
        fresh = (
            seeds.select(F.col(url_col).cast("string").alias("url"))
            .filter(F.col("url").isNotNull() & (F.length("url") > 0))
            .distinct()
            .join(self.frontier.select("url"), "url", "left_anti")
        )
        ranked, n = with_global_seq(
            fresh, ["url"], start=self.next_seq,
            num_partitions=self._pin_parts,
        )
        if n == 0:
            return 0
        rows = self._with_host(ranked.select(
            F.col("url"),
            F.lit(0).cast("int").alias("depth"),
            F.col("discovery_seq").cast("long"),
            F.lit(STATUS_QUEUED).alias("status"),
            F.lit(0).cast("int").alias("attempts"),
            F.lit(0).cast("int").alias("prev_http_status"),
            F.lit(self.superstep).cast("int").alias("superstep"),
            F.lit(self.cfg.job_id).alias("job_id"),
        ))
        self.next_seq += n
        self._queued = self._pin(self._queued.unionByName(rows))
        self._rebuild_frontier_view()
        if self._queued_count is not None:
            self._queued_count += n
        if self._d0_queued is not None:
            self._d0_queued += n  # stream seeds enqueue at depth 0
        # stream urls never pass through the driver, so their normal
        # forms are unknown — depth-0 batches must use the UDF branch
        self._streamed_d0 = True
        return n

    def forget_urls(self, urls: list[str]) -> int:
        """Retract urls from the crawl state so they can be fetched again
        (forced re-fetch after a config or content change — an extension;
        the reference's RequestStore is Put/Get/List only,
        lib/request_store.go:11-16). Removes the urls' frontier rows and
        retracts them from the standing URL-seen prefilters:
        ``seen_filter='cuckoo'`` deletes their fingerprints from the
        driver-owned map (the per-item deletion the cuckoo kind exists
        for); bloom bitsets share bits, so those filters are instead
        rebuilt from the reduced frontier on next use. The resources/order
        outputs are an archive log and keep their historical rows. Sized for operational lists
        (the urls enter the plan as literals); returns rows removed."""
        self._ensure_state()
        urls = list(dict.fromkeys(urls))
        if not urls:
            return 0
        hit = F.col("url").isin(urls)
        n_total = self.frontier.filter(hit).count()
        if n_total == 0:
            return 0
        n_q, n_q0 = _queued_counts(self._queued.filter(hit))
        if self._d0_queued is not None:
            self._d0_queued -= n_q0
        if self._filters is not None:
            if self.cfg.seen_filter == "cuckoo":
                from walk_spark.operators.cuckoo import delete_cuckoo_bytes
                # only rows already merged into the map: deleting a url
                # that was never inserted could drop another url's
                # matching fingerprint (a false negative)
                merged = hit & (F.col("superstep") <= self._filter_hwm)
                by_part: dict[int, list[str]] = {}
                for r in self.frontier.filter(merged).select(
                        "part_id", "url").collect():
                    by_part.setdefault(int(r["part_id"]), []).append(r["url"])
                self._filters = {
                    p: (delete_cuckoo_bytes(buf, by_part[p])
                        if p in by_part else buf)
                    for p, buf in self._filters.items()
                }
            else:
                self._filters = None
        self._queued = self._pin(self._queued.filter(~hit))
        self._term_parts = [p.filter(~hit) for p in self._term_parts]
        self._rebuild_frontier_view()
        if self._queued_count is not None:
            self._queued_count -= n_q
        return n_total

    def run(self) -> CrawlResult:
        """F9 done-detection without a per-superstep emptiness probe: the
        queued count is tracked incrementally from superstep metrics
        (queued' = queued - batch + requeued + new), which the metrics
        collect already pays for — exact, zero extra jobs."""
        self._ensure_state()
        if self._queued_count is None:  # resume path: one count, once
            self._queued_count, self._d0_queued = _queued_counts(self._queued)
        # NOTE (measured, round 6): running the loop with AQE disabled was
        # tried to cut the ~15 query-stage jobs/superstep AQE submits — and
        # LOST a same-session A/B 3/3 (17-28 s vs 12-14 s at bench shape):
        # AQE's runtime coalescing of the 64-partition exchanges and its
        # runtime broadcast conversions save more than its per-stage job
        # submissions cost, even at 20k rows. Do not re-try.
        sc = self.spark.sparkContext
        caller_jd = sc.getLocalProperty("spark.job.description")
        stop = False
        try:
            while not stop and self.superstep < self.cfg.max_supersteps:
                if self._queued_count <= 0:
                    break
                # the politeness pick reads ONLY the active set — terminal
                # rows never re-enter the queue, so they never re-enter
                # the pick's windows either
                batch = self._pick_batch(self._queued)
                self.superstep += 1
                stop = self._superstep(batch)
                m = self.metrics[-1]
                self._queued_count += (
                    m["requeued"] + m["new_urls"] - m["batch"]
                )
                self._checkpoint_state()
                # the frontier pin above materialized this superstep's
                # filter-probe plan — its broadcast can go now (else a
                # long crawl accumulates one broadcast per superstep)
                D.release_bloom_broadcasts(self._bloom_registry)
            self._flush_parts()
        finally:
            # the phase labels are thread-local: without this the last
            # ss<k>:checkpoint label sticks to the caller's thread and
            # every later job is booked to it
            sc.setLocalProperty("spark.job.description", caller_jd)
            self.close()
        return CrawlResult(
            frontier=self.frontier,
            resources=self.resources,
            order=self.order,
            metrics=self.metrics,
        )

    def _superstep(self, batch: DataFrame) -> bool:
        """One BSP round over the picked ``batch``, one method per
        ``ss<k>:`` phase. Returns True when a stop condition fired."""
        t0 = time.monotonic()
        # the filter update depends only on LAST superstep's frontier —
        # start it now on the helper thread so the filter build/merge
        # overlaps the fetch join + extraction instead of serializing
        # after them
        bloom = (
            self._pool.submit(self._update_filters, self.frontier,
                              self.superstep)
            if self.cfg.use_bloom and self.cfg.crawl else None
        )
        fetched = self._fetch_extract(batch)
        upd, stats = self._record(fetched)
        terminals = self._merge(upd)
        n_new = self._expand(fetched, terminals, bloom) if self.cfg.crawl else 0
        return self._account(upd, stats, n_new, t0)

    def _fetch_extract(self, batch: DataFrame) -> DataFrame:
        """Fetch + extraction with the outcome columns, pinned: the rows
        every later phase re-reads (``ss<k>:fetch_extract``).

        ``batch`` is NOT materialized: its only computed consumer is the
        fetch join (the order log and the stop-url probe both read the
        pinned result instead) — one fewer eager job per superstep, a fixed
        cost that never shrank with cores. Extraction is the CPU-dominant
        stage: _fetch runs it over input that is already _pin_parts wide
        (batch repartitioned onto the corpus partitioning before the join —
        no html re-shuffle; AQE would otherwise coalesce html-sized rows
        onto a handful of tasks: measured scaling efficiency 0.25 with
        70k-page extractions on 2 tasks)."""
        fetched = self._fetch(batch).withColumn(
            "_err",
            F.coalesce(
                F.col("_redirect_err"),
                F.when(F.col("p_status").isNull(), F.lit("fetch error: not found")),
            ),
        ).withColumn(
            "_ok",
            F.col("_err").isNull() & F.col("p_status").between(200, 308),
        ).withColumn(
            "_was_redirected", F.col("redirect_from").isNotNull()
        )
        # the pin stores whole rows (a localCheckpoint has no column
        # pruning) and is re-read by four downstream consumers — drop the
        # raw html BEFORE pinning (content_length is the only thing that
        # still needs it) so the pinned rows are ~10x narrower and the
        # re-reads stop being memory-bandwidth-bound.
        fetched = fetched.withColumn(
            "content_length",
            F.coalesce(F.length("p_html").cast("long"), F.lit(0).cast("long")),
        ).drop("p_html")
        self._jd(f"ss{self.superstep}:fetch_extract")
        return self._pin(fetched)

    def _record(self, fetched: DataFrame) -> tuple:
        """Resource and crawl-order rows of this superstep (lazy parts over
        the pinned ``fetched``), and the status update rows ``upd`` (F2/F3).
        Starts the status rows' aggregate (``ss<k>:metrics_agg``) on the
        helper thread and returns ``(upd, future of its rows)``."""
        cfg, k = self.cfg, self.superstep
        # ---- resources output (meta projection P10; body stays in pages)
        res_url = (
            F.when(
                F.col("_was_redirected") & F.lit(cfg.record_redirects),
                F.col("final_url_norm"),
            ).otherwise(F.col("url"))
        )
        res = fetched.select(
            F.lit(cfg.job_id).alias("job_id"),
            res_url.alias("url"),
            F.col("p_warc_ts").alias("warc_ts"),
            F.coalesce(F.col("p_status"), F.lit(0)).alias("status"),
            F.col("p_content_type").alias("content_type"),
            F.when(F.lit(cfg.record_headers), F.col("p_headers"))
            .alias("headers"),
            F.col("content_sniff"),
            F.col("content_length"),
            F.col("title"),
            F.col("hash"),
            F.col("links"),
            F.col("text"),
            F.lit(None).cast("string").alias("redirect_to"),
            F.when(
                F.lit(cfg.record_redirects), F.col("redirect_from")
            ).alias("redirect_from"),
            F.col("_err").alias("error"),
            F.lit(k).alias("superstep"),
            F.col("depth"),
        )
        if self._hop_rows is not None:
            hops = self._hop_rows.select(
                F.lit(cfg.job_id).alias("job_id"),
                F.col("url"),
                F.col("warc_ts"),
                F.coalesce(F.col("status"), F.lit(0)).alias("status"),
                F.col("content_type"),
                F.when(
                    F.lit(cfg.record_headers),
                    F.array(F.lit("Content-Type"), F.col("content_type")),
                ).alias("headers"),
                F.lit(None).cast("string").alias("content_sniff"),
                F.lit(0).cast("long").alias("content_length"),
                F.lit("").alias("title"),
                F.lit("").alias("hash"),
                F.lit(None).cast(ArrayType(StringType())).alias("links"),
                F.lit("").alias("text"),
                F.col("redirect_to"),
                F.col("redirect_from"),
                F.lit(None).cast("string").alias("error"),
                F.lit(k).alias("superstep"),
                F.col("depth"),
            )
            res = res.unionByName(hops)
        self._res_parts.append(res)
        # the order log derives from the PINNED fetched — free to re-read —
        # so the unpinned batch has exactly one computed consumer
        self._order_parts.append(fetched.select(
            F.lit(k).alias("superstep"), "depth", "discovery_seq", "url"))

        # ---- frontier status updates (F2/F3); a stateless projection over
        # the pinned `fetched` — its few downstream re-evaluations are
        # cheaper than a materialization job
        upd = fetched.select(
            "url", "host", "depth", "discovery_seq",
            (F.col("attempts") + 1).alias("attempts"),
            F.coalesce(F.col("p_status"), F.lit(0)).alias("prev_http_status"),
            F.col("superstep"), F.col("part_id"), F.col("job_id"),
            # with record_redirects off the reference follows silently and
            # marks the original request done (lib/worker.go:141); with it
            # on, the landing url owns the done row and the source is
            # terminally 'redirected'
            F.when(F.col("_ok") & F.col("_was_redirected")
                   & F.lit(cfg.record_redirects), F.lit(STATUS_REDIRECTED))
            .when(F.col("_ok"), F.lit(STATUS_DONE))
            .when(F.col("attempts") + 1 <= cfg.max_attempts,
                  F.lit(STATUS_QUEUED))
            .otherwise(F.lit(STATUS_FAILED)).alias("status"),
            F.col("final_url_norm"), F.col("_was_redirected"), F.col("_ok"),
        )

        # the metrics aggregation only needs the pinned `fetched`: launch it
        # on the helper thread NOW so it overlaps the expansion's
        # sequence-assignment jobs (independent Spark actions run
        # concurrently; results are timing-independent). ~0.5-1s of serial
        # driver latency per superstep — fixed cost that never scaled.
        stop_flag = (
            (F.col("url") == F.lit(cfg.stop_url)).cast("int")
            if cfg.stop_url else F.lit(0)
        )
        stat_agg = upd.groupBy("status").agg(
            F.count("*").alias("n"),
            F.sum(self._backoff_flag().cast("int")).alias("nb"),
            F.max(stop_flag).alias("stop"),
            # depth-0 rows per outcome: keeps the _d0_queued tracker exact
            # (picked depth-0 leave the queue; requeued ones re-enter)
            # with zero extra jobs
            F.sum((F.col("depth") == 0).cast("int")).alias("n0"),
        )

        def _stat_job():
            self._jd(f"ss{k}:metrics_agg")
            return stat_agg.collect()

        return upd, self._pool.submit(_stat_job)

    def _backoff_flag(self):
        """F12: did this status row's fetch return a backoff code."""
        codes = self.cfg.backoff_codes
        return F.col("prev_http_status").isin(codes) if codes else F.lit(False)

    def _merge(self, upd: DataFrame) -> DataFrame | None:
        """MERGE the status rows into the frontier state, split by status
        (Iceberg shape): every upd row was picked from the ACTIVE set, so
        only the active set is rewritten — (queued ⊲ batch urls) ∪
        requeues; rows that reached a terminal status append as a lazy
        projection of the pinned `fetched` and are never rewritten again.
        Returns this superstep's new redirect terminals (None when
        redirects are not recorded)."""
        cfg, k = self.cfg, self.superstep
        # terminal urls of recorded redirects become their own frontier rows
        # (the reference "dequeues" never-queued final urls, creating them —
        # lib/coordinator.go:332-334); upsert: existing row wins its status
        terminals = None
        if cfg.record_redirects:
            rt = (
                upd.filter(F.col("_was_redirected") & F.col("_ok"))
                .select(
                    F.col("final_url_norm").alias("url"),
                    F.col("depth"), F.col("discovery_seq"),
                    F.col("attempts"), F.col("prev_http_status"),
                    F.col("job_id"),
                )
                .groupBy("url")
                .agg(
                    F.min("depth").alias("depth"),
                    F.min("discovery_seq").alias("discovery_seq"),
                    F.max("attempts").alias("attempts"),
                    F.max("prev_http_status").alias("prev_http_status"),
                    F.first("job_id").alias("job_id"),
                )
            )
            rt = rt.join(
                self.frontier.select("url"), "url", "left_anti"
            ).join(
                upd.select("url"), "url", "left_anti"
            )
            terminals = self._with_host(rt.select(
                "url", "depth", "discovery_seq",
                F.lit(STATUS_DONE).alias("status"),
                "attempts", "prev_http_status",
                F.lit(k).alias("superstep"),
                "job_id",
            ))
        upd_rows = upd.select(*[f.name for f in FRONTIER_SCHEMA.fields])
        # the anti-join's right side is the batch (≤ the tracked queued
        # count): broadcast it when provably small so the pinned active set
        # is filtered in place instead of hash-shuffled by url every
        # superstep (guide §3.1; the count is a crawl-state property, so
        # the plan choice is deterministic across cluster sizes)
        upd_urls = upd.select("url")
        if (self._queued_count is not None
                and self._queued_count <= 1_000_000):
            upd_urls = F.broadcast(upd_urls)
        self._queued = self._queued.join(
            upd_urls, "url", "left_anti"
        ).unionByName(upd_rows.filter(F.col("status") == STATUS_QUEUED))
        self._term_parts = self._term_parts + [
            upd_rows.filter(F.col("status") != STATUS_QUEUED)
        ]
        if terminals is not None:
            self._term_parts.append(terminals)
        self._rebuild_frontier_view()
        return terminals

    def _expand(self, fetched: DataFrame, terminals: DataFrame | None,
                bloom) -> int:
        """Expansion (F1/F13 + P7 + D1 + D2): the fetched pages' links,
        filtered to the crawl's domains and robots rules, deduped within
        the batch and against the merged frontier, sequenced and queued
        (``ss<k>:expand_build``, ``ss<k>:seq_assign``). ``bloom`` is the
        future of the seen-set prefilter update (None without
        ``use_bloom``). Returns the number of new urls."""
        cfg, k = self.cfg, self.superstep
        cands = fetched.select(
            F.col("depth").alias("parent_depth"),
            F.col("discovery_seq").alias("parent_seq"),
            F.posexplode_outer("links").alias("ordinal", "url"),
        ).filter(F.col("url").isNotNull())
        # candidates are the loop's highest-volume stream (pages ×
        # out-degree): authority, host and path come from string slicing
        # (url_parts_col), never a java.net.URI parse. All JVM-side — a
        # Python pass here would double the superstep's UDF cost. An
        # unused _path is pruned from the plan.
        auth, host, path = url_parts_col(F.col("url"))
        cands = cands.withColumns({"_auth": auth, "_path": path})
        cands = cands.filter(self._candidate_filter_expr(
            F.col("_auth"), F.col("_path")
        )).withColumn("host", host)
        cands = P.apply_robots(cands, self.robots, path_col="_path")
        cands = cands.drop("_auth", "_path")
        # part_id BEFORE dedup, and dedup groups on (part_id, url):
        # part_id is a pure function of url so the groups are the
        # same, but the aggregate output then carries the anti-join's
        # partitioning — dedup and anti-join share ONE shuffle of the
        # candidate stream (the loop's highest-volume exchange)
        cands = cands.withColumn(
            "part_id", self._part_id_col(F.col("host"), F.col("url"))
        )
        cands = D.dedup_within_batch(cands, ("part_id", "url"))
        seen = self.frontier.select("part_id", "url")
        bc = None
        if bloom is not None:
            filters = bloom.result()
            if terminals is not None:
                # this superstep's redirect terminals are seen already
                # but join the frontier only at this superstep's end:
                # merge them into this broadcast's copy only (the next
                # update picks them up as frontier rows)
                self._jd(f"ss{k}:bloom_merge")
                filters = D.merge_filters(
                    filters, self._build_filters(terminals), cfg.seen_filter)
            bc = self.spark.sparkContext.broadcast(filters)
            self._bloom_registry.append(bc)
        self._jd(f"ss{k}:expand_build")
        fresh = D.anti_join_seen(
            cands, seen, prepared_bc=bc, filter_kind=cfg.seen_filter,
        )
        # anti_join_seen's lazy checkpoint materializes the candidate
        # pipeline's shuffle stages here (AQE executes query stages on
        # .rdd) — the expansion build, labelled apart from the seq pins.
        # The ranked output stays lazy — the frontier pin at checkpoint
        # time materializes it, so the sequence assignment costs ONE
        # collect job here instead of collect + eager checkpoint (the
        # range-exchange is reused by the pin).
        self._jd(f"ss{k}:seq_assign")
        # deterministic monotone bucket over the sort-key prefix
        # (parent_depth, parent_seq): every parent_seq is < next_seq
        # (the driver-known high-water mark), so with G = ⌈next_seq/NB⌉
        # the bucket  depth·NB + ⌊seq/G⌋  is monotone w.r.t. the full
        # lexicographic key — with_global_seq then needs ONE pin and no
        # range-sampling pass, and the assigned sequence is identical
        # to the range path by construction (offsets come from actual
        # per-bucket counts).
        _nb = max(self._pin_parts, 1) * 8
        _g = max(1, -(-max(self.next_seq, 1) // _nb))
        _bucket = (
            F.col("parent_depth").cast("long") * F.lit(_nb)
            + F.floor(F.col("parent_seq") / F.lit(_g)).cast("long")
        )
        fresh, n_new = with_global_seq(
            fresh,
            ["parent_depth", "parent_seq", "ordinal", "url"],
            seq_col="discovery_seq",
            start=self.next_seq,
            bucket=_bucket,
        )
        new_rows = fresh.select(
            "url", "host",
            (F.col("parent_depth") + 1).alias("depth"),
            "discovery_seq",
            F.lit(STATUS_QUEUED).alias("status"),
            F.lit(0).alias("attempts"),
            F.lit(0).alias("prev_http_status"),
            F.lit(k).alias("superstep"),
            "part_id",
            F.lit(cfg.job_id).alias("job_id"),
        )
        self.next_seq += n_new
        self._queued = self._queued.unionByName(new_rows)
        self._rebuild_frontier_view()
        return n_new

    def _account(self, upd: DataFrame, stats, n_new: int,
                 t0: float) -> bool:
        """Join the status aggregate (``stats``, the stop-url probe F10
        rides it — no separate batch-scan job): queue trackers, F12
        backoff, the superstep's metrics row, and the stop verdict."""
        cfg = self.cfg
        stat_rows = stats.result()
        counts = {r["status"]: r["n"] for r in stat_rows}
        n_backoff = sum(r["nb"] or 0 for r in stat_rows)
        hit_stop = any(r["stop"] for r in stat_rows)
        if self._d0_queued is not None:
            d0_picked = sum(r["n0"] or 0 for r in stat_rows)
            d0_requeued = sum(
                r["n0"] or 0 for r in stat_rows
                if r["status"] == STATUS_QUEUED
            )
            self._d0_queued += d0_requeued - d0_picked
        n_done = counts.get(STATUS_DONE, 0) + counts.get(STATUS_REDIRECTED, 0)
        self.total_done += n_done

        # F12: throttle hosts that returned backoff codes, one superstep
        budget = cfg.effective_host_budget()
        if budget > 0 and n_backoff > 0:
            self._backoff_hosts = self._pin(
                upd.filter(self._backoff_flag()).select("host").distinct()
                .withColumn("budget", F.lit(max(1, budget // 2)))
            )
        else:
            self._backoff_hosts = None
        self.metrics.append({
            "superstep": self.superstep,
            "batch": sum(counts.values()),
            "done": counts.get(STATUS_DONE, 0),
            "redirected": counts.get(STATUS_REDIRECTED, 0),
            "requeued": counts.get(STATUS_QUEUED, 0),
            "failed": counts.get(STATUS_FAILED, 0),
            "new_urls": n_new,
            "wall_s": round(time.monotonic() - t0, 3),
        })
        # F10 stop url; F11 entry cap (enforced; commented out in the
        # reference)
        return (bool(cfg.stop_url) and hit_stop) or (
            cfg.stop_after_entries > 0
            and self.total_done >= cfg.stop_after_entries)

    # -- durability (F17) ----------------------------------------------------

    def _flush_parts(self) -> None:
        if self._res_parts:
            for p in self._res_parts:
                self.resources = self.resources.unionByName(p)
            self._res_parts = []
        if self._order_parts:
            for p in self._order_parts:
                self.order = self.order.unionByName(p)
            self._order_parts = []

    def _checkpoint_state(self) -> None:
        self._jd(f"ss{self.superstep}:checkpoint")
        if not self.workdir:
            # only the ACTIVE set is re-read (and thus pinned) every
            # superstep; terminal parts are lazy projections of pinned
            # `fetched`, compacted once enough accumulate so seen-set
            # plans stay shallow. resources/order parts stay lazy too.
            self._queued = self._pin(self._queued)
            if len(self._term_parts) > self._TERM_COMPACT:
                merged = self._term_parts[0]
                for p in self._term_parts[1:]:
                    merged = merged.unionByName(p)
                self._term_parts = [self._pin(merged)]
            self._rebuild_frontier_view()
            return
        k = self.superstep
        base = os.path.join(self.workdir, f"superstep={k:05d}")
        # frontier: full snapshot (it's the live state the loop re-reads);
        # resources/order: append-only per-superstep parts — the logs are
        # never rewritten (at warehouse scale both are Iceberg appends/MERGEs)
        self.frontier.write.mode("overwrite").parquet(
            os.path.join(base, "frontier")
        )
        # the durable store replaces the in-memory pins
        self._load_snapshot(self.spark.read.schema(self.frontier.schema)
                            .parquet(os.path.join(base, "frontier")))
        # per-partition lineage (SURVEY F17: the Iceberg manifest table
        # shape (superstep, snapshot_id, rows_in, rows_out)): row counts per
        # seen-set partition of the frontier snapshot just written — a
        # column-pruned agg over the re-read parquet (part_id only), run on
        # the helper thread so it OVERLAPS the resources/order part writes
        # below instead of adding a serial job to the superstep tail
        frontier_snapshot = self.frontier

        def _lineage_job():
            self._jd(f"ss{k}:checkpoint_lineage")
            return (
                frontier_snapshot.groupBy("part_id")
                .agg(F.count("*").alias("n")).collect()
            )

        part_future = self._pool.submit(_lineage_job)
        for name, parts in (("resources", self._res_parts),
                            ("order", self._order_parts)):
            for p in parts:
                path = os.path.join(base, f"{name}_part")
                p.write.mode("overwrite").parquet(path)
                setattr(
                    self, name,
                    getattr(self, name).unionByName(
                        self.spark.read.schema(p.schema).parquet(path)
                    ),
                )
        self._res_parts = []
        self._order_parts = []
        part_rows = {int(r["part_id"]): r["n"] for r in part_future.result()}
        m_last = self.metrics[-1]
        manifest = {
            "superstep": k,
            "next_seq": self.next_seq,
            "total_done": self.total_done,
            "metrics": m_last,
            "path": base,
            "snapshot_id": f"{self.cfg.job_id}-{k:05d}",
            "rows_in": m_last["batch"],
            "rows_out": sum(part_rows.values()),
            "frontier_partition_rows": part_rows,
            # F12 throttle state: hosts that returned backoff codes THIS
            # superstep get half budget next superstep — without persisting
            # them, a resume right after a backoff superstep would pick a
            # different batch, breaking the identical-ordering contract.
            "backoff_hosts": (
                [[r["host"], r["budget"]] for r in self._backoff_hosts.collect()]
                if self._backoff_hosts is not None else []
            ),
        }
        with open(os.path.join(self.workdir, "manifest.jsonl"), "a") as f:
            f.write(json.dumps(manifest) + "\n")

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        pages: DataFrame,
        cfg: CrawlConfig,
        workdir: str,
        robots: DataFrame | None = None,
        robots_delays: DataFrame | None = None,
    ) -> "Crawler":
        """Restart mid-crawl from the last completed superstep's snapshot.
        Identical ordering is guaranteed because all state (including the
        discovery-sequence high-water mark) is in the manifest + parquet.
        ``robots_delays`` is an input table like ``robots`` — pass the same
        one as the original run (budget overrides re-derive from it).
        A torn trailing manifest line (the crawl was killed mid-append) is
        dropped and the crawl resumes from the last complete one."""
        c = cls(spark, pages, cfg, robots=robots, workdir=workdir,
                robots_delays=robots_delays)
        lines = _read_manifest(os.path.join(workdir, "manifest.jsonl"))
        if not lines:
            return c
        last = lines[-1]
        c.superstep = last["superstep"]
        c.next_seq = last["next_seq"]
        c.total_done = last["total_done"]
        c.metrics = [x["metrics"] for x in lines]
        c.frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
            os.path.join(last["path"], "frontier")
        )
        c._ensure_state()
        backoff = last.get("backoff_hosts") or []
        if backoff:
            c._backoff_hosts = spark.createDataFrame(
                [(h, int(b)) for h, b in backoff], "host string, budget int"
            )
        c.resources = spark.createDataFrame([], RESOURCES_SCHEMA)
        c.order = spark.createDataFrame([], ORDER_SCHEMA)
        for rec in lines:  # append-only parts, in superstep order
            rp = os.path.join(rec["path"], "resources_part")
            op = os.path.join(rec["path"], "order_part")
            if os.path.isdir(rp):
                c.resources = c.resources.unionByName(
                    spark.read.schema(RESOURCES_SCHEMA).parquet(rp)
                )
            if os.path.isdir(op):
                c.order = c.order.unionByName(
                    spark.read.schema(ORDER_SCHEMA).parquet(op)
                )
        return c


def _queued_counts(queued: DataFrame) -> tuple[int, int]:
    """(rows, depth-0 rows) of queued frontier rows, in one aggregate."""
    r = queued.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum((F.col("depth") == 0).cast("long")), F.lit(0))
        .alias("n0"),
    ).first()
    return r["n"], int(r["n0"])


def _extract_fetched(fetched: DataFrame) -> DataFrame:
    """One Arrow extraction pass over fetched rows' ``p_html``. Relative
    hrefs resolve against the page's OWN url (p_url): the simulated server
    serves norm-equivalent url forms for the same content, like a real
    server 301-ing to the canonical location, and the reference resolves
    against the final post-redirect request url (lib/worker.go:141-151)."""
    return with_extraction(
        fetched.withColumn(
            "_base", F.coalesce(F.col("p_url"), F.col("final_url_norm"))
        ),
        url_col="_base",
        html_col="p_html",
    ).drop("_base")


def _read_manifest(path: str) -> list[dict]:
    """The manifest's records, in superstep order. A torn LAST line — a
    kill during the append — is cut from the file (so the resumed run's
    appends start on a fresh line) and skipped; a bad line anywhere else
    is corruption and raises."""
    with open(path, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    recs = []
    for i, line in enumerate(lines):
        if not line.strip():
            continue
        try:
            recs.append(json.loads(line))
        except ValueError:
            if i < len(lines) - 1:
                raise
            with open(path, "r+b") as f:
                f.truncate(sum(len(x) for x in lines[:-1]))
            return recs
    if lines and not lines[-1].endswith(b"\n"):
        with open(path, "ab") as f:  # complete record, newline lost
            f.write(b"\n")
    return recs


def crawl(
    spark: SparkSession,
    pages: DataFrame | None,
    cfg: CrawlConfig,
    robots: DataFrame | None = None,
    workdir: str | None = None,
    robots_delays: DataFrame | None = None,
) -> CrawlResult:
    """One-call convenience: build a Crawler and run to completion.
    ``pages`` may be None with ``cfg.fetch_mode='http'`` (live fetching)."""
    return Crawler(spark, pages, cfg, robots=robots, workdir=workdir,
                   robots_delays=robots_delays).run()
