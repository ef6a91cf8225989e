"""Crawl job configuration.

Mirrors the reference's JSON job config (lib/config.go:88-127 JobConfig,
lib/config.go:166-178 WorkerConfig) as a plain dataclass. Defaults follow
lib/config.go:129-154 DefaultJobConfig.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, asdict


@dataclass
class CrawlConfig:
    """Configuration for one crawl job.

    Field provenance (reference file:line):
      seeds               lib/config.go:92    (Seeds)
      crawl               lib/config.go:95-97 (Crawl — gate link expansion)
      domains             lib/config.go:98-100 (Domains — candidate filter)
      ignore_patterns     lib/config.go:101-103 (IgnorePatterns substrings)
      delay_milli         lib/config.go:106   (DelayMilli politeness delay)
      stop_after_entries  lib/config.go:107-109
      stop_url            lib/config.go:110-111
      backoff_codes       lib/config.go:112-115 (BackoffResponseCodes)
      max_attempts        lib/config.go:116-117 (default 3, :139)
      record_redirects    lib/config.go:175-176 (WorkerConfig.RecordRedirects)
      record_headers      lib/config.go:173-174
      polite              lib/config.go:171-172
      user_agent          lib/config.go:177
    Spark-side additions (no reference equivalent — scale machinery):
      host_budget_per_superstep  per-host fetch cap per superstep; the BSP
          re-expression of fetchbot's CrawlDelay (lib/worker.go:81-83): with a
          superstep modeling `round_seconds` of wall clock, budget ≈
          round_seconds*1000/delay_milli.
      max_batch_size     global cap on urls fetched per superstep (backpressure,
          replaces the 150-deep queue channel lib/queue.go:33)
      seen_partitions    number of salted-host hash partitions of the seen set
      hot_host_threshold hosts with more queued urls than this get url-salted
      use_bloom          maintain per-partition URL-seen prefilters for the
          seen anti-join (exact anti-join always confirms, so output is
          identical on or off)
      max_redirects      redirect chain cap (lib/worker.go:222-224 — 10)
    """

    seeds: list[str] = field(default_factory=list)
    seeds_path: str = ""  # newline-delimited seed file (S1, lib/job.go:184-235)
    crawl: bool = True
    domains: list[str] = field(default_factory=list)
    ignore_patterns: list[str] = field(default_factory=list)
    delay_milli: int = 500
    stop_after_entries: int = 0  # 0 = unlimited
    stop_url: str = ""
    backoff_codes: list[int] = field(default_factory=lambda: [403, 429])
    max_attempts: int = 3
    record_redirects: bool = True
    record_headers: bool = False
    polite: bool = True
    user_agent: str = "walk_spark/0.1"
    job_id: str = "1"

    # Spark scale machinery
    host_budget_per_superstep: int = 0  # 0 = unlimited (politeness off)
    superstep_seconds: int = 0  # >0: derive host budget from delay_milli
    #   (budget = superstep_seconds*1000 / delay_milli — the BSP reading of
    #   fetchbot's CrawlDelay; ignored when host_budget_per_superstep is set)
    max_batch_size: int = 0  # 0 = unlimited
    seen_partitions: int = 8
    #: hosts whose urls are salted by full-url hash instead of host hash in
    #: the seen-set partitioning (north rule "salt hot hosts"): a host
    #: holding ~50% of a 10^10-url frontier would otherwise pin one
    #: partition. Must be a STABLE list (part_id is a pure function of url;
    #: flipping a host mid-crawl would orphan its seen entries) — operators
    #: derive it from corpus stats before the run, or set hot_host_threshold
    #: to auto-detect from the seed corpus at crawl start.
    hot_hosts: list[str] = field(default_factory=list)
    hot_host_threshold: int = 0  # >0: hosts with more corpus pages than
    #   this are auto-added to hot_hosts at Crawler init (one groupBy)
    #: ``use_bloom`` keeps its filters as a driver-owned {part_id: bytes}
    #: map, merged each superstep from a build over the new frontier rows
    #: and broadcast once to the probe. Their total size, seen_partitions × bloom_num_bits/8,
    #: must fit dedup.BLOOM_BROADCAST_MAX_BYTES (256 MB) — Crawler(...)
    #: raises ValueError otherwise, before any Spark job.
    use_bloom: bool = False
    #: informational only: ``bloom_num_bits`` alone sizes the filters
    bloom_expected_items: int = 1_000_000
    #: bits per seen-set partition filter (a BYTE budget of bits/8 shared
    #: by either kind)
    bloom_num_bits: int = 8_388_608
    #: which URL-seen prefilter kind ``use_bloom`` maintains (north rule
    #: "bloom/cuckoo URL-seen"): "bloom" (numpy bitsets, operators.dedup)
    #: or "cuckoo" (fingerprint table, operators.cuckoo — supports
    #: deletion, used by Crawler.forget_urls). Both share the
    #: bloom_num_bits byte budget, the same filter map and the one probe
    #: plan; crawls are byte-identical across kinds (tests/test_cuckoo.py).
    #: Any other value raises ValueError at Crawler(...).
    seen_filter: str = "bloom"
    #: frontier pick order (north rule "priority queue"): "fifo" (default
    #: — canonical (depth, discovery_seq, url) order, the reference's
    #: queue.go:12-14 contract) or "priority" — order by ``priority_expr``
    #: (a SQL expression over frontier columns: depth, discovery_seq, url,
    #: host, attempts, prev_http_status, superstep; HIGHER first) with the
    #: canonical order as tie-break. Affects only which queued urls a
    #: budgeted/capped superstep picks first; discovery numbering and the
    #: seen set stay deterministic.
    queue_mode: str = "fifo"
    priority_expr: str = ""
    #: superstep pin / fetch-join shuffle width (partitions for the
    #: co-partitioned corpus, per-superstep state pins and batch
    #: repartitions). 0 = auto, DATA-AWARE and LEVEL-PROPORTIONAL: enough
    #: partitions that each holds ≤ 50k corpus rows, clamped to
    #: [cores, 3 x cores] (plans.crawl.PIN_ROWS_PER_PARTITION and
    #: PIN_WIDTH_FACTOR, with the measured crossover behind them). Set
    #: explicitly to pin the width across cluster sizes (the scaling
    #: protocol's comparability mode). Crawl ORDER is width-independent
    #: either way — ordering depends only on the (depth, discovery_seq,
    #: url) sort, verified by tests/test_crawl.py's two-width test and the
    #: A/B's cross-width order-hash equality at 2M and 4M.
    pin_partitions: int = 0
    max_redirects: int = 10
    max_supersteps: int = 1000
    #: "corpus" (default): simulated GET via join against the pages table;
    #: "http": real GETs through sources.http_fetch (worker.go:138-228
    #: semantics — redirects, headers, error rows). The rest of the loop
    #: (politeness, dedup, ordering, resume) is identical in both modes.
    fetch_mode: str = "corpus"
    fetch_timeout_s: float = 10.0
    #: http mode only: real CrawlDelay (fetchbot, lib/worker.go:81-83) —
    #: minimum ms between consecutive same-host GETs inside a fetch task.
    #: Politeness budgets bound the per-superstep COUNT; this bounds the
    #: instantaneous RATE a live server sees. 0 = no sleeping (default —
    #: the BSP budget is the politeness contract for simulated runs).
    http_delay_milli: int = 0
    #: dedup the pages corpus on its NORMALIZED url at prep time (latest
    #: warc_ts wins). Two raw urls that canonicalize identically would
    #: otherwise each match the fetch join, inflating batch counts and
    #: corrupting the incremental queued tracking. Set False only when the
    #: corpus generator guarantees normalized-url uniqueness (the synthetic
    #: benches do) — it skips one full-corpus shuffle at crawl start.
    dedup_pages: bool = True

    def effective_host_budget(self) -> int:
        """Per-host urls per superstep (0 = unlimited)."""
        if self.host_budget_per_superstep > 0:
            return self.host_budget_per_superstep
        if self.superstep_seconds > 0 and self.delay_milli > 0:
            return max(1, self.superstep_seconds * 1000 // self.delay_milli)
        return 0

    def all_seeds(self) -> list[str]:
        """seeds ∪ lines of seeds_path (U2, lib/job.go:192-205) — raw
        strings, blank lines dropped."""
        out = list(self.seeds)
        if self.seeds_path:
            with open(self.seeds_path) as f:
                out.extend(ln.strip() for ln in f if ln.strip())
        return out

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "CrawlConfig":
        d = json.loads(s)
        return cls(**{k: v for k, v in d.items() if k in cls.__dataclass_fields__})
