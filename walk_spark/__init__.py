"""walk_spark — a from-scratch PySpark-native crawl/frontier analytics engine.

Re-expresses the capabilities of qri-io/walk (a Go sitemapping crawler:
coordinator + FIFO queue + URL-seen store + pluggable resource handlers)
as vectorized BSP supersteps over Spark DataFrames:

- ``walk_spark.functions.urlnorm``  — purell-FlagsUnsafeGreedy URL
  canonicalization, SURT keys, canonical hosts (reference lib/resource.go:136-148)
- ``walk_spark.functions.extract``  — Arrow-vectorized html -> (title, links,
  text, sniff, hash) extraction (reference lib/resource.go:90-189)
- ``walk_spark.plans.crawl``        — the superstep crawl loop replacing the
  goroutine coordinator (reference lib/coordinator.go)
- ``walk_spark.operators``          — dedup/seen anti-join, politeness budgets,
  sitemap/index sinks, offline queries (inbound-links, collection argmax,
  pagination), plus large-scale training-data ops (MinHash-LSH/SimHash dedup,
  ANN similarity, text quality analysis)
- ``walk_spark.sources``            — deterministic synthetic page-graph
  generators standing in for Common-Crawl-style input tables

Everything is public-API PySpark (DataFrame/SQL + pandas/Arrow UDFs); no RDDs,
no per-row Python UDFs in hot paths, no custom Catalyst rules.
"""

__version__ = "0.1.0"

from walk_spark.config import CrawlConfig  # noqa: F401
from walk_spark.worker_hook import install_in_worker

# a Spark Python worker imports walk_spark while unpickling an engine UDF:
# from then on its per-task invalidate_caches stops re-reading zip archives
install_in_worker()
