"""Per-host politeness scheduling + robots.txt gating (SURVEY.md F5).

The reference delegates politeness to fetchbot: per-host goroutines insert
``CrawlDelay`` between same-host requests and consult robots.txt when
``Polite`` (lib/worker.go:79-90). In BSP, a superstep models a round of wall
clock, so the continuous delay becomes a **per-host budget**: at most
``budget ≈ round_seconds*1000/delay_milli`` urls of one host per superstep.
Equivalence contract (SURVEY.md §7 risks): same visit SET and same BFS
frontier per depth under the same budget — scheduling jitter is not
replicated, the reference's own interleaving being racy.

``pick_budget_window`` is a skew-proof two-phase top-k: rank within
(host, salt) buckets first, then within host over the ≤ budget*S
survivors. A hot host with 10^8 queued urls never lands in one task.

Robots gating: a rules table (host, disallow_prefix) anti-joined against
candidates before enqueue. Matches by canonical host + path prefix.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from walk_spark.operators.frontier import ORDER_COLS

_SALTS = 16


#: below this many queued rows the salted two-phase pick degenerates to a
#: single per-host window — the skew a salted first phase guards against
#: (10^8 urls of one host landing in one sort task) cannot exist under a
#: million rows, and the second shuffle pass is pure fixed cost. The switch
#: keys on an exact row count, so it is deterministic across cluster sizes
#: (same input -> same path -> same rows) and the two paths agree by
#: construction (phase 1 only prefilters).
_TWO_PHASE_THRESHOLD = 1_000_000


def pick_budget_window(queued: DataFrame, budget: int,
                       budget_overrides: DataFrame | None = None,
                       approx_queued: int | None = None,
                       order: list | None = None,
                       max_override_budget: int = 0) -> DataFrame:
    """Select ≤ budget urls per canonical host, in canonical crawl order.

    ``budget_overrides`` (host, budget) replaces individual hosts' budgets
    — the backoff path (F12, halved budgets) and the robots Crawl-delay
    path (fetchbot parity: the robots-declared delay wins over the
    configured one in BOTH directions, lib/worker.go:79-90). An override
    ABOVE the default budget is honored only if the caller discloses the
    cap via ``max_override_budget`` (the salted first phase prefilters
    with max(budget, max_override_budget) so a raised host keeps all its
    candidate rows).

    ``approx_queued`` (an exact tracked count, despite the name guarding
    against stale callers): when provided and under the two-phase threshold,
    the salted prefilter window is skipped — one shuffle instead of two.

    ``order``: Column sort order replacing the canonical FIFO order — the
    priority-queue mode (north rule): callers pass a priority expression
    (desc) followed by ORDER_COLS as tie-break. Any deterministic total
    order is safe under the two-phase prefilter: a row in a host's global
    top-k under the order is also in its (host, salt) bucket's top-k.
    """
    if budget <= 0:
        return queued
    order = order if order is not None else [F.col(c) for c in ORDER_COLS]
    w2 = Window.partitionBy("host").orderBy(*order)
    d = queued
    eff = F.lit(budget)
    if budget_overrides is not None:
        ov = F.broadcast(
            budget_overrides.select(
                F.col("host").alias("_bh"), F.col("budget").alias("_bb")
            )
        )
        d = d.join(ov, d.host == ov._bh, "left")
        eff = F.coalesce(F.col("_bb"), F.lit(budget))
    two_phase = approx_queued is None or approx_queued >= _TWO_PHASE_THRESHOLD
    if two_phase:
        salt = F.pmod(F.xxhash64("url"), F.lit(_SALTS))
        w1 = Window.partitionBy(F.col("host"), salt).orderBy(*order)
        d = (
            d.withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= F.lit(max(budget, max_override_budget)))
            .drop("_r1")
        )
    out = (
        d.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= eff)
        .drop("_r2")
    )
    if budget_overrides is not None:
        out = out.drop("_bh", "_bb")
    return out


def cap_batch(batch: DataFrame, max_batch_size: int,
              order: list | None = None) -> DataFrame:
    """Global backpressure (replaces the 150-deep queue chan,
    lib/queue.go:33): keep the max_batch_size first urls in canonical order
    (or a caller-supplied priority ``order``, see pick_budget_window).
    Same two-phase trick, bucketed by url hash, so no global sort."""
    if max_batch_size <= 0:
        return batch
    order = order if order is not None else [F.col(c) for c in ORDER_COLS]
    salt = F.pmod(F.xxhash64("url"), F.lit(_SALTS))
    w1 = Window.partitionBy(salt).orderBy(*order)
    w2 = Window.partitionBy(F.lit(1)).orderBy(*order)
    return (
        batch.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= max_batch_size)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= max_batch_size)
        .drop("_r1", "_r2")
    )


def apply_robots(candidates: DataFrame, robots: DataFrame | None,
                 path_col: str | None = None) -> DataFrame:
    """Drop candidates disallowed by robots rules, with RFC 9309 §2.2.2
    precedence: among all rules whose pattern matches the URL path, the
    LONGEST rule wins; a length tie goes to Allow; no match = allowed.
    Rules containing ``*`` / trailing ``$`` match per RFC 9309 §2.2.3
    (any-sequence wildcard / end anchor — fetchbot's robots library honors
    these, lib/worker.go:81-83); plain rules keep the prefix fast path.

    ``robots`` columns: host, disallow_prefix, optional ``allow`` boolean
    (absent/null = Disallow rule — the legacy fixture shape, for which
    longest-match degenerates to the old any-match-denies behavior).

    ``path_col``: a precomputed path column name on ``candidates`` (the
    crawl loop derives it from its single parse_url pass); default parses
    the url here.

    Shuffle shape: the tiny rules table is pre-aggregated to one
    array<struct<prefix,pattern,allow>> row per host and BROADCAST —
    wildcard rules are compiled to anchored Java regexes ON THE RULES SIDE
    (a pandas UDF over the small table); each candidate then resolves its
    verdict with JVM higher-order functions (filter + aggregate over the
    host's rule array) inside whole-stage codegen — the high-volume
    candidate stream is never shuffled or UDF'd here.
    """
    if robots is None:
        return candidates
    from walk_spark.sources.robots import compile_robots_pattern

    allow_col = (F.coalesce(F.col("allow"), F.lit(False))
                 if "allow" in robots.columns else F.lit(False))

    def _compile(vals: pd.Series) -> pd.Series:
        return vals.map(
            lambda v: None if v is None else compile_robots_pattern(v)
        )

    pat_udf = F.pandas_udf(_compile, returnType="string")
    by_host = F.broadcast(
        robots.select(
            F.col("host").alias("_rhost"),
            F.struct(
                F.col("disallow_prefix").alias("prefix"),
                pat_udf(F.col("disallow_prefix")).alias("pattern"),
                allow_col.alias("allow"),
            ).alias("_r"),
        )
        .groupBy("_rhost")
        .agg(F.collect_list("_r").alias("_rules"))
    )
    path = (
        F.col(path_col) if path_col is not None
        else F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit(""))
    )
    joined = candidates.join(
        by_host, candidates["host"] == by_host["_rhost"], "left"
    )
    matched = F.filter(
        F.coalesce(F.col("_rules"), F.array()),
        lambda r: F.when(
            r["pattern"].isNull(), path.startswith(r["prefix"])
        ).otherwise(F.regexp_like(path, r["pattern"])),
    )
    # longest-match fold: carry (best_len, best_allow); ties -> Allow
    verdict = F.aggregate(
        matched,
        F.struct(F.lit(-1).alias("len"), F.lit(True).alias("allow")),
        lambda acc, r: F.when(
            F.length(r["prefix"]) > acc["len"],
            F.struct(F.length(r["prefix"]).alias("len"),
                     r["allow"].alias("allow")),
        ).when(
            (F.length(r["prefix"]) == acc["len"]) & r["allow"],
            F.struct(acc["len"].alias("len"), F.lit(True).alias("allow")),
        ).otherwise(acc),
        lambda acc: acc["allow"],
    )
    return joined.filter(verdict).drop("_rhost", "_rules")
