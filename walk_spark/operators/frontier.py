"""Frontier state: schemas and deterministic sequence assignment (the
salted host partitioning of the seen set is ``Crawler._part_id_col``).

The frontier DataFrame replaces the reference's ``RequestStore`` +
``MemQueue`` pair (lib/request_store.go:18-163, lib/queue.go:22-72): one row
per URL ever enqueued, carrying its request status — so the frontier IS the
URL-seen set (a ``GetRequest(url) == nil`` check in the reference,
lib/coordinator.go:301-309, becomes an anti-join against these rows).

Dedup keys are EXACT url strings, replicating the reference's mixed
raw-seed / normalized-link keying (seeds enqueued verbatim,
lib/coordinator.go:174-178; links normalized, lib/resource.go:177).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)
from pyspark.sql.window import Window

#: request statuses — reference lib/request.go:21-36 (UNKNOWN/FETCH/QUEUED/
#: REQUESTING/DONE/FAILED); BSP needs no REQUESTING; 'redirected' is our
#: terminal state for a url whose fetch landed elsewhere (see plans.crawl).
STATUS_QUEUED = "queued"
STATUS_DONE = "done"
STATUS_FAILED = "failed"
STATUS_REDIRECTED = "redirected"

FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),      # exact enqueued string
        StructField("host", StringType(), True),      # canonical host
        StructField("depth", IntegerType(), False),   # BFS depth
        StructField("discovery_seq", LongType(), False),  # global determ. seq
        StructField("status", StringType(), False),
        StructField("attempts", IntegerType(), False),
        StructField("prev_http_status", IntegerType(), True),
        StructField("superstep", IntegerType(), False),  # enqueue superstep
        StructField("part_id", IntegerType(), False),  # salted host partition
        StructField("job_id", StringType(), False),
    ]
)

#: canonical crawl order — (depth, discovery_seq, url); the deterministic
#: replacement for the reference's racy Go-map iteration order
#: (lib/coordinator.go:279-308; SURVEY.md D1 note).
ORDER_COLS = ["depth", "discovery_seq", "url"]


def with_global_seq(
    df: DataFrame,
    sort_cols: list[str],
    seq_col: str = "discovery_seq",
    start: int = 0,
    num_partitions: int | None = None,
    bucket: Column | None = None,
) -> tuple[DataFrame, int]:
    """Assign a dense global sequence 0..n-1 in ``sort_cols`` order —
    scalable two-phase ranking (NO single-partition window):

      1. partition the rows monotonically w.r.t. the sort key — either by
         a caller-supplied deterministic ``bucket`` expression (below) or
         by ``repartitionByRange`` — and pin the input (one job, the only
         full pass over the data this function pays for),
      2. per-partition ``row_number`` (partition-local sort),
      3. add per-partition offsets (a tiny P-row collect over the pinned
         input, broadcast back as a literal map).

    ``bucket``: a Column that is MONOTONE NON-DECREASING w.r.t. the
    lexicographic ``sort_cols`` order (key1 < key2 ⇒ bucket1 ≤ bucket2).
    Offsets are computed from the ACTUAL per-bucket counts, so any
    monotone bucketing — however unbalanced — yields exactly the global
    dense rank; balance only affects task sizes. A pure expression needs
    no range-bounds sampling pass and is stable across re-executions, so
    the two-pin dance of the range path (see below) collapses to ONE pin
    + one aggregate: two fewer jobs per call on the crawl loop's hot path
    (guide §2.4 — remove shuffles outright).

    The result depends only on the global sort order, so it is byte-identical
    across parallelism levels (the two-cluster-size determinism requirement,
    SURVEY.md §4 item 4) as long as ``sort_cols`` are a unique key (callers
    include ``url``) — and identical between the bucket and range paths.

    Returns ``(ranked, n)``: the ranked output is LAZY (the window runs
    when the caller next materializes state — the crawl superstep's
    frontier pin), and ``n`` is the row count the offsets already paid
    for, so callers need no separate count() job.
    """
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    cols = [F.col(c) for c in sort_cols]
    if bucket is not None:
        # deterministic monotone bucketing: one pin, no sampling, and the
        # window's own hash exchange on _pid does the physical movement
        # when the caller materializes — no second pin needed because the
        # row→bucket map is a pure expression (stable across actions)
        d = d0 = df.withColumn("_pid", bucket.cast("long")).localCheckpoint(
            eager=True
        )
    else:
        # pin the INPUT first: repartitionByRange samples its input with an
        # extra pass, so an unpinned upstream pipeline (candidate explode +
        # dedup + anti-join in the crawl loop) would run twice. Then pin the
        # RANGED layout too — range bounds come from sampling, and two
        # separate actions over a lazy range exchange can sample different
        # bounds, desynchronizing the offset map from the window partitions
        # (observed: non-dense ranks). The second pin only shuffles the
        # already-pinned narrow rows.
        d0 = df.localCheckpoint(eager=True)
        d = d0.repartitionByRange(num_partitions, *cols).withColumn(
            "_pid", F.spark_partition_id()
        ).localCheckpoint(eager=True)
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    total = acc - start
    if not offsets:
        out = d0.withColumn(seq_col, F.lit(start).cast("long"))
        if bucket is not None:
            out = out.drop("_pid")
        return out, 0
    off_expr = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    out = (
        d.withColumn(
            seq_col,
            (F.row_number().over(w) - 1 + off_expr[F.col("_pid")]).cast("long"),
        )
        .drop("_pid")
    )
    return out, total

