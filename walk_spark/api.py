"""Read-path API surface (SURVEY.md O4-O6) — the reference's HTTP handlers
re-expressed as plain functions over DataFrames (api/server.go routes them;
the serving shell is deliberately out of scope, the QUERIES are not).

- ``path_timestamp_url``  — {timestamp}/{url} path parsing
  (api/collection_handlers.go:189-218, incl. "now"/"zero" sentinels)
- ``list_resources``      — paginated archive listing (O4;
  api/collection_handlers.go page/pageSize semantics over SortedIndex)
- ``list_requests``       — paginated frontier/request listing (O5;
  the reference's ListRequests over the request store)
- ``get_resource``        — {timestamp}/{url} point read (raw) or
  redirect-resolved (api raw-vs-resolved read), via operators.queries
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F

from walk_spark.operators.queries import get_capture
from walk_spark.operators.sitemap import sorted_index_page

#: Go's zero time (time.Time{}) — the "zero" path sentinel
ZERO_TIME = dt.datetime(1, 1, 1, 0, 0, 0)


def path_timestamp_url(prefix: str, path: str) -> tuple[dt.datetime, str]:
    """Parse ``{prefix}/{timestamp}/{url}`` (O6 —
    api/collection_handlers.go:189-218): timestamp is RFC3339, or "now"
    (wall clock) or "zero" (time.Time{}). Raises ValueError on the
    reference's error cases."""
    p = path[len(prefix):] if path.startswith(prefix) else path
    if p in ("", "/"):
        raise ValueError("not found")
    p = p.lstrip("/")
    split = p.split("/", 1)
    if len(split) != 2 or not split[1]:
        raise ValueError("invalid {timestamp}/{url} combination")
    ts_s, url = split
    if ts_s == "now":
        t = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    elif ts_s == "zero":
        t = ZERO_TIME
    else:
        s = ts_s[:-1] if ts_s.endswith("Z") else ts_s
        t = dt.datetime.fromisoformat(s)
        if t.tzinfo is not None:
            t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return t, url


def list_resources(ok_resources: DataFrame, page: int = 0,
                   page_size: int = 25) -> DataFrame:
    """O4: one SURT-ordered index page (the handlers' page/pageSize read
    over SortedIndex, lib/walk.go:130-152)."""
    return sorted_index_page(ok_resources, page_size, page * page_size)


def list_requests(frontier: DataFrame, page: int = 0,
                  page_size: int = 25,
                  status: str | None = None) -> DataFrame:
    """O5: paginated request listing over the frontier (the reference's
    ListRequests over its request store) in canonical crawl order,
    optionally filtered by status."""
    d = frontier
    if status is not None:
        d = d.filter(F.col("status") == status)
    return (
        d.orderBy("depth", "discovery_seq", "url")
        .select("url", "host", "depth", "discovery_seq", "status",
                "attempts", "prev_http_status", "superstep")
        .offset(page * page_size)
        .limit(page_size)
    )


def get_resource(resources: DataFrame, url: str,
                 resolve_redirects: bool = False) -> dict | None:
    """The api read: raw returns the capture as-is; resolved chases
    RedirectTo up to the 20-hop cap (api/collection_handlers.go:164-187).
    The timestamp argument of the reference is effectively ignored there
    (latest-capture argmax) — same here via operators.queries.get_capture."""
    return get_capture(resources, url, follow_redirects=resolve_redirects)


__all__ = [
    "ZERO_TIME", "get_resource", "list_requests", "list_resources",
    "path_timestamp_url",
]
