"""Real HTTP fetch (S2) — the reference's worker GET re-expressed as an
Arrow-batched distributed fetcher.

Reference semantics (lib/worker.go:138-228): GET with the configured
User-Agent, manual redirect following up to the cap (:195-228, cap 10 →
"stopped after 10 redirects"), response headers recorded flattened
[k1, v1, ...] when RecordHeaders (lib/resource.go:151-156), network errors
become error-string resources.

Spark shape: ``mapInPandas`` over the frontier batch — each task fetches
its partition's urls sequentially (politeness already capped per-host
batch sizes upstream; when it paces, the crawl hash-partitions the batch
by host, so one host's urls land in one task). stdlib urllib only — no
extra dependencies; TLS/timeouts per standard library behavior.

This module is pure plumbing + policy; ``plans.crawl`` plugs it in via
``CrawlConfig.fetch_mode = "http"`` so the whole BSP loop (dedup,
politeness, ordering, resume) is IDENTICAL between the corpus-join
simulation and live fetching.
"""

from __future__ import annotations

import datetime as dt
import urllib.error
import urllib.request
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame

#: output of one fetched url; hops carry recorded redirect resources (F6)
FETCH_SCHEMA = (
    "url string, final_url string, status int, content_type string, "
    "headers array<string>, body binary, error string, "
    "redirect_from string, fetched_at timestamp, "
    "hops array<struct<url: string, redirect_to: string, "
    "redirect_from: string, status: int, content_type: string>>"
)

_REDIRECT_CODES = {301, 302, 303, 307, 308}


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    def redirect_request(self, req, fp, code, msg, headers, newurl):  # noqa: N802
        return None  # surface 3xx to the caller; we follow manually


def fetch_one(url: str, user_agent: str, timeout_s: float,
              max_redirects: int) -> dict:
    """Fetch one url, following redirects manually (worker.go:195-228)."""
    opener = urllib.request.build_opener(_NoRedirect)
    hops: list[dict] = []
    cur, prev = url, None
    for _ in range(max_redirects + 1):
        req = urllib.request.Request(
            cur, headers={"User-Agent": user_agent}, method="GET"
        )
        try:
            with opener.open(req, timeout=timeout_s) as res:
                status = res.status
                hdrs = [x for kv in res.headers.items() for x in kv]
                ct = res.headers.get("Content-Type", "")
                body = res.read()
        except urllib.error.HTTPError as e:
            status = e.code
            hdrs = [x for kv in (e.headers.items() if e.headers else [])
                    for x in kv]
            ct = (e.headers.get("Content-Type", "") if e.headers else "")
            try:
                body = e.read()
            except Exception:  # noqa: BLE001
                body = b""
            loc = e.headers.get("Location") if e.headers else None
            if status in _REDIRECT_CODES and loc:
                nxt = urljoin(cur, loc)
                hops.append({"url": cur, "redirect_to": nxt,
                             "redirect_from": prev, "status": status,
                             "content_type": ct})
                prev, cur = cur, nxt
                continue
            return {"url": url, "final_url": cur, "status": status,
                    "content_type": ct, "headers": hdrs, "body": body,
                    "error": None, "redirect_from": prev, "hops": hops}
        except Exception as e:  # noqa: BLE001 — network errors -> error rows
            return {"url": url, "final_url": cur, "status": 0,
                    "content_type": None, "headers": None, "body": None,
                    "error": f"fetch error: {e}", "redirect_from": prev,
                    "hops": hops}
        loc = dict(zip(hdrs[::2], hdrs[1::2])).get("Location") \
            if status in _REDIRECT_CODES else None
        if loc:
            nxt = urljoin(cur, loc)
            hops.append({"url": cur, "redirect_to": nxt,
                         "redirect_from": prev, "status": status,
                         "content_type": ct})
            prev, cur = cur, nxt
            continue
        return {"url": url, "final_url": cur, "status": status,
                "content_type": ct, "headers": hdrs, "body": body,
                "error": None, "redirect_from": prev, "hops": hops}
    # cap exceeded (worker.go:222-224)
    return {"url": url, "final_url": None, "status": 0,
            "content_type": None, "headers": None, "body": None,
            "error": f"stopped after {max_redirects} redirects",
            "redirect_from": None, "hops": hops}


def fetch_batch(urls: DataFrame, user_agent: str = "walk_spark/0.1",
                timeout_s: float = 10.0, max_redirects: int = 10,
                url_col: str = "url", delay_ms: float = 0.0,
                host_delay_ms: dict[str, float] | None = None) -> DataFrame:
    """Distributed GET of every url in ``urls`` (one row per input url).
    All other input columns are preserved (the crawl passes frontier
    bookkeeping through).

    ``delay_ms`` > 0 enforces the reference's CrawlDelay between
    consecutive same-host GETs WITHIN a task (lib/worker.go:81-83): each
    task tracks the last-GET time per host and sleeps the remainder of
    the delay before re-hitting that host. Politeness budgets upstream
    bound the per-superstep count; this bounds the instantaneous rate a
    live server sees. The tracker is per task, so it limits a host's rate
    only when all of that host's rows share one partition — the crawl
    hash-partitions its batch by host before calling this whenever a
    delay is in effect.

    ``host_delay_ms`` maps CANONICAL hosts (lowercase, port-less,
    www-stripped — ``functions.urlnorm.canonical_host``, the key the
    Crawler's robots table uses) to their OWN delay — the robots-declared
    Crawl-delay (fetchbot honors it over the configured delay when Polite,
    lib/worker.go:79-90). A host in the map uses its value even when
    ``delay_ms`` is 0; the tiny dict rides the serialized closure (hosts
    that declare the directive only). The fetch-time lookup canonicalizes
    the url's host the same way, so www-prefixed and port-bearing urls
    are paced too."""
    passthrough = [c for c in urls.columns]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in urls.schema.fields
    ) + ", " + FETCH_SCHEMA.replace("url string, ", "", 1)
    overrides = dict(host_delay_ms) if host_delay_ms else {}
    track = delay_ms > 0 or bool(overrides)

    def _go(it):
        import time

        from walk_spark.functions.urlnorm import canonical_host
        last_hit: dict[str, float] = {}
        for pdf in it:
            recs = []
            for u in pdf[url_col]:
                if track:
                    # CANONICAL host (lowercase, no port, no www) — the same
                    # key the Crawler's robots table uses for host_delay_ms;
                    # a raw netloc lookup silently skipped the declared
                    # Crawl-delay for www-prefixed or port-bearing urls
                    host = canonical_host(u)
                    d = overrides.get(host, delay_ms)
                    t_prev = last_hit.get(host)
                    if d > 0 and t_prev is not None:
                        wait = d / 1000.0 - (time.monotonic() - t_prev)
                        if wait > 0:
                            time.sleep(wait)
                recs.append(fetch_one(u, user_agent, timeout_s,
                                      max_redirects))
                if track:
                    last_hit[host] = time.monotonic()
            now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
            out = pdf.copy()
            for k in ("final_url", "status", "content_type", "headers",
                      "body", "error", "redirect_from", "hops"):
                out[k] = [r[k] for r in recs]
            out["fetched_at"] = [now] * len(recs)
            yield out

    return urls.mapInPandas(_go, schema=out_schema)


__all__ = ["FETCH_SCHEMA", "fetch_batch", "fetch_one"]
