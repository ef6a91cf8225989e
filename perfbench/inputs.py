"""Seeded inputs for the benchmark.

Everything here is a pure function of the workload seed: the crawl corpus
(generated distributed from ``spark.range`` plus one Arrow UDF, in the
engine's ``PAGES_SCHEMA``), a driver-side reference BFS over the same link
graph, the ``serve_reads`` request sequence and the ``text_dedup`` inputs
with their injected duplicates. The engine only ever sees the generated
DataFrames; the expected outputs are derived here, independently of it.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from collections import deque
from dataclasses import dataclass

import numpy as np
import pandas as pd

EPOCH = dt.datetime(2000, 1, 1)
_VOCAB = [
    f"{a}{b}" for a in ("crawl", "page", "link", "host", "seed", "fetch",
                        "index", "queue", "spark", "frame", "batch", "delta")
    for b in ("er", "ed", "ing", "s", "ly", "ion", "al", "ic")
]


def _mix(*xs: int) -> int:
    """Stable 64-bit hash of ints (splitmix64 finalizer over a fold)."""
    h = 0x9E3779B97F4A7C15
    for x in xs:
        h = (h ^ (x & 0xFFFFFFFFFFFFFFFF)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 31
    h = h * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
    return h ^ (h >> 29)


@dataclass(frozen=True)
class Corpus:
    """A skewed web graph. Position ``p`` links to ``(p*K + j + 1) % n`` for
    ``j < K``, so BFS from positions ``0..n_seeds-1`` reaches every page and
    the per-depth batch sizes are the same for every seed. The seed decides
    which page (URL, host, title, text) sits at each position. Host 0 holds
    exactly half of the pages."""

    seed: int
    n: int
    n_hosts: int
    out_degree: int
    n_seeds: int

    def page_id(self, pos: int) -> int:
        a = 1 + 2 * (_mix(self.seed, 1) % (self.n // 2))
        while math.gcd(a, self.n) != 1:
            a += 2
        return (a * pos + _mix(self.seed, 2)) % self.n

    def host(self, pid: int) -> int:
        return 0 if pid % 2 == 0 else 1 + _mix(self.seed, 3, pid) % (self.n_hosts - 1)

    def url(self, pos: int) -> str:
        pid = self.page_id(pos)
        return f"http://host{self.host(pid)}.test/p/{pid}.html"

    def links(self, pos: int) -> list[int]:
        return [(pos * self.out_degree + j + 1) % self.n
                for j in range(self.out_degree)]

    def title(self, pos: int) -> str:
        pid = self.page_id(pos)
        return f"page {pid} {_VOCAB[_mix(self.seed, 4, pid) % len(_VOCAB)]}"

    def paragraph(self, pos: int) -> str:
        pid = self.page_id(pos)
        words = [_VOCAB[_mix(self.seed, 5, pid, k) % len(_VOCAB)] for k in range(12)]
        return f"synthetic page {pid} on host {self.host(pid)} " + " ".join(words)

    def text(self, pos: int) -> str:
        """What text extraction yields: anchor texts, then the paragraph."""
        return " ".join([f"out {j}" for j in range(self.out_degree)]
                        + [self.paragraph(pos)])

    def html(self, pos: int) -> bytes:
        anchors = "\n".join(f'<a href="{self.url(t)}">out {j}</a>'
                            for j, t in enumerate(self.links(pos)))
        return (f"<!DOCTYPE html>\n<html>\n<head>\n<title>{self.title(pos)}</title>\n"
                f"</head>\n<body>\n{anchors}\n<p>{self.paragraph(pos)}</p>\n"
                "</body>\n</html>").encode()

    def warc_ts(self, pos: int) -> dt.datetime:
        return EPOCH + dt.timedelta(seconds=self.page_id(pos))

    def seeds(self) -> list[str]:
        return [self.url(p) for p in range(self.n_seeds)]

    def domains(self) -> list[str]:
        return [f"http://host{h}.test" for h in range(self.n_hosts)]

    def surt(self, pos: int) -> str:
        """SURT key of ``url(pos)``, written out for this URL shape."""
        pid = self.page_id(pos)
        return f"test,host{self.host(pid)})/p/{pid}.html"

    def pages_df(self, spark, partitions: int):
        """The corpus as a DataFrame in the engine's ``PAGES_SCHEMA``."""
        from pyspark.sql import functions as F
        from walk_spark.sources.pages import PAGES_SCHEMA

        corpus = self

        def gen(pos: pd.Series) -> pd.DataFrame:
            ps = [int(p) for p in pos]
            return pd.DataFrame({
                "url": [corpus.url(p) for p in ps],
                "warc_ts": [corpus.warc_ts(p) for p in ps],
                "html": [corpus.html(p) for p in ps],
                "text": [corpus.text(p) for p in ps],
            })

        udf = F.pandas_udf(
            gen, "url string, warc_ts timestamp, html binary, text string")
        g = spark.range(0, self.n, 1, partitions).select(udf("id").alias("g"))
        cols = {
            "lang": F.lit("en"), "status": F.lit(200),
            "content_type": F.lit("text/html; charset=utf-8"),
            "redirect_to": F.lit(None),
        }
        return g.select(*[
            cols.get(f.name, F.col(f"g.{f.name}")).cast(f.dataType).alias(f.name)
            for f in PAGES_SCHEMA
        ])

    def reference_depths(self) -> dict[str, int]:
        """Driver-side BFS: url -> crawl depth, for every reachable page."""
        depth = {p: 0 for p in range(self.n_seeds)}
        q = deque(depth)
        while q:
            p = q.popleft()
            for t in self.links(p):
                if t not in depth:
                    depth[t] = depth[p] + 1
                    q.append(t)
        return {self.url(p): d for p, d in depth.items()}


def read_requests(corpus: Corpus, seed: int, count: int,
                  page_size: int) -> list[tuple[str, str, int]]:
    """Seeded ``serve_reads`` mix as (kind, path, position or page):
    ~70% capture meta point reads, ~20% raw capture reads, ~10% index
    pages. Capture paths are scheme-less, as clients send them after the
    API's protocol-stripping redirect."""
    rng = random.Random(_mix(seed, 6))
    pages = corpus.n // page_size
    out = []
    for _ in range(count):
        r = rng.random()
        if r < 0.1:
            pg = rng.randrange(1, pages + 1)
            out.append(("index", f"/collection/bench?page={pg}&pageSize={page_size}", pg))
            continue
        pos = rng.randrange(corpus.n)
        kind = "meta" if r < 0.8 else "raw"
        prefix = "/captures/meta/raw/zero/" if kind == "meta" else "/captures/raw/zero/"
        out.append((kind, prefix + corpus.url(pos)[len("http://"):], pos))
    return out


def dedup_inputs(seed: int, n_docs: int, n_vecs: int, n_dups: int,
                 dim: int = 64, words: int = 48):
    """(docs, vecs, doc_pairs, vec_pairs): random documents and unit
    vectors, with ``n_dups`` seeded documents and vectors each copied under
    a new id. The pairs are the injected duplicates every dedup job must
    report, as (original id, copy id)."""
    rng = np.random.default_rng(_mix(seed, 7) % 2**63)
    vocab = np.array([f"t{i}" for i in range(5000)])
    texts = [" ".join(vocab[rng.integers(0, len(vocab), words)])
             for _ in range(n_docs)]
    vecs = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    src_d = sorted(rng.choice(n_docs, n_dups, replace=False).tolist())
    src_v = sorted(rng.choice(n_vecs, n_dups, replace=False).tolist())
    doc_pairs = {(s, n_docs + i) for i, s in enumerate(src_d)}
    vec_pairs = {(s, n_vecs + i) for i, s in enumerate(src_v)}
    texts += [texts[s] for s in src_d]
    vecs = np.vstack([vecs, vecs[src_v]])
    docs = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                         "text": texts})
    emb = pd.DataFrame({"vec_id": np.arange(len(vecs), dtype=np.int64),
                        "embedding": list(vecs)})
    return docs, emb, doc_pairs, vec_pairs
