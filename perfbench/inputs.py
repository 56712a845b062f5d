"""Benchmark inputs: page corpora and query streams, all from a seed.

Pages come from the repository's synthetic crawl generator
(``search_engine_spark.sources.pages``). Its rows are a pure function of
the row index ``i``, so a corpus is an index *window*: the fixed windows
below never overlap, and seed-dependent windows start far beyond them.
The rows are produced here, in the benchmark process, with the same row
function ``generate_pages`` maps over; the program only ever reads the
parquet files written by ``write_pages``.

Query streams are drawn from the generator's vocabulary, whose order is
its Zipf rank order (rank 1 = most frequent word).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from search_engine_spark.sources import pages as _pages

BASE_WINDOW = (0, 5000)            # the production corpus
SHARD_WINDOW = (1_000_000, 1_000_500)  # merge-into shard
NEW_URLS_ORIGIN = 2_000_000       # seed-dependent new-url windows
RECRAWL_ORIGIN = 3_000_000_000    # seed-dependent re-crawl bodies
RECRAWL_TS = dt.datetime(2027, 1, 1)  # newer than any generated page

HOT_WORDS = 60        # the hot pool draws from the Zipf head
HOT_POOL = 200        # distinct queries in the hot pool


def vocab() -> list[str]:
    return _pages._vocab()


def page_rows(start: int, stop: int) -> list[tuple]:
    """Rows ``start <= i < stop`` of the synthetic crawl."""
    v, cdf = _pages._vocab(), _pages._zipf_cdf()
    return [_pages._row(i, v, cdf) for i in range(start, stop)]


def write_pages(rows: list[tuple], out_dir: str) -> str:
    """One parquet file in the ``pages`` shape the build CLI reads."""
    os.makedirs(out_dir, exist_ok=True)
    url, ts, html, text, lang = (list(c) for c in zip(*rows))
    tbl = pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })
    path = os.path.join(out_dir, "part-00000.parquet")
    pq.write_table(tbl, path)
    return path


def refresh_delta(seed: int, base_urls: list[str], n: int) -> list[tuple]:
    """``n`` pages for ``build_index.py --extend --update``: half new
    urls from a seed-chosen window, half re-crawls of seed-chosen base
    urls (new body, newer ``warc_ts``)."""
    rng = np.random.default_rng(seed)
    n_new = n // 2
    start = NEW_URLS_ORIGIN + (seed % 1_000_000) * 1000
    new = page_rows(start + 1, start + 1 + n_new)  # +1: no dup-of-previous
    urls = sorted(set(base_urls))
    picked = rng.choice(len(urls), size=n - n_new, replace=False)
    body_start = RECRAWL_ORIGIN + (seed % 1_000_000) * 1000
    bodies = page_rows(body_start, body_start + len(picked))
    recrawl = [
        (urls[int(j)], RECRAWL_TS + dt.timedelta(seconds=k),
         body[2], body[3], body[4])
        for k, (j, body) in enumerate(zip(picked, bodies))
    ]
    return new + recrawl


def newest_text(urls, timestamps, texts) -> dict[str, str]:
    """url -> text of its newest snapshot, the one a build indexes (a
    crawl holds older re-crawls of some urls)."""
    best: dict[str, tuple] = {}
    for u, ts, text in zip(urls, timestamps, texts):
        if u not in best or ts > best[u][0]:
            best[u] = (ts, text)
    return {u: text for u, (_, text) in best.items()}


def phrases_from(texts: list[str], rng: np.random.Generator, n: int, *,
                 allowed: set[str] | None = None) -> list[str]:
    """``n`` two-word phrases that occur in ``texts`` (adjacent words),
    optionally restricted to pairs whose words are both in ``allowed``."""
    out: list[str] = []
    tries = 0
    while len(out) < n and tries < 100 * n:
        tries += 1
        words = texts[int(rng.integers(len(texts)))].split()
        if len(words) < 2:
            continue
        j = int(rng.integers(len(words) - 1))
        a, b = words[j], words[j + 1]
        if not (a.isalpha() and b.isalpha()):
            continue
        if allowed is not None and not (a in allowed and b in allowed):
            continue
        out.append(f"{a} {b}")
    return out


class Query:
    """One request: ``kind`` is "bow" (bag of words; ``mode`` and/or),
    "phrase" (quoted two-word phrase) or "mixed" (phrase + boolean).
    ``probe`` marks the queries checked against the exhaustive oracle."""

    __slots__ = ("kind", "text", "mode", "probe")

    def __init__(self, kind: str, text: str, mode: str = "and",
                 probe: bool = False):
        self.kind, self.text, self.mode, self.probe = kind, text, mode, probe

    def key(self) -> str:
        return f"{self.kind}|{self.mode}|{self.text}"


def probe_set(kind: str, n: int) -> list[Query]:
    """Seed-independent BM25 queries whose exhaustive rankings are
    computed once per program version (``fixture.py``); every serve run
    mixes a seed-chosen sample of them into its stream."""
    v = vocab()
    rng = np.random.default_rng(7 if kind == "hot" else 11)
    words = v[:HOT_WORDS] if kind == "hot" else v
    out = []
    for i in range(n):
        k = int(rng.integers(1, 4))
        out.append(Query("bow", " ".join(rng.choice(words, size=k)),
                         "or" if i % 2 else "and", probe=True))
    return out


def _bow(rng: np.random.Generator, words: list[str], i: int) -> Query:
    k = int(rng.integers(1, 4))
    return Query("bow", " ".join(rng.choice(words, size=k)),
                 "or" if i % 2 else "and")


def _mix(rng: np.random.Generator, words: list[str], phrases: list[str],
         i: int) -> Query:
    """80% bag-of-words (alternating AND/OR), 10% phrase, 10% mixed."""
    r = i % 10
    if r == 8:
        return Query("phrase", phrases[int(rng.integers(len(phrases)))])
    if r == 9:
        p = phrases[int(rng.integers(len(phrases)))]
        return Query("mixed", f'"{p}" {rng.choice(words)}')
    return _bow(rng, words, i)


def hot_pool(seed: int, texts: list[str], probes: list[Query]) -> list[Query]:
    """~40 distinct queries over the 60 most frequent words, including
    a seed-chosen sample of the hot probe set."""
    rng = np.random.default_rng(seed)
    words = vocab()[:HOT_WORDS]
    phrases = phrases_from(texts, rng, 40, allowed=set(words))
    picked = rng.choice(len(probes), size=8, replace=False)
    pool = [probes[int(j)] for j in picked]
    i = 0
    while len(pool) < HOT_POOL:
        pool.append(_mix(rng, words, phrases, i))
        i += 1
    order = rng.permutation(len(pool))
    return [pool[int(j)] for j in order]


class ColdStream:
    """Endless stream with terms uniform over the whole vocabulary;
    every 16th request is a seed-chosen cold probe."""

    def __init__(self, seed: int, texts: list[str], probes: list[Query]):
        self.rng = np.random.default_rng(seed)
        self.words = vocab()
        self.phrases = phrases_from(texts, self.rng, 512)
        picked = self.rng.choice(len(probes), size=16, replace=False)
        self.probes = [probes[int(j)] for j in picked]
        self.i = 0

    def next(self) -> Query:
        i = self.i
        self.i += 1
        if i % 16 == 15:
            return self.probes[(i // 16) % len(self.probes)]
        return _mix(self.rng, self.words, self.phrases, i)
