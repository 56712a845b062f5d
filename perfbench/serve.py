"""The serving client: a closed loop of one client over a built index.

Each request runs one query of the mix (bag of words through
``LocalSearcher.search``, quoted phrase through
``PhraseSearcher.search_phrase``, phrase + boolean through
``phraseq.search_mixed``) and, for every ``PAGE_EVERY``-th request that
has hits, renders the result page the way ``query.py --urls --snippets``
does: url lookup, ``DocStore.get_texts`` and one ``snippet`` per hit.

Tails are p95 for queries and p90 for pages. Both keep at least ten
samples beyond them in a 10 s run on the slowest workload (300–700 cold
queries, 90–140 cold pages), and they are less at the mercy of a single
host stall than a higher percentile would be.

Every call goes through a module attribute so the traced run's wrappers
(``layers.install_serving``) see it.
"""

from __future__ import annotations

import math
import statistics
import time

from perfbench.inputs import Query

K = 10
PAGE_EVERY = 3
SCORE_TOL = 1e-9  # the repository's own WAND-vs-exhaustive tolerance


class Stack:
    """The serving objects a query server holds open."""

    def __init__(self, index_dir: str):
        from search_engine_spark.plans import docstore, positions, wand

        self.index_dir = index_dir
        self.searcher = wand.LocalSearcher(index_dir)
        self.phraser = positions.PhraseSearcher(index_dir)
        self.store = docstore.DocStore(index_dir)


def execute(stack: Stack, q: Query) -> list[tuple[int, float]]:
    from search_engine_spark.plans import phraseq

    if q.kind == "bow":
        return stack.searcher.search(q.text, k=K, mode=q.mode)
    if q.kind == "phrase":
        return stack.phraser.search_phrase(q.text, k=K)
    return phraseq.search_mixed(stack.searcher, stack.phraser, q.text, k=K)


def render(stack: Stack, q: Query, hits) -> list[tuple]:
    import query
    from search_engine_spark.plans import docstore, scoring

    ids = [int(d) for d, _ in hits]
    if not ids:
        return []
    urls = query._url_lookup(stack.index_dir, ids)
    texts = stack.store.get_texts(ids)
    terms = scoring.analyze_query(q.text.replace('"', " "))
    return [(d, urls.get(d), texts.get(d),
             docstore.snippet(texts.get(d), terms)) for d in ids]


def check_hits(q: Query, hits, dead: set[int], max_id: int) -> str | None:
    """None when the ranking is well formed, else the reason."""
    if len(hits) > K:
        return "more than k hits"
    ids = [int(d) for d, _ in hits]
    if len(set(ids)) != len(ids):
        return "duplicate doc id"
    for d in ids:
        if d < 0 or d > max_id:
            return f"doc id {d} out of range"
        if d in dead:
            return f"tombstoned doc {d} returned"
    for (d1, s1), (d2, s2) in zip(hits, hits[1:]):
        if not (s1 > s2 or (s1 == s2 and d1 < d2)):
            return "not in (score desc, doc_id asc) order"
    return None


def check_oracle(hits, want) -> str | None:
    if [int(d) for d, _ in hits] != [d for d, _ in want]:
        return "ranking differs from bm25_exhaustive"
    for (_, s), (_, w) in zip(hits, want):
        if not math.isclose(s, w, rel_tol=0.0, abs_tol=SCORE_TOL):
            return "score differs from bm25_exhaustive"
    return None


def check_page(rows) -> str | None:
    for d, url, text, _ in rows:
        if url is None or text is None:
            return f"page row for doc {d} lacks url or text"
    return None


class Loop:
    """Timed closed loop. ``next_query()`` yields the stream; ``oracle``
    maps a probe query to its exhaustive ranking (or None)."""

    def __init__(self, stack: Stack, next_query, *, oracle=None,
                 dead: set[int] | None = None, max_id: int):
        self.stack, self.next_query = stack, next_query
        self.oracle, self.dead, self.max_id = oracle, dead or set(), max_id
        self.query_s: list[float] = []
        self.page_s: list[float] = []
        self.queries: list[Query] = []
        self.attempted = 0
        self.errors: list[str] = []
        self._with_hits = 0

    def one(self, i: int, rec=None) -> None:
        q = self.next_query()
        if rec is not None:
            rec.req = f"q{i}"
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if rec is not None:
                with rec.span("bench.query", kind=q.kind):
                    hits = execute(self.stack, q)
            else:
                hits = execute(self.stack, q)
        except Exception as e:  # a failed request counts, the loop goes on
            self.errors.append(f"{q.key()}: {type(e).__name__}: {e}")
            return
        t1 = time.perf_counter()
        self.query_s.append(t1 - t0)
        self.queries.append(q)
        bad = check_hits(q, hits, self.dead, self.max_id)
        if bad is None and q.probe and self.oracle is not None:
            bad = check_oracle(hits, self.oracle(q))
        if bad is not None:
            self.errors.append(f"{q.key()}: {bad}")
        if not hits:
            return
        self._with_hits += 1
        if self._with_hits % PAGE_EVERY:
            return
        self.attempted += 1
        t2 = time.perf_counter()
        try:
            if rec is not None:
                with rec.span("bench.page"):
                    rows = render(self.stack, q, hits)
            else:
                rows = render(self.stack, q, hits)
        except Exception as e:
            self.errors.append(f"page {q.key()}: {type(e).__name__}: {e}")
            return
        self.page_s.append((t1 - t0) + (time.perf_counter() - t2))
        bad = check_page(rows)
        if bad is not None:
            self.errors.append(f"page {q.key()}: {bad}")

    def run(self, seconds: float, rec=None, *, block: int = 32) -> None:
        """Run for ``seconds``. With a recorder, blocks of ``block``
        requests alternate between traced and untraced, so the traced
        run also measures its own overhead; ``traced_q`` and ``traced_p``
        mark which query and page samples were traced."""
        from perfbench import layers

        self.traced_q: list[bool] = []
        self.traced_p: list[bool] = []
        deadline = time.perf_counter() + seconds
        i = 0
        on = False
        while time.perf_counter() < deadline:
            if rec is not None and i % block == 0:
                on = (i // block) % 2 == 1
                rec.uninstall()
                if on:
                    layers.install_serving(rec)
            nq, npg = len(self.query_s), len(self.page_s)
            self.one(i, rec if on else None)
            self.traced_q += [on] * (len(self.query_s) - nq)
            self.traced_p += [on] * (len(self.page_s) - npg)
            i += 1
        if rec is not None:
            rec.uninstall()
            rec.req = None


def pct(xs: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def summary(loop: Loop, traced: bool = False) -> dict:
    """Latency figures over the untraced (or the traced) samples."""
    q = [x for x, t in zip(loop.query_s, loop.traced_q) if t == traced]
    p = [x for x, t in zip(loop.page_s, loop.traced_p) if t == traced]
    return {
        "query_p50_ms": statistics.median(q) * 1e3,
        "query_p95_ms": pct(q, 95) * 1e3,
        "page_p50_ms": statistics.median(p) * 1e3,
        "page_p90_ms": pct(p, 90) * 1e3,
        "n_queries": len(q),
        "n_pages": len(p),
    }
