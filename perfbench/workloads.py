"""The workloads and the metrics each one reports.

``serve_cold`` queries the cached production index with terms spread
over the whole vocabulary. ``refresh`` first writes a copy of that index
through the CLIs (merge-into, extend --update, delete, compact), checking
it after every commit, and then serves it a hot query pool. Both end in
the same timed serving loop, so every end-to-end metric is measured on
both.
"""

from __future__ import annotations

import itertools
import os
import resource
import shutil
import statistics
import time

import numpy as np

from perfbench import fixture as fixture_mod
from perfbench import inputs, layers, metrics, serve, sparkrt
from perfbench.spans import Recorder

SETUP_REPEATS = 15
DELTA_PAGES = 500
DELETE_FRAC = 0.01
CHECK_DOCS = 5
FSCK_TERMS = 16
WARM_PAGES = 20


class Run:
    """What a workload hands back to ``run.py``."""

    def __init__(self):
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.extra: dict = {}
        self.attempted = 0
        self.errors: list[str] = []

    def check(self, what: str, bad: str | None) -> None:
        self.attempted += 1
        if bad is not None:
            self.errors.append(f"{what}: {bad}")


# ---- helpers ---------------------------------------------------------

def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        pages = int(f.read().split()[1])
    return pages * resource.getpagesize() / 2**20


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, fs in os.walk(os.path.realpath(path)):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
    return total


def live_docs(index_dir: str) -> tuple[np.ndarray, dict[int, str]]:
    """(live doc ids, id -> url) from the urlmap minus tombstones."""
    import pyarrow.parquet as pq

    from search_engine_spark.plans.deletes import load_tombstones
    from search_engine_spark.plans.publish import resolve_root

    root = resolve_root(index_dir)
    um = pq.read_table(os.path.join(root, "urlmap"),
                       columns=["doc_id", "url"]).to_pydict()
    dead = set(load_tombstones(root).tolist())
    urls = {int(d): u for d, u in zip(um["doc_id"], um["url"])
            if int(d) not in dead}
    return np.array(sorted(urls), dtype=np.int64), urls


def index_bytes_per_doc(index_dir: str) -> float:
    from search_engine_spark.plans.deletes import load_tombstones
    from search_engine_spark.plans.wand import LocalSearcher

    s = LocalSearcher(index_dir)
    live = s.n_docs - load_tombstones(index_dir).size
    return dir_bytes(index_dir) / live


def timed_opens(index_dir: str, rec: Recorder | None):
    """Open the serving stack SETUP_REPEATS times; returns the median
    untraced open seconds and the last stack. With a recorder, traced
    opens alternate with untraced ones."""
    plain, traced, stack = [], [], None
    n = SETUP_REPEATS * (2 if rec is not None else 1)
    for i in range(n):
        on = rec is not None and i % 2 == 1
        if on:
            layers.install_serving(rec)
        t0 = time.perf_counter()
        stack = serve.Stack(index_dir)
        (traced if on else plain).append(time.perf_counter() - t0)
        if on:
            rec.uninstall()
    return statistics.median(plain), (statistics.median(traced)
                                      if traced else None), stack


def rare_words(text: str, rank: dict[str, int], n: int = 3) -> str:
    words = {w for w in text.split() if w in rank}
    return " ".join(sorted(words, key=lambda w: -rank[w])[:n])


def retrievable(stack: serve.Stack, doc: int, text: str,
                rank: dict[str, int]) -> str | None:
    """The doc must be among the AND hits of its own rarest words (an
    empty page has no words and no postings: nothing to find)."""
    q = rare_words(text, rank)
    if not q:
        return None
    hits = stack.searcher.search(q, k=50)
    if doc not in {d for d, _ in hits}:
        return f"doc {doc} not returned for its own words {q!r}"
    return None


def never_returned(stack: serve.Stack, doc: int, text: str,
                   rank: dict[str, int]) -> str | None:
    q = rare_words(text, rank)
    if not q:
        return None
    for mode in ("and", "or"):
        if doc in {d for d, _ in stack.searcher.search(q, k=50, mode=mode)}:
            return f"tombstoned doc {doc} returned for {q!r} ({mode})"
    return None


def fsck_clean(index_dir: str) -> str | None:
    from search_engine_spark.plans.fsck import fsck

    out = fsck(index_dir, sample_terms=FSCK_TERMS)
    return None if out["ok"] else "fsck: " + "; ".join(out["errors"][:3])


# ---- the shared serving phase ----------------------------------------

def serve_phase(run: Run, index_dir: str, next_query, seconds: float,
                rec: Recorder | None, top100: list[str], *, oracle=None,
                dead=None, warmup=()) -> float:
    """Open, warm up and run the timed loop; fills ``run`` and returns
    the median untraced open time of the serving stack."""
    setup_plain, setup_traced, stack = timed_opens(index_dir, rec)
    max_id = int(live_docs(index_dir)[0].max())
    for i, q in enumerate(warmup):  # fills caches, finishes lazy opens
        hits = serve.execute(stack, q)
        if i < WARM_PAGES:
            serve.render(stack, q, hits)
    loop = serve.Loop(stack, next_query, oracle=oracle, dead=dead,
                      max_id=max_id)
    loop.run(seconds, rec)
    run.attempted += loop.attempted
    run.errors += loop.errors
    untraced = serve.summary(loop)
    run.e2e.update({k: untraced[k] for k in (
        "query_p50_ms", "query_p95_ms", "page_p50_ms", "page_p90_ms")})
    run.extra["samples"] = {"queries": untraced["n_queries"],
                            "pages": untraced["n_pages"]}
    run.e2e["rss_mb"] = rss_mb()
    run.e2e["index_bytes_per_doc"] = index_bytes_per_doc(index_dir)
    run.layers.update(metrics.workload_properties(loop, top100))
    if rec is not None:
        traced = serve.summary(loop, traced=True)
        for k in ("query_p50_ms", "page_p50_ms"):
            run.layers[f"trace.overhead_{k[:-3]}"] = (
                traced[k] - untraced[k]) / untraced[k]
        run.layers["trace.overhead_open"] = (
            setup_traced - setup_plain) / setup_plain
        run.layers.update(metrics.serving_layers(rec))
    return setup_plain


# ---- workloads -------------------------------------------------------

def serve_cold(fx: fixture_mod.Fixture, seed: int, seconds: float,
               rec: Recorder | None) -> Run:
    """The cold mix on the cached production index; ``setup_s`` is the
    median open of the serving stack."""
    run = Run()
    texts = fx.texts()
    probes = fx.probes("cold")
    stream = inputs.ColdStream(seed, texts, probes)
    other = inputs.ColdStream(seed + 1_000_003, texts, probes)
    run.e2e["setup_s"] = serve_phase(
        run, fx.index, stream.next, seconds, rec, fx.meta["top100_terms"],
        oracle=fx.oracle, warmup=[other.next() for _ in range(20)])
    return run


def refresh_workload(root: str, work: str, fx: fixture_mod.Fixture,
                     seed: int, seconds: float, rec: Recorder | None,
                     event_dir: str | None) -> Run:
    """Index maintenance beside reads, then serving the result.

    The live index starts as a copy of the cached production build and
    is made generation-managed; then merge-into (a shard), extend
    --update (new urls and re-crawls), delete (1% of the live docs) and
    compact run as CLIs, and every commit is checked: fsck clean, new
    docs retrievable, tombstoned docs never returned. ``setup_s`` is the
    program's time on that write path, session start included. The
    result then serves the hot pool: scoring, top-k and rendering on a
    merged, extended and compacted generation."""
    import pyarrow.parquet as pq

    run = Run()
    t0 = time.perf_counter()
    phases = run.extra["phases_s"] = {}
    rank = {w: i for i, w in enumerate(inputs.vocab())}
    rng = np.random.default_rng(seed)
    live = os.path.join(work, "index")
    base = pq.read_table(fx.corpus,
                         columns=["url", "warc_ts", "text"]).to_pydict()
    delta = inputs.refresh_delta(seed, base["url"], DELTA_PAGES)
    delta_dir = os.path.join(work, "delta")
    inputs.write_pages(delta, delta_dir)
    shard = os.path.join(work, "shard")
    shutil.copytree(fx.shard, shard)
    shutil.copytree(fx.index, live)
    writer = _Writer(root, live, rec)
    phases["inputs"] = time.perf_counter() - t0
    try:
        # one warm Spark application for every write
        with sparkrt.one_application():
            if rec is not None:
                layers.install_writes(rec)
            dead = _write_path(run, writer, fx, rng, rank, base, delta,
                               delta_dir, shard)
            if rec is not None:
                rec.uninstall()
        phases["write_path"] = time.perf_counter() - t0 - phases["inputs"]
    finally:
        sparkrt.shutdown()
    phases["shutdown"] = (time.perf_counter() - t0 - phases["inputs"]
                          - phases["write_path"])

    run.extra["ops_s"] = writer.ops
    written = sum(writer.written.values())
    new_bytes = sum(len(r[2]) for r in delta) + _html_bytes(
        os.path.join(fx.path, "shard_corpus"))
    run.extra["refresh.bytes_written_mb"] = written / 2**20
    run.extra["refresh.write_amp"] = written / new_bytes
    run.extra["refresh.bytes_written_mb_by_op"] = {
        k: v / 2**20 for k, v in writer.written.items()}
    run.extra["index_mb"] = table_mb(live)
    if rec is not None:
        run.extra["write_layers"] = metrics.write_layers(rec, event_dir)
    texts = list(base["text"])
    # the hot pool; its probes are plain queries here (the oracle was
    # computed on the production index, not on the refreshed one)
    pool = [inputs.Query(q.kind, q.text, q.mode)
            for q in inputs.hot_pool(seed, texts, fx.probes("hot"))]
    run.extra["open_s"] = serve_phase(
        run, live, itertools.cycle(pool).__next__, seconds, rec,
        fx.meta["top100_terms"], dead=set(dead), warmup=pool * 2)
    phases["total"] = time.perf_counter() - t0
    run.e2e["setup_s"] = sum(writer.ops.values())
    return run


class _Writer:
    """Runs the write-path CLIs against the live index, recording each
    one's wall time and the bytes it wrote (files of the new generation
    that are not hardlinks of the previous one)."""

    def __init__(self, root: str, live: str, rec: Recorder | None):
        self.root, self.live, self.rec = root, live, rec
        self.ops: dict[str, float] = {}
        self.written: dict[str, int] = {}

    def cli(self, name: str, script: str, argv: list[str]) -> None:
        before = _inodes(self.live)
        self.ops[name + "_s"] = sparkrt.run_cli(
            self.root, script, argv, self.rec, "cli." + name)[0]
        self.written[name] = _new_bytes(self.live, before)


def _write_path(run: Run, w: _Writer, fx, rng, rank, base, delta,
                delta_dir: str, shard: str) -> dict[int, str]:
    """Returns the tombstoned doc ids with their last indexed text."""
    import pyarrow.parquet as pq

    from search_engine_spark import session
    from search_engine_spark.plans import publish

    live = w.live
    t0 = time.perf_counter()
    session.get_spark("perfbench-refresh")
    w.ops["session_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    publish.begin_generation(live).commit()  # generation-managed from here
    w.ops["generations_s"] = time.perf_counter() - t0

    # merge-into a shard built in the fixture
    w.cli("merge_into", "index_admin.py",
          ["merge-into", "--index-dir", live, "--incoming", shard])
    run.check("merge-into fsck", fsck_clean(live))
    _, urls = live_docs(live)
    by_url = {u: d for d, u in urls.items()}
    stack = serve.Stack(live)
    sh = pq.read_table(os.path.join(shard, "docstore")).to_pydict()
    sh_um = pq.read_table(os.path.join(shard, "urlmap"),
                          columns=["doc_id", "url"]).to_pydict()
    sh_text = dict(zip(sh["doc_id"], sh["text"]))
    for j in rng.choice(len(sh_um["url"]), size=CHECK_DOCS, replace=False):
        u = sh_um["url"][int(j)]
        d = by_url.get(u)
        run.check(f"merged {u}", f"url {u} missing" if d is None else
                  retrievable(stack, d, sh_text[sh_um["doc_id"][int(j)]],
                              rank))

    # extend --update: half new urls, half re-crawls
    w.cli("extend", "build_index.py",
          ["--input", delta_dir, "--index-dir", live, "--extend", "--update"])
    run.check("extend fsck", fsck_clean(live))
    new_ids, new_urls = live_docs(live)
    by_url_new = {u: d for d, u in new_urls.items()}
    stack = serve.Stack(live)
    delta_text = inputs.newest_text(*zip(*((r[0], r[1], r[3])
                                           for r in delta)))
    for u in rng.choice(sorted(delta_text), size=2 * CHECK_DOCS,
                        replace=False):
        d = by_url_new.get(u)
        run.check(f"extended {u}", f"url {u} missing" if d is None else
                  retrievable(stack, d, delta_text[u], rank))
    base_text = inputs.newest_text(base["url"], base["warc_ts"],
                                   base["text"])
    dead = {d: base_text.get(u, "") for u, d in by_url.items()
            if u in by_url_new and by_url_new[u] != d}
    n_recrawl = len(delta) - len(delta) // 2
    run.check("re-crawls tombstoned", None if len(dead) == n_recrawl else
              f"{len(dead)} superseded ids for {n_recrawl} re-crawls")

    # delete 1% of the live docs, then compact
    n_del = max(1, int(DELETE_FRAC * new_ids.size))
    gone = sorted(int(d) for d in rng.choice(new_ids, n_del, replace=False))
    texts = stack.store.get_texts(gone)
    w.cli("delete", "index_admin.py", ["delete", "--index-dir", live,
                                       "--doc-ids", ",".join(map(str, gone))])
    dead.update((d, texts.get(d, "")) for d in gone)
    stack = serve.Stack(live)
    for d in gone[:CHECK_DOCS]:
        run.check(f"deleted {d}", never_returned(stack, d, dead[d], rank))
    w.cli("compact", "index_admin.py", ["compact", "--index-dir", live])
    run.check("compact fsck", fsck_clean(live))
    stack = serve.Stack(live)
    for d in list(dead)[:4 * CHECK_DOCS]:
        run.check(f"dead {d}", never_returned(stack, d, dead[d], rank))
    return dead


def _inodes(path: str) -> set[int]:
    if not os.path.exists(path):
        return set()
    return {os.stat(os.path.join(d, f)).st_ino
            for d, _, fs in os.walk(os.path.realpath(path)) for f in fs}


def _new_bytes(path: str, before: set[int]) -> int:
    """Bytes of files under the live generation that are not hardlinks
    of files that existed before the operation."""
    total = 0
    for d, _, fs in os.walk(os.path.realpath(path)):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            if st.st_ino not in before:
                total += st.st_size
    return total


def _html_bytes(corpus: str) -> int:
    import pyarrow.parquet as pq

    return sum(len(h) for h in
               pq.read_table(corpus, columns=["html"])["html"].to_pylist())


def table_mb(index_dir: str) -> dict[str, float]:
    """On-disk size per table of the live generation, plus
    ``index_admin.index_stats``' bytes per posting."""
    import index_admin

    root = os.path.realpath(index_dir)
    out = {f"index.{t}_mb": dir_bytes(os.path.join(root, d)) / 2**20
           for t, d in (("postings", "postings"), ("flat", "postings_flat"),
                        ("positions", "positions"), ("bigrams", "bigrams"),
                        ("docstore", "docstore"))}
    out["index.bytes_per_posting"] = index_admin.index_stats(root).get(
        "bytes_per_posting", 0.0)
    return out
