"""Local low-latency query path: block-max pruned top-k over the
compressed index (SURVEY.md section 3.2, M4).

This path crosses NO process boundary — a thin pyarrow reader opens
only the parquet row groups of the query's (bucket, term) keys and
evaluates entirely in numpy. That is what makes millisecond p50
feasible; a Spark job pays a ~100ms+ scheduling floor (the distributed
IndexReader path remains the correctness/batch path and must return
identical results — property-tested).

Algorithm (block-max WAND adapted to conjunctive evaluation — the
reference intersects posting lists, so candidates must contain ALL
terms):

1. dictionary lookup -> df, bucket per term; any missing term -> [].
2. pick the rarest term r (shortest list — classic intersect order).
3. process r's segments in DESCENDING score-bound order; maintain a
   top-k heap with threshold theta. For each segment s:
       UB(s) = idf_r * max_tfnorm(s) + sum_{t != r} idf_t * maxbound_t
   if the heap is full and UB(s) <= theta, the segment cannot contribute
   — skipped without decoding (block-max prune).
4. surviving segments are decoded; candidates intersected against the
   other terms' lists (decoded lazily, once, with per-term doc-range
   segment skipping vs the rarest list's span); exact BM25 on the
   intersection; heap updated.

Exactness: the prune only discards segments whose best possible score
cannot beat the current k-th score; tie-safety uses strict '<' so
equal-score docs are never lost. pruned == unpruned is property-tested
on randomized corpora/queries (tests/test_wand.py).
"""

from __future__ import annotations

import heapq
import math
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from search_engine_spark import B, K1
from search_engine_spark.functions.codec import decode_postings, decode_varints
from search_engine_spark.plans.deletes import load_tombstones, mask_deleted
from search_engine_spark.plans.scoring import analyze_query


class _LmdNoBounds(Exception):
    """Pruned LMD preconditions unmet (missing docs footer stats or a
    pre-cf dictionary) — route the exhaustive fallback."""


def _overlap_bound(of: np.ndarray, ol: np.ndarray, ob: np.ndarray,
                   s_first: np.ndarray, s_last: np.ndarray) -> np.ndarray:
    """Per driving segment [s_first, s_last]: an upper bound on the best
    max_tfnorm among the OTHER term's overlapping segments (ranges
    [of, ol], bounds ob).

    Overlapping t satisfies of_t <= s_last AND ol_t >= s_first; every
    such t is inside BOTH the prefix {of <= s_last} (by first_doc
    order) and the suffix {ol >= s_first} (by last_doc order), so
    min(prefix-max, suffix-max) >= true overlap max — a valid WAND
    bound, computed with two searchsorteds per driving segment
    (O((S_i + S_j) log) total) instead of the dense S_i x S_j overlap
    matrix, which is quadratic in segments-per-term (df/segment_size —
    thousands for a high-df web term)."""
    if of.size == 0:
        return np.zeros(s_first.size, dtype=np.float64)
    o_f = np.argsort(of, kind="stable")
    f_sorted = of[o_f]
    pmax = np.maximum.accumulate(ob[o_f])
    o_l = np.argsort(ol, kind="stable")
    l_sorted = ol[o_l]
    smax = np.maximum.accumulate(ob[o_l][::-1])[::-1]
    hi = np.searchsorted(f_sorted, s_last, side="right")
    lo = np.searchsorted(l_sorted, s_first, side="left")
    a = np.where(hi > 0, pmax[np.maximum(hi - 1, 0)], 0.0)
    b = np.where(lo < l_sorted.size, smax[np.minimum(lo, l_sorted.size - 1)], 0.0)
    return np.minimum(a, b)


def _lmd_contrib(tfs: np.ndarray, dls: np.ndarray, mu: float,
                 p_t: float) -> np.ndarray:
    """Per-posting LM-Dirichlet contributions (see search_lmd)."""
    return (np.log1p(tfs.astype(np.float64) / (mu * p_t))
            + np.log(mu / (mu + dls.astype(np.float64))))


_SEG_META = ("seg", "salt", "n", "max_tfnorm", "first_doc", "last_doc")
_SEG_BLOBS = ("doc_ids", "tfs", "doclens")


@dataclass(frozen=True)
class SegmentTable:
    """One term's posting segments as parallel columns, one entry per
    stored segment in row-group order: read-only numpy metadata
    (seg, salt, n, max_tfnorm, first_doc, last_doc) plus the three
    compressed blob columns (lists of bytes). max_tfnorm already
    carries the index's tfnorm_scale. LocalSearcher._segments is the
    only producer; LocalSearcher._postings the one masked decoder."""

    seg: np.ndarray
    salt: np.ndarray
    n: np.ndarray
    max_tfnorm: np.ndarray
    first_doc: np.ndarray
    last_doc: np.ndarray
    doc_ids: list
    tfs: list
    doclens: list

    def __len__(self) -> int:
        return len(self.doc_ids)

    @classmethod
    def from_arrow(cls, tables: list, tfnorm_scale: float) -> "SegmentTable":
        cols = {}
        for name in _SEG_META:
            arrs = [t.column(name).to_numpy() for t in tables]
            a = (np.concatenate(arrs) if arrs else
                 np.empty(0, np.float64 if name == "max_tfnorm" else np.int64))
            if name == "max_tfnorm" and tfnorm_scale != 1.0:
                a = a * tfnorm_scale
            a.flags.writeable = False
            cols[name] = a
        for name in _SEG_BLOBS:
            cols[name] = [b for t in tables for b in t.column(name).to_pylist()]
        return cls(**cols)


_NO_SEGMENTS = SegmentTable.from_arrow([], 1.0)


def _term_row_groups(table_dir: str) -> tuple[dict, dict]:
    """Footer-only index of a bucketed, term-sorted table: bucket ->
    [(path, row group, min term, max term)], and path -> ParquetFile."""
    rgs: dict[int, list[tuple[str, int, str, str]]] = {}
    files: dict[str, pq.ParquetFile] = {}
    for frag in ds.dataset(table_dir, format="parquet",
                           partitioning="hive").get_fragments():
        path = frag.path
        bucket = int(path.split("bucket=")[1].split("/")[0])
        pf = files[path] = pq.ParquetFile(path)
        term_idx = pf.schema_arrow.get_field_index("term")
        md = pf.metadata
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(term_idx).statistics
            rgs.setdefault(bucket, []).append(
                (path, rg, st.min if st is not None else None,
                 st.max if st is not None else None)
            )
    return rgs, files


class _LazyTermMap:
    """Mapping view over the lazy dictionary: `term in m` / `m[term]`
    (the term's df) without materializing the vocabulary."""

    def __init__(self, searcher: "LocalSearcher"):
        self._s = searcher

    def __contains__(self, term: str) -> bool:
        return self._s._dict_lookup(term) is not None

    def __getitem__(self, term: str) -> int:
        row = self._s._dict_lookup(term)
        if row is None:
            raise KeyError(term)
        return row[0]


class LocalSearcher:
    """In-process searcher over a built index directory.

    Open cost is O(parquet footers): stats + collection constants plus
    a per-row-group (min, max) index over dictionary AND postings
    files. The vocabulary itself is NEVER materialized — a term's
    dictionary row is found by hashing to its bucket locally
    (functions.hashing, JVM-bit-equal) and reading only the row groups
    whose term range admits it, LRU-cached. Memory is therefore
    bounded by the caches, not the vocabulary size (a 10^8-term
    dictionary would otherwise be tens of GB of Python dicts on a
    serving node).

    Postings are read the same way: a term's segment rows come from
    the admitting row groups, are filtered to the term in Arrow and
    kept as one immutable SegmentTable (_segments, LRU-cached). Every
    scorer then decodes through one tombstone-masking, doc-sorted
    decoder (_postings); _seg_decode caches per-segment decodes for
    the block-max scorers on top of it.
    """

    _COLUMNS = ["term", *_SEG_META, *_SEG_BLOBS]
    _DICT_CACHE = 65536

    def __init__(self, index_dir: str, *, cache_terms: int = 256,
                 load_boosts: bool = True):
        # Retry-once open: lifecycle mutations (compact / merge-into /
        # boost installs) publish each table ATOMICALLY via dir
        # exchange (plans/publish.py), but a reader that LISTED the old
        # directory and then opens a listed file after the swap still
        # 404s (list-then-open race). One re-open sees a consistent
        # post-swap state; a second failure is real corruption and
        # propagates. Exercised by
        # tests/test_deletes.py::test_concurrent_reader_survives_compaction.
        import pyarrow.lib as _palib

        for _attempt in (0, 1):
            try:
                self._open(index_dir, cache_terms=cache_terms,
                           load_boosts=load_boosts)
                return
            except (FileNotFoundError, OSError, _palib.ArrowInvalid):
                if _attempt:
                    raise
                time.sleep(0.05)

    def _open(self, index_dir: str, *, cache_terms: int,
              load_boosts: bool) -> None:
        # pin a generation (plans/publish): on a generation-managed
        # index every table open below — and every LAZY one later
        # (docstore, bigrams, suggest) — must land inside ONE
        # immutable snapshot, so resolve the symlink exactly once
        from search_engine_spark.plans.publish import resolve_root

        requested = index_dir
        index_dir = resolve_root(index_dir)
        self.root = index_dir
        st = pq.read_table(os.path.join(index_dir, "stats"))
        self.n_docs = int(st["n_docs"][0].as_py())
        self.avgdl = float(st["avgdl"][0].as_py())
        # exact total token count (collection LM denominator for the
        # Dirichlet similarity); pre-sum_doclen indexes reconstruct it
        # from the floating avgdl — identical up to rounding
        self.sum_doclen = (
            int(st["sum_doclen"][0].as_py()) if "sum_doclen" in st.column_names
            else int(round(self.n_docs * self.avgdl))
        )
        self._docstore = None  # lazy; only more_like_this needs it
        # collection constants from the meta JSON (written by stage A).
        # The lazy dictionary NEEDS the exact build-time n_buckets —
        # inferring it from the populated bucket dirs undercounts when
        # the highest buckets happen to hold no terms, which would
        # silently mis-route every lookup. A pre-meta index therefore
        # falls back to the round-1 EAGER dictionary (full in-memory
        # maps: correct, just vocabulary-sized).
        meta_path = os.path.join(index_dir, "index_meta.json")
        self._eager = not os.path.exists(meta_path)
        # tfnorm bound scale: 1.0 for a fresh build. A segment-append
        # merge (plans/merge.py merge_into) moves avgdl without
        # re-baking per-segment max_tfnorm, so it records the factor
        # that keeps every stored bound a VALID upper bound under the
        # merged avgdl (tfnorm is monotone in avgdl with ratio
        # < avgdl_new/avgdl_built). Applied once at segment load —
        # pruning stays exact, just marginally looser until the next
        # compaction/rebuild resets it.
        self._tfnorm_scale = 1.0
        if not self._eager:
            import json

            with open(meta_path) as f:
                _meta = json.load(f)
            self.n_buckets = int(_meta["n_buckets"])
            self._tfnorm_scale = float(_meta.get("tfnorm_scale", 1.0))
        # dictionary row-group index (mirrors the postings one below)
        self._dict_rg: dict[int, list[tuple[str, int, str, str]]] = {}
        self._dict_files: dict[str, pq.ParquetFile] = {}
        self._eager_df: dict[str, int] = {}
        self._eager_bucket: dict[str, int] = {}
        if self._eager:  # pre-meta index: round-1 eager dictionary
            d = pq.read_table(
                os.path.join(index_dir, "dictionary"),
                columns=["term", "df", "bucket"],
            )
            terms = d["term"].to_pylist()
            self._eager_df = dict(zip(terms, d["df"].to_pylist()))
            self._eager_bucket = dict(zip(terms, d["bucket"].to_pylist()))
            self.n_buckets = 1 + max(self._eager_bucket.values(), default=0)
        else:
            self._dict_rg, self._dict_files = _term_row_groups(
                os.path.join(index_dir, "dictionary")
            )
        # one pruned dictionary read serves df AND cf (pre-cf
        # dictionaries: cf=None)
        self._dict_cols = ["term", "df"] + (
            ["cf"] if self._dict_files and all(
                "cf" in pf.schema_arrow.names
                for pf in self._dict_files.values()
            ) else []
        )
        self._dict_cache: dict[str, tuple[int, int, int | None] | None] = {}
        self._df = _LazyTermMap(self)
        # Footer-built row-group index: one pass over parquet metadata
        # at open time -> per-query reads touch ONLY the row groups
        # whose term range covers the query term (the on-disk seek
        # structure; the reference's analogue is its term->offset
        # dictionary [PK, SURVEY.md 1.2]). Files are written sorted by
        # (term, doc_id), so ranges are tight.
        self._rg, self._files = _term_row_groups(
            os.path.join(index_dir, "postings")
        )
        self._term_cache: dict[str, SegmentTable] = {}
        self._fast = True
        # per-term query counts: a term is promoted to the full-list
        # cache (enabling the vectorized warm path) on its SECOND
        # encounter — first-contact queries keep block-max pruning's
        # decode avoidance, repeated ones amortize one full decode
        self._term_hits: dict[str, int] = {}
        # full-list (docs, idf*tfnorm) per term, filled by _load_full —
        # serving-path hot-set cache so repeated queries skip varint
        # decode entirely
        self._decoded_cache: dict[str, tuple] = {}
        # per-segment decodes of driving-term segments, keyed by
        # SegmentTable row (kept segment-granular so block-max pruning
        # still avoids decoding cold segments on first contact)
        self._seg_decoded: dict[str, dict] = {}
        # term -> doc-sorted (doc_ids, doclens) for plans/phraseq's
        # phrase tfnorm (bounded there, 64 terms)
        self._doclen_cache: dict[str, tuple] = {}
        self._cache_terms = cache_terms
        # tombstoned doc_ids (plans/deletes): masked out of every
        # decode, so all downstream paths — block-max, warm vectorized,
        # OR — see only live docs. Segment max_tfnorm bounds stay valid
        # upper bounds (a max over a superset). df/n_docs/avgdl keep
        # build-time values until compaction (Lucene-style contract).
        self._deleted = load_tombstones(index_dir)
        # static per-doc additive boost (PageRank / quality prior):
        # (sorted doc_ids, values, max) or None. Applied AFTER all term
        # contributions on every path; block-max bounds gain +max so
        # pruning stays exact (see load_static_boosts).
        self._boost: tuple[np.ndarray, np.ndarray, float] | None = None
        # collection-wide df override for federated serving (see _idf);
        # must be installed BEFORE the first search — decoded-
        # contribution caches bake idf in at decode time
        self._idf_df = None
        # collection-wide cf override for federated LM-Dirichlet
        # (plans/federate): dict-like term -> global masked cf; None
        # means search_lmd sums this index's own decoded postings
        self._lmd_cf = None
        # LM-Dirichlet serving caches (pruned path): per-(term, mu)
        # decoded contribution lists + the docs-table doclen range
        # (parquet footer stats, computed lazily) that the derived
        # per-segment LMD bounds need
        self._lmd_cache: dict[tuple, tuple] = {}
        self._lmd_dl_range: tuple[int, int] | None = None
        boosts_dir = os.path.join(index_dir, "boosts")
        # fail LOUDLY on a corrupt boosts table — serving with a bad
        # prior mis-ranks every query. fsck passes load_boosts=False
        # (it audits the table itself and must not crash on corruption)
        if load_boosts and os.path.isdir(boosts_dir):
            self.load_static_boosts(boosts_dir)
        # generation-pin validation for PLAIN-dir opens: the one-time
        # legacy->generation conversion turns the live dir into a
        # symlink mid-open, so a reader that resolved a plain path and
        # then raced the commit has silently mixed tables (e.g. old
        # postings with the new generation's dropped tombstone table —
        # caught by the concurrent-reader generation test). Detect and
        # retry (the __init__ retry loop re-opens post-commit). An
        # open that pinned a .gN directory needs no recheck: that
        # directory is immutable and retained through the next commit.
        if self.root == os.path.abspath(requested) and \
                resolve_root(requested) != self.root:
            raise FileNotFoundError(
                f"{requested}: generation committed during open"
            )

    def load_static_boosts(self, source) -> None:
        """Attach a static document prior: (doc_id, boost) rows from a
        parquet path or pandas DataFrame. Serving adds boost(d) to the
        BM25 score of every RESULT doc (an absent doc_id boosts 0.0);
        candidate generation is unchanged — a boost alone never makes
        a non-matching doc match. Block-max pruning stays exact
        because every segment upper bound is raised by max(boost):
        ub + bmax >= score(d) + boost(d) for any doc in the segment.
        Boosts must be >= 0 — a negative boost would silently break
        that bound (we fail loudly instead). An index dir with a
        ``boosts`` table (index_admin.py pagerank writes one) loads it
        automatically at open."""
        if isinstance(source, str):
            b = pq.read_table(source, columns=["doc_id", "boost"]).to_pandas()
        else:
            b = source[["doc_id", "boost"]]
        docs = b["doc_id"].to_numpy(dtype=np.int64)
        vals = b["boost"].to_numpy(dtype=np.float64)
        order = np.argsort(docs, kind="stable")
        docs, vals = docs[order], vals[order]
        if docs.size and docs[:-1].size and (docs[1:] == docs[:-1]).any():
            raise ValueError("duplicate doc_id in static boosts")
        if (vals < 0).any():
            raise ValueError(
                "negative static boost — additive boosts must be >= 0 "
                "(block-max upper bounds assume it)"
            )
        bmax = float(vals.max()) if vals.size else 0.0
        self._boost = (docs, vals, bmax)

    def clear_static_boosts(self) -> None:
        self._boost = None

    @property
    def _bmax(self) -> float:
        return self._boost[2] if self._boost is not None else 0.0

    def _boosted(self, docs: np.ndarray, scores: np.ndarray) -> np.ndarray:
        """scores + static boost per doc (vectorized sorted lookup).
        No-op (bit-identical input array) when no boosts are loaded —
        the unboosted paths keep their warm==cold bit-equality."""
        if self._boost is None or docs.size == 0:
            return scores
        bd, bv, _ = self._boost
        pos = np.searchsorted(bd, docs)
        pos_c = np.clip(pos, 0, max(bd.size - 1, 0))
        hit = bd.size > 0
        if hit:
            m = bd[pos_c] == docs
            return scores + np.where(m, bv[pos_c], 0.0)
        return scores

    def refresh_deletes(self) -> None:
        """Re-read the tombstone table (after delete_docs /
        compact_index on a live server) and drop the decoded caches
        that baked the old mask in. Dictionary/segment-metadata caches
        stay — deletes don't move them."""
        self._deleted = load_tombstones(self.root)
        self._decoded_cache.clear()
        self._seg_decoded.clear()
        self._lmd_cache.clear()
        self._doclen_cache.clear()

    def prefix_terms(
        self, prefix: str, limit: int = 1000
    ) -> list[tuple[str, int]]:
        """Wildcard/prefix query against the dictionary: all terms
        starting with `prefix`, as (term, df), term-ascending, capped
        at `limit`. Hash partitioning spreads a prefix range over
        every BUCKET, but within each bucket file the dictionary is
        term-sorted, so only the row groups whose [min, max] term
        range intersects the prefix interval are read — cost is
        O(matching row groups), not O(vocabulary)."""
        if not prefix:
            raise ValueError("empty prefix")
        if self._eager:
            out = [
                (t, int(df))
                for t, df in self._eager_df.items()
                if t.startswith(prefix)
            ]
            out.sort()
            return out[:limit]
        import pyarrow.compute as pc

        out = []
        for rgs in self._dict_rg.values():
            for path, rg, lo, hi in rgs:
                # row group can contain prefix matches iff its term
                # range intersects [prefix, prefix + U+10FFFF)
                if (hi is not None and hi < prefix) or (
                    lo is not None and not lo[: len(prefix)] <= prefix
                ):
                    continue
                tbl = self._dict_files[path].read_row_groups(
                    [rg], columns=["term", "df"]
                )
                sel = tbl.filter(pc.starts_with(tbl["term"], prefix))
                out.extend(
                    zip(sel["term"].to_pylist(),
                        (int(v) for v in sel["df"].to_pylist()))
                )
        out.sort()
        return out[:limit]

    def vocab_terms(
        self, *, contains: str | None = None, regex: str | None = None,
        limit: int = 1000, by_df: bool = False,
    ) -> list[tuple[str, int]]:
        """Generalized wildcard dictionary scan: every vocabulary term
        CONTAINING a substring ('*ark*') or matching a regular
        expression — the leading-wildcard shapes prefix_terms' term
        range pruning cannot serve. Returns (term, df) pairs,
        term-ascending (or df-desc, term-asc with by_df=True — the
        rewrite-cap order expand_wildcard wants), capped at `limit`.

        Deliberately O(vocabulary): an infix predicate admits no
        term-range pruning (Lucene's Wildcard/RegexpQuery walks the
        whole term FST the same way), but the walk is a columnar scan
        of the 2-column dictionary via pyarrow match_substring /
        match_substring_regex — vectorized, never touching postings,
        and bounded by the dictionary size (~vocabulary), not the
        corpus. Exactly one of contains/regex must be given."""
        if (contains is None) == (regex is None):
            raise ValueError("pass exactly one of contains= / regex=")
        if self._eager:
            if contains is not None:
                hits = [
                    (t, int(df)) for t, df in self._eager_df.items()
                    if contains in t
                ]
            else:
                import re as _re

                pat = _re.compile(regex)
                hits = [
                    (t, int(df)) for t, df in self._eager_df.items()
                    if pat.search(t)
                ]
        else:
            import pyarrow.compute as pc

            hits = []
            for rgs in self._dict_rg.values():
                for path, rg, _lo, _hi in rgs:
                    tbl = self._dict_files[path].read_row_groups(
                        [rg], columns=["term", "df"]
                    )
                    if contains is not None:
                        mask = pc.match_substring(tbl["term"], contains)
                    else:
                        mask = pc.match_substring_regex(tbl["term"], regex)
                    sel = tbl.filter(mask)
                    hits.extend(
                        zip(sel["term"].to_pylist(),
                            (int(v) for v in sel["df"].to_pylist()))
                    )
        if by_df:
            hits.sort(key=lambda td: (-td[1], td[0]))
        else:
            hits.sort()
        return hits[:limit]

    def search_lmd(
        self, qtext_or_terms, *, k: int = 10, stem: bool = True,
        mode: str = "and", mu: float = 2000.0, exclude=None,
        restrict=None,
    ) -> list[tuple[int, float]]:
        """Query-likelihood ranking with Dirichlet smoothing — the
        second pluggable similarity next to BM25, semantics pinned by
        scoring.lmd_exhaustive (Zhai & Lafferty 2001):

            score = Σ_matched [ln(1 + tf/(μ·p_t)) + ln(μ/(μ+dl))]
            p_t   = cf_t / total_tokens

        Serving routes a BLOCK-MAX PRUNED path (round 5): the stored
        per-segment impact is BM25's max_tfnorm — a different
        similarity — but it is INVERTIBLE into an LMD-valid bound:
        tfnorm = u(k1+1)/(u+k1) is monotone in the length-normalized
        tf u = tf/(1-b+b·dl/avgdl), so max_tfnorm = M gives every doc
        in the segment u <= k1·M/(k1+1-M) and hence
        tf <= min(U·(1-b+b·dl_max/avgdl), dl_max) with dl_max from the
        docs table's parquet footer stats. Segment bound =
        ln(1+tf_ub/(μ·p_t)) + ln(μ/(μ+dl_min)) — one derived impact,
        no rebuild, pruning exact (strict '<', same argument as BM25).
        Scores are accumulated per candidate in ORIGINAL query-term
        order, bit-identical to the exhaustive reduction.

        The exhaustive path remains the fallback wherever the
        dictionary cf may not equal the decoded masked cf (live
        tombstones without a federated cf override, pre-meta eager
        indexes) — there p_t must come from the decoded postings and
        no pre-decode bound exists. cf_t otherwise comes from the
        dictionary (bit-equal to the decoded sum on a tombstone-free
        index; fsck invariant) or the federated _lmd_cf override.

        exclude / restrict carry the standard NOT-term and
        filter-clause semantics (removal-only, applied before
        top-k). mode='and' keeps docs matching every present query
        term; absent terms make AND unsatisfiable (BM25 `search`
        convention), OR drops them. Static boosts (_boost) are never
        applied: the additive prior is BM25-calibrated."""
        if mode not in ("and", "or"):
            raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
        if isinstance(qtext_or_terms, str):
            qterms = analyze_query(qtext_or_terms, stem=stem)
        else:
            qterms = list(dict.fromkeys(qtext_or_terms))
        if isinstance(exclude, str):
            exclude = analyze_query(exclude, stem=stem)
        if mode == "and" and any(t not in self._df for t in qterms):
            return []
        qterms = [t for t in qterms if t in self._df]
        if not qterms:
            return []
        allow = self._norm_restrict(restrict)
        if allow is not None and allow.size == 0:
            return []
        excl = self._excluded_docs(exclude) if exclude else None

        mu = float(mu)
        prunable = (not self._eager) and (
            self._lmd_cf is not None or self._deleted.size == 0
        )
        if prunable:
            try:
                return self._search_lmd_pruned(
                    qterms, k=k, mode=mode, mu=mu, excl=excl, allow=allow
                )
            except _LmdNoBounds:  # docs footer stats missing
                pass
        total = float(self.sum_doclen)
        doc_parts, contrib_parts = [], []
        for t in qterms:
            docs, tfs, dls = self._postings(t)
            if not docs.size:
                if mode == "and":
                    return []
                continue
            # cf is a sum of per-doc tfs — an exact integer < 2^53,
            # so it is order-independent and the federated override
            # (sum of per-sub term_cf) is bit-equal to the merged
            # index's own tfs.sum()
            cf = float(self._lmd_cf[t] if self._lmd_cf is not None
                       else tfs.sum())
            doc_parts.append(docs)
            contrib_parts.append(_lmd_contrib(tfs, dls, mu, cf / total))
        if not doc_parts:
            return []
        n_present = len(doc_parts)
        all_docs = np.concatenate(doc_parts)
        all_contrib = np.concatenate(contrib_parts)
        u_docs, inv = np.unique(all_docs, return_inverse=True)
        scores = np.zeros(u_docs.size, dtype=np.float64)
        np.add.at(scores, inv, all_contrib)
        counts = np.bincount(inv, minlength=u_docs.size)
        m = self._eligible(u_docs, excl, allow)
        if mode == "and":
            m &= counts == n_present
        u_docs, scores = u_docs[m], scores[m]
        if not u_docs.size:
            return []
        order = np.lexsort((u_docs, -scores))[:k]
        return [(int(u_docs[i]), float(scores[i])) for i in order]

    def term_cf(self, term: str) -> int:
        """Tombstone-masked collection frequency of `term` in THIS
        index — the exact integer search_lmd's decoded ``tfs.sum()``
        produces for it (per-doc tfs sum to < 2^53, so float64
        addition is exact in any order). plans/federate sums this
        across sub-indexes to assemble the GLOBAL cf that makes
        federated LM-Dirichlet bit-identical to the merged index."""
        return int(self._postings(term)[1].sum())

    def _dl_range(self) -> tuple[int, int]:
        """(dl_min, dl_max) over the docs table, from parquet footer
        statistics only (no data read). Superset-safe: tombstoned docs
        may hold the extremes — bounds derived from them stay valid
        upper bounds for live docs."""
        if self._lmd_dl_range is not None:
            return self._lmd_dl_range
        docs_dir = os.path.join(self.root, "docs")
        lo, hi = None, None
        for f in sorted(os.listdir(docs_dir)):
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            pf = pq.ParquetFile(os.path.join(docs_dir, f))
            idx = pf.schema_arrow.get_field_index("doclen")
            md = pf.metadata
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or st.min is None or st.max is None:
                    raise _LmdNoBounds()
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            raise _LmdNoBounds()
        self._lmd_dl_range = (int(lo), int(hi))
        return self._lmd_dl_range

    def _lmd_seg_bounds(self, max_tfnorm: np.ndarray, p_t: float,
                        mu: float) -> np.ndarray:
        """Per-segment LMD upper bounds derived from the baked BM25
        max_tfnorm impacts (see search_lmd docstring). Vectorized over
        one term's segment metadata."""
        dl_min, dl_max = self._dl_range()
        m = max_tfnorm.astype(np.float64)
        denom = (K1 + 1.0) - m
        with np.errstate(divide="ignore", invalid="ignore"):
            u = np.where(denom > 1e-12, K1 * m / denom, np.inf)
        tf_ub = np.minimum(
            u * (1.0 - B + B * dl_max / self.avgdl), float(dl_max)
        )
        return (
            np.log1p(tf_ub / (mu * p_t)) + math.log(mu / (mu + dl_min))
        )

    def _lmd_full(self, term: str, mu: float, p_t: float):
        """Merged sorted (doc_ids, LMD contributions) over all of
        `term`'s segments, cached per (term, mu) — the LMD analogue of
        _load_full. Contributions bake p_t in; p_t is a corpus
        constant per term (dictionary cf or federated override), so
        the cache is query-independent."""
        key = (term, mu)
        hit = self._lru_hit(self._lmd_cache, key)
        if hit is not None:
            return hit
        d, tf, dl = self._postings(term)
        out = (d, _lmd_contrib(tf, dl, mu, p_t))
        self._lru_put(self._lmd_cache, key, out, self._cache_terms)
        return out

    def _lmd_scatter(self, qterms, full, k, mode, excl, allow):
        """Vectorized union scatter over cached per-term contribution
        lists — the LMD serving hot path (the exhaustive reduction
        minus the decode). Accumulation runs in ORIGINAL query-term
        order, so scores are bit-identical to the exhaustive path
        (x+0.0 is a no-op for finite x). A query term with no live
        postings here makes AND unsatisfiable, as on the exhaustive
        path."""
        if mode == "and" and any(not full[t][0].size for t in qterms):
            return []
        parts = [full[t] for t in qterms if full[t][0].size]
        if not parts:
            return []
        n_present = len(parts)
        union = np.unique(np.concatenate([p[0] for p in parts]))
        scores = np.zeros(union.size, dtype=np.float64)
        counts = np.zeros(union.size, dtype=np.int32)
        for od, oc in parts:  # qterms order preserved by construction
            pos = np.searchsorted(union, od)
            pos_c = np.minimum(pos, union.size - 1)
            hit = union[pos_c] == od
            # od strictly increasing per term -> unique hit indices
            scores[pos_c[hit]] += oc[hit]
            counts[pos_c[hit]] += 1
        m = self._eligible(union, excl, allow)
        if mode == "and":
            m &= counts == n_present
        union, scores = union[m], scores[m]
        self.last_segments_skipped = 0
        if not union.size:
            return []
        order = np.lexsort((union, -scores))[:k]
        return [(int(union[i]), float(scores[i])) for i in order]

    def _search_lmd_pruned(self, qterms: list[str], *, k: int,
                           mode: str, mu: float, excl, allow):
        """LM-Dirichlet serving with derived impacts (see search_lmd).

        Two regimes, chosen by what decode work is avoidable:

        * multi-term queries (and any warm query): every matched
          term's contribution list is needed in full, so the plan is
          decode-once-into-the-(term,mu)-cache + vectorized scatter —
          the same reduction the exhaustive path runs, minus repeated
          decode. Warm p50 is the scatter cost alone.
        * single-term COLD queries: the classic impact-ordered top-k.
          Segments are visited in descending derived-LMD-bound order
          (BM25 max_tfnorm inverted into a valid LMD bound,
          _lmd_seg_bounds) and a segment whose bound cannot beat the
          k-th heap score is SKIPPED WITHOUT DECODING — the Zipf-head
          term's long tail of low-tf segments never leaves parquet.

        Both regimes return results bit-identical to the exhaustive
        reduction (accumulation order preserved; tie-break strict)."""
        total = float(self.sum_doclen)
        cf = {t: (self._lmd_cf[t] if self._lmd_cf is not None
                  else self._dict_lookup(t)[2]) for t in qterms}
        if any(c is None or c <= 0 for c in cf.values()):
            raise _LmdNoBounds()  # pre-cf dictionary -> exhaustive
        p_t = {t: float(c) / total for t, c in cf.items()}

        single_cold = (
            len(qterms) == 1
            and (qterms[0], mu) not in self._lmd_cache
            and excl is None and allow is None
        )
        if not single_cold:
            full = {t: self._lmd_full(t, mu, p_t[t]) for t in qterms}
            return self._lmd_scatter(qterms, full, k, mode, excl, allow)

        # impact-ordered single-term top-k: bound-sorted segment scan
        t = qterms[0]
        segs = self._segments(t)
        if len(segs) == 0:
            return []
        bounds = self._lmd_seg_bounds(segs.max_tfnorm, p_t[t], mu)
        order = np.argsort(-bounds, kind="stable")
        heap: list[tuple[float, int]] = []
        skipped = 0
        for n_done, r in enumerate(order):
            ub = float(bounds[r])
            if len(heap) == k and ub < heap[0][0]:  # strict: tie-safe
                skipped += order.size - n_done
                break
            cand, ctf, cdl = self._postings(t, (r,))
            if not cand.size:
                continue
            sc = _lmd_contrib(ctf, cdl, mu, p_t[t])
            if cand.size > k:
                order_k = np.lexsort((cand, -sc))[:k]
                cand, sc = cand[order_k], sc[order_k]
            for doc, s in zip(cand, sc):
                item = (float(s), -int(doc))
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
        self.last_segments_skipped = skipped
        out = sorted(heap, key=lambda it: (-it[0], -it[1]))
        return [(-nd, s) for s, nd in out]

    def search_grouped(
        self, qtext_or_groups, *, k: int = 10, stem: bool = True,
        exclude=None, after: tuple[int, float] | None = None,
        boosts: dict[str, float] | None = None, prune: bool = True,
        fast: bool = True, restrict=None, exclude_docs=None,
    ) -> list[tuple[int, float]]:
        """Grouped boolean query (parse_grouped_query semantics):
        conjunction of OR-groups — 'spark|flink^0.5 join^2 -slow' —
        docs containing >= 1 term of every group, scored by the sum
        over ALL distinct matched query terms of
        boost * idf * tfnorm, NOT-terms suppressed.

        Evaluation is GROUP-LEVEL BLOCK-MAX pruning: only the
        lightest group's segments generate candidates (every result
        matches every group, so they are an exact superset), each
        segment bounded by its own boosted max contribution plus every
        other query term's best overlapping-segment bound — a
        stopword-laden OR-group therefore contributes bounds and
        membership masks, never a candidate scatter over its own df,
        and segments whose bound cannot beat the current k-th score
        are skipped exactly (same argument as _search_or: any doc in a
        pruned segment scores <= the bound). Warm repeats promote
        terms into the decoded cache, which makes the per-segment
        contribution lookups allocation-free; prune=False routes the
        exhaustive vectorized scatter-add reference path. The two
        paths are bit-identical because additions happen in the same
        fixed term order (driving group's terms by (df, term), then
        the rest — a doc's first containing driving term always adds
        first, and x + 0.0 == x keeps non-containing terms inert).
        Supports the same `after` pagination cursor as search()."""
        from search_engine_spark.plans.scoring import parse_grouped_query

        if isinstance(qtext_or_groups, str):
            groups, parsed_excl, parsed_boosts = parse_grouped_query(
                qtext_or_groups, stem=stem
            )
            if exclude is None and parsed_excl:
                exclude = parsed_excl
            if boosts is None:
                boosts = parsed_boosts
        else:
            groups = [list(dict.fromkeys(g)) for g in qtext_or_groups]
        boosts = boosts or {}
        if isinstance(exclude, str):
            exclude = analyze_query(exclude, stem=stem)
        if after is not None:
            after = (int(after[0]), float(after[1]))
        groups = [[t for t in g if t in self._df] for g in groups]
        if not groups or any(not g for g in groups):
            return []  # empty query, or an unsatisfiable group
        # fixed global term order (see docstring): lightest group's
        # terms by (df, term) first, remaining terms after
        base = min(groups, key=lambda g: sum(self._df[t] for t in g))
        base_terms = sorted(dict.fromkeys(base),
                            key=lambda t: (self._df[t], t))
        base_set = set(base_terms)
        rest = sorted({t for g in groups for t in g} - base_set,
                      key=lambda t: (self._df[t], t))
        terms = base_terms + rest
        other_groups = [g for g in groups if g is not base]
        idf = {t: self._idf(t) for t in terms}
        w = {t: float(boosts.get(t, 1.0)) for t in terms}
        excl = self._excluded_docs(exclude) if exclude else None
        excl = self._merge_excl(excl, exclude_docs)
        allow = self._norm_restrict(restrict)
        if allow is not None and allow.size == 0:
            return []

        if not prune:
            # exhaustive reference path for the equivalence properties
            return self._grouped_vec(
                terms, base_terms, other_groups, idf, w, k, excl, after,
                allow,
            )
        if fast:
            # repeats warm the decoded cache so the block-max path's
            # contribution lookups skip the varint decode entirely
            self._promote_repeats(terms, idf)
        return self._grouped_blockmax(
            terms, base_terms, other_groups, idf, w, k, excl, after, allow
        )

    def score_grouped_candidates(self, groups, cand: np.ndarray, *,
                                 boosts=None, exclude=None,
                                 exclude_docs=None):
        """Grouped-boolean scores for a FIXED candidate array — the
        restrict-driven evaluation plans/phraseq uses when a phrase
        clause has already pinned the candidate set: instead of
        scattering every query term's full posting list over its own
        union (cost ~ posting mass), each term is probed AT the
        candidates (|cand| searchsorteds into the cached list — cost
        ~ |cand|·log per term, independent of the Zipf head's list
        length). Scores are bit-identical to search_grouped's for the
        surviving docs: same fixed term order, same contribution
        arrays, same static-boost application.

        Returns (docs, scores) for the candidates that satisfy the
        boolean semantics (>= 1 term of EVERY group, no NOT matches),
        doc_id-ascending. `cand` must be sorted unique int64."""
        groups = [[t for t in dict.fromkeys(g) if t in self._df]
                  for g in groups]
        if not groups or any(not g for g in groups) or cand.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        boosts = boosts or {}
        if isinstance(exclude, str):
            exclude = analyze_query(exclude)
        base = min(groups, key=lambda g: sum(self._df[t] for t in g))
        base_terms = sorted(dict.fromkeys(base),
                            key=lambda t: (self._df[t], t))
        rest = sorted({t for g in groups for t in g} - set(base_terms),
                      key=lambda t: (self._df[t], t))
        terms = base_terms + rest
        other_groups = [g for g in groups if g is not base]
        excl = self._excluded_docs(exclude) if exclude else None
        excl = self._merge_excl(excl, exclude_docs)
        alive = ~self._in_sorted(excl, cand) if excl is not None \
            else np.ones(cand.size, dtype=bool)
        scores = np.zeros(cand.size, dtype=np.float64)
        hits = {}
        for t in terms:
            od, oc = self._load_full(t, self._idf(t))
            if od.size == 0:
                hits[t] = np.zeros(cand.size, dtype=bool)
                continue
            pos = np.searchsorted(od, cand)
            pos_c = np.minimum(pos, od.size - 1)
            hit = od[pos_c] == cand
            hits[t] = hit
            wt = float(boosts.get(t, 1.0))
            # x * 1.0 is bit-exact (matches _grouped_vec)
            scores = scores + np.where(hit, oc[pos_c] * wt, 0.0)
        base_mask = np.zeros(cand.size, dtype=bool)
        for t in base_terms:
            base_mask |= hits[t]
        alive &= base_mask
        for g in other_groups:
            g_mask = np.zeros(cand.size, dtype=bool)
            for t in g:
                g_mask |= hits[t]
            alive &= g_mask
        ca = cand[alive]
        return ca, self._boosted(ca, scores[alive])

    def _grouped_vec(self, terms, base_terms, other_groups, idf, w, k,
                     excl=None, after=None, allow=None):
        """Vectorized grouped evaluation: scatter-add every term's
        cached full list over the driving group's union, mask group
        membership, top-k. Exact; cost is the query's posting mass."""
        lists = {t: self._load_full(t, idf[t]) for t in terms}
        union = np.unique(np.concatenate([lists[t][0] for t in base_terms]))
        if union.size == 0:
            return []
        alive = np.ones(union.size, dtype=bool)
        if excl is not None or allow is not None:
            alive &= self._eligible(union, excl, allow)
        hits = {t: self._in_sorted(lists[t][0], union) for t in terms}
        for g in other_groups:
            g_mask = np.zeros(union.size, dtype=bool)
            for t in g:
                g_mask |= hits[t]
            alive &= g_mask
        scores = np.zeros(union.size, dtype=np.float64)
        for t in terms:
            od, oc = lists[t]
            pos = np.searchsorted(union, od)
            pos_c = np.minimum(pos, union.size - 1)
            hit = union[pos_c] == od
            # x * 1.0 is bit-exact, so unboosted queries are unchanged
            scores[pos_c[hit]] += oc[hit] * w[t]
        self.last_segments_skipped = 0
        ca, sa = union[alive], scores[alive]
        return self._vector_topk(ca, self._boosted(ca, sa), k, after)

    def _grouped_blockmax(self, terms, base_terms, other_groups, idf, w,
                          k, excl=None, after=None, allow=None):
        """Cold grouped evaluation: the driving group's segments are
        the only candidate generators (dedup: a doc is generated by
        its FIRST containing driving term), bounded by boosted
        overlap-aware upper bounds over ALL query terms; descending-
        bound order + strict '<' skip is exact, as in _search_or."""
        n_base = len(base_terms)
        all_segs = {t: self._segments(t) for t in terms}

        entries = []  # (ub, base_idx, segment row)
        for i, t in enumerate(base_terms):
            segs = all_segs[t]
            if len(segs) == 0:
                continue
            ub = w[t] * idf[t] * segs.max_tfnorm
            for u in terms:
                osegs = all_segs[u]
                if u == t or len(osegs) == 0:
                    continue
                ub = ub + w[u] * idf[u] * _overlap_bound(
                    osegs.first_doc, osegs.last_doc, osegs.max_tfnorm,
                    segs.first_doc, segs.last_doc,
                )
            # +bmax keeps the bound valid over boosted final scores
            entries.extend((float(b) + self._bmax, i, r)
                           for r, b in enumerate(ub))
        entries.sort(key=lambda e: -e[0])

        heap: list[tuple[float, int]] = []
        a_item = (after[1], -int(after[0])) if after is not None else None

        def offer(doc: int, score: float) -> None:
            item = (score, -doc)
            if a_item is not None and item >= a_item:
                return
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)

        skipped = 0
        for n_done, (ub, i, r) in enumerate(entries):
            # strict '<' keeps equal-score smaller-doc_id tie winners
            if len(heap) == k and ub < heap[0][0]:
                skipped += len(entries) - n_done
                break
            t = base_terms[i]
            cand, c_contrib = self._seg_decode(t, r, idf[t])
            scores = c_contrib * w[t]
            keep = self._eligible(cand, excl, allow)
            hits = {}
            for j, u in enumerate(terms):
                if u == t:
                    continue
                od, oc = self._load_full(u, idf[u])
                if od.size == 0:
                    hits[u] = np.zeros(cand.size, dtype=bool)
                    continue
                pos = np.searchsorted(od, cand)
                pos_c = np.clip(pos, 0, od.size - 1)
                hit = od[pos_c] == cand
                if j < i and j < n_base:
                    keep &= ~hit  # doc driven by its first base term only
                scores = scores + np.where(hit, oc[pos_c] * w[u], 0.0)
                hits[u] = hit
            alive = keep
            for g in other_groups:
                g_mask = np.zeros(cand.size, dtype=bool)
                for u in g:
                    if u == t:
                        g_mask |= True  # every cand contains t
                    else:
                        g_mask = g_mask | hits[u]
                alive = alive & g_mask
            ca, sa = cand[alive], scores[alive]
            sa = self._boosted(ca, sa)
            if after is not None and ca.size:
                keep_a = self._after_mask(ca, sa, after)
                ca, sa = ca[keep_a], sa[keep_a]
            if ca.size > k:
                order_k = np.lexsort((ca, -sa))[:k]
                ca, sa = ca[order_k], sa[order_k]
            for doc, sc in zip(ca, sa):
                offer(int(doc), float(sc))
        self.last_segments_skipped = skipped
        out = sorted(heap, key=lambda it: (-it[0], -it[1]))
        return [(-nd, s) for s, nd in out]

    def explain_score(self, qtext_or_terms, doc_id: int, *,
                      stem: bool = True) -> dict:
        """Lucene-explain-style score breakdown: why does `doc_id`
        score what it scores for this query? Returns per matched term
        (tf, df, doclen, idf, tfnorm, contribution) plus collection
        constants and the total; `matched_all` says whether the doc
        would survive conjunctive (AND) candidate generation. A
        deleted or absent doc reports its terms as unmatched. Reads
        only the segments whose [first_doc, last_doc] span admits the
        doc — O(query terms), not O(posting lists)."""
        if isinstance(qtext_or_terms, str):
            qterms = analyze_query(qtext_or_terms, stem=stem)
        else:
            qterms = list(dict.fromkeys(qtext_or_terms))
        doc_id = int(doc_id)
        deleted = bool(
            self._deleted.size
            and self._in_sorted(
                self._deleted, np.asarray([doc_id], dtype=np.int64)
            )[0]
        )
        out_terms = []
        total = 0.0
        for t in qterms:
            row = {"term": t, "matched": False, "df": None, "tf": None,
                   "doclen": None, "idf": None, "tfnorm": None,
                   "contribution": 0.0}
            if t in self._df and not deleted:
                row["df"] = int(self._df[t])
                row["idf"] = self._idf(t)
                hit = self._doc_posting(t, doc_id)
                if hit is not None:
                    tf, dl = hit
                    row["matched"] = True
                    row["tf"] = tf
                    row["doclen"] = dl
                    row["tfnorm"] = float(self._tfnorm(
                        np.asarray([tf]), np.asarray([dl], dtype=np.int64),
                    )[0])
                    row["contribution"] = row["idf"] * row["tfnorm"]
            total += row["contribution"]
            out_terms.append(row)
        static = 0.0
        if self._boost is not None and not deleted:
            static = float(self._boosted(
                np.asarray([doc_id], dtype=np.int64),
                np.zeros(1, dtype=np.float64),
            )[0])
            total += static
        return {
            "doc_id": doc_id,
            "deleted": deleted,
            "n_docs": self.n_docs,
            "avgdl": self.avgdl,
            "k1": K1,
            "b": B,
            "terms": out_terms,
            "static_boost": static,
            "matched_all": bool(out_terms)
            and all(r["matched"] for r in out_terms),
            "score": total,
        }

    def more_like_this(
        self, doc_id: int, *, k: int = 10, n_terms: int = 5,
        stem: bool = True,
    ) -> list[tuple[int, float]]:
        """Lucene-style more-like-this: analyze the source document's
        stored text, rank its terms by tf-idf (rounded to 6 before
        ranking, tie-break term asc — the same selection rule the
        more_like_this oracle entry pins cross-engine), and run a
        disjunctive BM25 search over the top n_terms with the source
        doc itself excluded. Requires the docstore table
        (build_index.py --store-text); raises FileNotFoundError
        otherwise. Unknown doc ids return []."""
        from collections import Counter

        from search_engine_spark.functions.text import analyze
        from search_engine_spark.plans.docstore import DocStore

        if self._docstore is None:
            self._docstore = DocStore(self.root)
        text = self._docstore.get_texts([int(doc_id)]).get(int(doc_id))
        if text is None:
            return []
        # full (non-deduplicated) term vector — analyze_query would
        # collapse repeats and flatten every tf to 1
        tf = Counter(analyze(text, stem=stem))
        scored = sorted(
            (-round(n * self._idf(t), 6), t)
            for t, n in tf.items()
            if t in self._df
        )
        qterms = [t for _, t in scored[:n_terms]]
        hits = self.search(qterms, k=k + 1, mode="or", stem=stem)
        return [(d, s) for d, s in hits if d != int(doc_id)][:k]

    @staticmethod
    def _read_term(rgs, files: dict, term: str, columns: list):
        """Yield `term`'s rows from each row group in `rgs` whose
        [min, max] term-stats range admits it, filtered in Arrow."""
        for path, rg, lo, hi in rgs:
            if (lo is None or lo <= term) and (hi is None or term <= hi):
                tbl = files[path].read_row_groups([rg], columns=columns)
                yield tbl.filter(pc.equal(tbl["term"], term))

    def _dict_lookup(self, term: str) -> tuple[int, int, int | None] | None:
        """(df, bucket, cf) for term, or None if absent — one
        row-group-pruned dictionary read, LRU-cached (misses cached
        too: absent query terms are common and must stay cheap). cf is
        the exact collection frequency, None on a pre-cf dictionary."""
        if self._eager:
            df = self._eager_df.get(term)
            return (None if df is None
                    else (df, self._eager_bucket[term], None))
        cache = self._dict_cache
        if term in cache:
            val = cache.pop(term)
            cache[term] = val  # refresh recency
            return val
        from search_engine_spark.functions.hashing import term_bucket

        b = term_bucket(term, self.n_buckets)
        row = None
        for sel in self._read_term(self._dict_rg.get(b, ()),
                                   self._dict_files, term, self._dict_cols):
            if sel.num_rows:
                cf = sel["cf"][0].as_py() if "cf" in sel.column_names else None
                row = (int(sel["df"][0].as_py()), b,
                       None if cf is None else int(cf))
                break
        self._lru_put(cache, term, row, self._DICT_CACHE)
        return row

    def _idf(self, term: str) -> float:
        # _idf_df (plans/federate): dict-like override giving the
        # COLLECTION-WIDE df when this searcher serves one member of a
        # federated set — n_docs/avgdl are rebased there too, so every
        # sub-index scores on identical global constants and the merged
        # ranking is exchangeable with a physically merged index.
        df = (self._idf_df if self._idf_df is not None else self._df)[term]
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    @staticmethod
    def _lru_hit(cache: dict, key):
        """dict-as-LRU: refresh recency on hit (pop + reinsert moves the
        key to the end; eviction pops the front = least recent)."""
        v = cache.get(key)
        if v is not None:
            cache[key] = cache.pop(key)
        return v

    @staticmethod
    def _lru_put(cache: dict, key, value, cap: int) -> None:
        """Insert into a dict-as-LRU, evicting the least recent entry
        once `cap` entries are held."""
        if len(cache) >= cap:
            cache.pop(next(iter(cache)))
        cache[key] = value

    def _segments(self, term: str) -> SegmentTable:
        """`term`'s SegmentTable, read from exactly the row groups
        whose stats admit the term and filtered to it in Arrow;
        LRU-cached per term for the serving hot set. An absent term
        has an empty table."""
        hit = self._lru_hit(self._term_cache, term)
        if hit is not None:
            return hit
        row = self._dict_lookup(term)
        if row is None:
            return _NO_SEGMENTS
        out = SegmentTable.from_arrow(
            list(self._read_term(self._rg.get(row[1], ()), self._files,
                                 term, self._COLUMNS)),
            self._tfnorm_scale,
        )
        self._lru_put(self._term_cache, term, out, self._cache_terms)
        return out

    def _postings(self, term: str, idx=None):
        """The one postings decoder: doc-sorted (doc_ids, tfs, doclens)
        int64 arrays over the SegmentTable rows `idx` of `term` (all
        rows when None), tombstoned docs masked out. Segments are
        concatenated in table order and merged by a stable sort, so
        every scorer built on it sums in one fixed order."""
        segs = self._segments(term)
        parts = []
        for r in (range(len(segs)) if idx is None else idx):
            docs, tfs = decode_postings(segs.doc_ids[r], segs.tfs[r])
            dls = decode_varints(segs.doclens[r]).astype(np.int64)
            parts.append(mask_deleted(self._deleted, docs, tfs, dls))
        if len(parts) == 1:
            return parts[0]
        if not parts:
            return tuple(np.empty(0, np.int64) for _ in range(3))
        d, tf, dl = (np.concatenate(c) for c in zip(*parts))
        order = np.argsort(d, kind="stable")
        return d[order], tf[order], dl[order]

    def _doc_posting(self, term: str, doc_id: int) -> tuple[int, int] | None:
        """(tf, doclen) of one live doc in `term`'s postings, or None;
        decodes only the segments whose [first_doc, last_doc] span
        admits the doc (explain paths)."""
        segs = self._segments(term)
        idx = np.flatnonzero((segs.first_doc <= doc_id)
                             & (segs.last_doc >= doc_id))
        docs, tfs, dls = self._postings(term, idx)
        i = int(np.searchsorted(docs, doc_id))
        if i < docs.size and docs[i] == doc_id:
            return int(tfs[i]), int(dls[i])
        return None

    def _tfnorm(self, tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
        tff = tf.astype(np.float64)
        return tff * (K1 + 1.0) / (
            tff + K1 * (1.0 - B + B * dl.astype(np.float64) / self.avgdl)
        )

    def _contribs(self, term: str, idf_t: float, idx=None):
        """(doc_ids, idf*tfnorm contributions) over SegmentTable rows
        `idx` of `term` (all when None) — _postings plus the BM25
        arithmetic, element-wise, so every cached list below sums the
        same floats."""
        docs, tfs, dls = self._postings(term, idx)
        return docs, idf_t * self._tfnorm(tfs, dls)

    def _seg_decode(self, term: str, r: int, idf_t: float):
        """_contribs of SegmentTable row `r` of `term`, cached per
        (term, row). The contribution array is query-INDEPENDENT (idf
        is a corpus constant per term), so the cache is shared by the
        AND and OR paths and across queries."""
        cache = self._lru_hit(self._seg_decoded, term)
        if cache is None:
            cache = {}
            self._lru_put(self._seg_decoded, term, cache, self._cache_terms)
        hit = cache.get(r)
        if hit is None:
            hit = cache[r] = self._contribs(term, idf_t, (r,))
        return hit

    def _load_full(self, term: str, idf_t: float):
        """_contribs over ALL of `term`'s segments, cached query-
        independently — the only filler of the full-list cache."""
        hit = self._lru_hit(self._decoded_cache, term)
        if hit is not None:
            return hit
        if len(self._segments(term)) == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        out = self._contribs(term, idf_t)
        self._lru_put(self._decoded_cache, term, out, self._cache_terms)
        return out

    @staticmethod
    def _in_sorted(sorted_arr: np.ndarray | None, docs: np.ndarray) -> np.ndarray:
        """Boolean membership mask of docs in sorted_arr (None/empty →
        all False) — one searchsorted, no set materialization."""
        if sorted_arr is None or sorted_arr.size == 0 or docs.size == 0:
            return np.zeros(docs.size, dtype=bool)
        pos = np.searchsorted(sorted_arr, docs)
        pos_c = np.minimum(pos, sorted_arr.size - 1)
        return sorted_arr[pos_c] == docs

    def _eligible(self, docs: np.ndarray, excl, allow) -> np.ndarray:
        """Candidate-eligibility mask: not NOT-excluded AND (when a
        restrict set is given) a member of it. Both legs are
        removal-only, so every block-max segment bound remains a valid
        upper bound over eligible docs and pruning stays exact — the
        same argument exclude already rides. `allow` is the site:/
        filter-clause pre-filter (sorted allowed doc_ids); filtering
        happens at candidate generation, never as a post-filter over a
        ranked page, so a highly selective filter costs nothing extra."""
        m = ~self._in_sorted(excl, docs)
        if allow is not None:
            m &= self._in_sorted(allow, docs)
        return m

    @staticmethod
    def _norm_restrict(restrict) -> np.ndarray | None:
        """Normalize a restrict set (any int iterable / ndarray) to the
        sorted-unique int64 array the masks need; None passes through."""
        if restrict is None:
            return None
        arr = np.unique(np.asarray(list(restrict), dtype=np.int64)) \
            if not isinstance(restrict, np.ndarray) \
            else np.unique(restrict.astype(np.int64, copy=False))
        return arr

    def _excluded_docs(self, exclude) -> np.ndarray | None:
        """Sorted union of the excluded terms' doc lists (NOT-term
        support). Exclusion lists must be decoded in FULL — a doc
        containing an excluded term anywhere must be suppressed — so
        they ride the same query-independent decoded cache the
        positive terms use. Unknown terms are no-ops."""
        arrs = []
        for t in dict.fromkeys(exclude or []):
            if t in self._df:
                arrs.append(self._load_full(t, self._idf(t))[0])
        if not arrs:
            return None
        return np.unique(np.concatenate(arrs))

    @staticmethod
    def _merge_excl(excl: np.ndarray | None, exclude_docs) -> np.ndarray | None:
        """Union the NOT-term doc set with an explicit excluded-doc-id
        set (NOT-phrase support, plans/phraseq.py) — exclusion stays
        removal-only, so every pruning bound remains valid."""
        if exclude_docs is None:
            return excl
        ed = np.unique(np.asarray(exclude_docs, dtype=np.int64))
        if ed.size == 0:
            return excl
        return ed if excl is None else np.union1d(excl, ed)

    @staticmethod
    def _after_mask(docs: np.ndarray, scores: np.ndarray, after):
        """Eligibility mask for cursor pagination: keep docs strictly
        AFTER the (doc_id, score) cursor — the previous page's last
        hit, same tuple shape search() returns — in (score desc,
        doc_id asc) ranking order. Safe on exact float equality
        because serving scores are bit-identical across repeated
        queries (warm == cold bit-identity, property-tested)."""
        a_d, a_s = after
        return (scores < a_s) | ((scores == a_s) & (docs > a_d))

    def _vector_topk(self, docs: np.ndarray, scores: np.ndarray, k: int,
                     after=None):
        """Exact top-k by (score desc, doc_id asc) from parallel arrays:
        argpartition narrows to the boundary score (ties kept), then a
        lexsort of only that subset fixes the order."""
        if after is not None and docs.size:
            keep_a = self._after_mask(docs, scores, after)
            docs, scores = docs[keep_a], scores[keep_a]
        if docs.size == 0:
            return []
        if docs.size > k:
            kth = np.partition(-scores, k - 1)[k - 1]
            keep = -scores <= kth  # score >= k-th best, boundary ties kept
            docs, scores = docs[keep], scores[keep]
        order = np.lexsort((docs, -scores))[:k]
        return [(int(docs[i]), float(scores[i])) for i in order]

    def _warm(self, qterms: list[str]) -> bool:
        return all(t in self._decoded_cache for t in qterms)

    def _promote_repeats(self, qterms: list[str], idf: dict) -> None:
        """Count term encounters; fully decode a term's list on its
        second one so subsequent queries route the vectorized path.

        Bounded in a long-lived server: promotion happens only into
        FREE cache slots (a full cache means the working set already
        exceeds cache_terms — force-decoding just to be evicted would
        defeat block-max decode avoidance), and the hit counter decays
        (halve-and-drop) once it outgrows 8x the cache so it cannot
        grow with the lifetime-distinct term count."""
        if len(self._term_hits) > 8 * self._cache_terms:
            self._term_hits = {
                t: n // 2 for t, n in self._term_hits.items() if n // 2 > 0
            }
        for t in qterms:
            n = self._term_hits.get(t, 0) + 1
            self._term_hits[t] = n
            if (
                n >= 2
                and t not in self._decoded_cache
                and len(self._decoded_cache) < self._cache_terms
            ):
                self._load_full(t, idf[t])

    def _search_and_warm(self, qterms, idf, k, excl=None, after=None,
                         allow=None):
        """Serving fast path (AND): every term's merged list is already
        decoded+cached, so the whole intersection runs as a handful of
        numpy ops — no per-segment Python loop. Only routed when warm;
        cold queries keep the block-max path (its segment pruning
        avoids decode work the vectorized path would have to pay).

        Float additions run in the SAME order as the block-max path
        (rarest term's contribution first, then the remaining terms in
        query order) so results are bit-identical, not just
        rank-identical."""
        rarest = min(qterms, key=lambda t: self._df[t])
        docs, contrib = self._load_full(rarest, idf[rarest])
        scores = contrib.copy()
        alive = self._eligible(docs, excl, allow)
        for t in qterms:
            if t == rarest:
                continue
            od, oc = self._load_full(t, idf[t])
            if od.size == 0:
                return []
            pos = np.searchsorted(od, docs)
            pos_c = np.clip(pos, 0, od.size - 1)
            hit = od[pos_c] == docs
            alive &= hit
            scores = scores + np.where(hit, oc[pos_c], 0.0)
        self.last_segments_skipped = 0
        ca, sa = docs[alive], scores[alive]
        return self._vector_topk(ca, self._boosted(ca, sa), k, after)

    def _search_or_warm(self, qterms, idf, k, excl=None, after=None,
                        msm: int = 1, allow=None):
        """Serving fast path (OR): scatter-add each term's cached
        contribution list into the union doc array, in the same sorted
        term order the block-max path uses — per-doc addition sequences
        match bit-exactly (x+0.0 == 0.0+x == x for finite floats).
        NOT-terms shrink the union up front; contribution scatter then
        guards membership (an od outside the union is excluded)."""
        parts = [self._load_full(t, idf[t]) for t in qterms]
        union = np.unique(np.concatenate([p[0] for p in parts]))
        if excl is not None or allow is not None:
            union = union[self._eligible(union, excl, allow)]
        if union.size == 0:
            return []
        scores = np.zeros(union.size, dtype=np.float64)
        counts = np.zeros(union.size, dtype=np.int32) if msm > 1 else None
        for od, oc in parts:
            if od.size:
                pos = np.searchsorted(union, od)
                pos_c = np.minimum(pos, union.size - 1)
                hit = union[pos_c] == od
                # od is strictly increasing per term -> hit indices are
                # unique; fancy += is a safe (and faster) scatter-add
                scores[pos_c[hit]] += oc[hit]
                if counts is not None:
                    counts[pos_c[hit]] += 1
        if counts is not None:
            # minimum-should-match: structural filter only — scores of
            # surviving docs are the plain OR sums
            keep_m = counts >= msm
            union, scores = union[keep_m], scores[keep_m]
        self.last_segments_skipped = 0
        return self._vector_topk(union, self._boosted(union, scores), k, after)

    def _search_or(
        self, qterms: list[str], k: int, prune: bool, excl=None, after=None,
        msm: int = 1, allow=None,
    ) -> list[tuple[int, float]]:
        """Disjunctive (OR) top-k: block-max pruned union scoring.

        Every query term's every segment is a candidate generator; a
        doc is generated only by its FIRST containing term (fixed term
        order) so it is scored exactly once, with contributions from
        ALL terms containing it. Segment upper bound =
        own idf*max_tfnorm + sum over other terms of their best
        overlapping-segment bound; since any doc in the segment scores
        <= that bound, skipping bound<theta segments is exact — a doc
        whose every containing segment is pruned cannot reach the heap
        (each containing segment's bound dominates its full score).
        Pruning gates candidate GENERATION only; contribution lookups
        for surviving candidates always read the real lists."""
        qterms = sorted(qterms, key=lambda t: (self._df[t], t))
        idf = {t: self._idf(t) for t in qterms}
        if prune and self._fast:
            self._promote_repeats(qterms, idf)
            if self._warm(qterms):
                return self._search_or_warm(qterms, idf, k, excl, after,
                                            msm, allow)
        # (term, segment table) in fixed dedup order
        per_term = [(t, self._segments(t)) for t in qterms]

        # segment entries with full OR upper bounds
        entries = []  # (ub, term_idx, segment row)
        for i, (t, segs) in enumerate(per_term):
            if len(segs) == 0:
                continue
            ub = idf[t] * segs.max_tfnorm
            for j, (u, osegs) in enumerate(per_term):
                if j == i or len(osegs) == 0:
                    continue
                ub = ub + idf[u] * _overlap_bound(
                    osegs.first_doc, osegs.last_doc, osegs.max_tfnorm,
                    segs.first_doc, segs.last_doc,
                )
            # +bmax keeps the bound valid over boosted final scores
            entries.extend((float(b) + self._bmax, i, r)
                           for r, b in enumerate(ub))
        entries.sort(key=lambda e: -e[0])

        heap: list[tuple[float, int]] = []
        # cursor pagination: only docs strictly after `after` may enter
        # the heap. Pruning stays exact — theta is the k-th best among
        # ELIGIBLE docs, and a segment bound below theta cannot hold an
        # eligible doc that would displace it.
        a_item = (after[1], -int(after[0])) if after is not None else None

        def offer(doc: int, score: float) -> None:
            item = (score, -doc)
            if a_item is not None and item >= a_item:
                return
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)

        skipped = 0
        for n_done, (ub, i, r) in enumerate(entries):
            # strict '<' keeps equal-score smaller-doc_id tie winners
            if prune and len(heap) == k and ub < heap[0][0]:
                skipped += len(entries) - n_done
                break
            t = per_term[i][0]
            cand, scores = self._seg_decode(t, r, idf[t])
            scores = scores.copy()
            keep = self._eligible(cand, excl, allow)
            n_hit = np.ones(cand.size, dtype=np.int32) if msm > 1 else None
            for j, (u, _) in enumerate(per_term):
                if j == i:
                    continue
                od, oc = self._load_full(u, idf[u])
                if od.size == 0:
                    continue
                pos = np.searchsorted(od, cand)
                pos_c = np.clip(pos, 0, od.size - 1)
                hit = od[pos_c] == cand
                if j < i:
                    keep &= ~hit  # doc is driven by its first term only
                scores = scores + np.where(hit, oc[pos_c], 0.0)
                if n_hit is not None:
                    n_hit += hit
            if n_hit is not None:
                # minimum-should-match removes candidates only, so every
                # segment bound stays a valid upper bound (pruning exact)
                keep &= n_hit >= msm
            ca, sa = cand[keep], scores[keep]
            sa = self._boosted(ca, sa)
            if after is not None and ca.size:
                # BEFORE the per-segment k-cut: the segment's k best
                # may all be pre-cursor docs
                keep_a = self._after_mask(ca, sa, after)
                ca, sa = ca[keep_a], sa[keep_a]
            if ca.size > k:
                order_k = np.lexsort((ca, -sa))[:k]
                ca, sa = ca[order_k], sa[order_k]
            for doc, sc in zip(ca, sa):
                offer(int(doc), float(sc))
        self.last_segments_skipped = skipped
        out = sorted(heap, key=lambda it: (-it[0], -it[1]))
        return [(-nd, s) for s, nd in out]

    def search(
        self, qtext_or_terms, *, k: int = 10, stem: bool = True,
        prune: bool = True, mode: str = "and", fast: bool = True,
        exclude=None, after: tuple[int, float] | None = None,
        msm: int = 1, restrict=None, exclude_docs=None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score), score desc then doc_id asc.

        mode="and" (default) is the reference's conjunctive semantics;
        mode="or" is disjunctive BM25 (matches IndexReader.search
        mode="or" — missing terms are dropped, not fatal).
        exclude: NOT-terms (list, or raw text analyzed the same way) —
        docs containing ANY of them are suppressed; surviving docs'
        scores are unaffected. Block-max pruning stays exact: exclusion
        only removes candidates, so every segment bound remains a valid
        upper bound and theta only ever reflects eligible docs.
        prune=False disables the block-max skip (used by the
        equivalence property tests). fast=False forces the block-max
        path even when every term is warm in the serving cache (the
        warm vectorized path is result-identical; property-tested).
        after: cursor pagination (search_after semantics) — pass the
        previous page's last hit (doc_id, score), exactly as returned,
        to get the next k results strictly after it in (score desc,
        doc_id asc) order;
        concatenated pages reproduce the full ranking exactly
        (property-tested on every path). Exact float equality against
        the cursor is safe: serving scores are bit-identical across
        repeats (warm == cold bit-identity).
        restrict: filter-clause PRE-filter (site: scoping, tenant
        isolation, date windows...) — an iterable of ALLOWED doc_ids;
        only members can be returned, survivor scores unchanged.
        Applied at candidate generation on every path (never a
        post-filter over a ranked page); removal-only, so block-max
        pruning stays exact. An empty set returns []."""
        if mode not in ("and", "or"):
            raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
        msm = int(msm)
        if msm < 1:
            raise ValueError(f"msm must be >= 1, got {msm}")
        if msm > 1 and mode != "or":
            raise ValueError(
                "minimum-should-match applies to mode='or' only "
                "(AND already requires every term)"
            )
        if isinstance(qtext_or_terms, str):
            qterms = analyze_query(qtext_or_terms, stem=stem)
        else:
            qterms = list(dict.fromkeys(qtext_or_terms))
        if isinstance(exclude, str):
            exclude = analyze_query(exclude, stem=stem)
        self._fast = fast
        excl = self._excluded_docs(exclude) if exclude else None
        excl = self._merge_excl(excl, exclude_docs)
        allow = self._norm_restrict(restrict)
        if allow is not None and allow.size == 0:
            return []
        if after is not None:
            after = (int(after[0]), float(after[1]))
        if mode == "or":
            qterms = [t for t in qterms if t in self._df]
            # msm counts PRESENT query terms (absent terms are dropped,
            # not fatal, mirroring plain OR); a doc can never match
            # more terms than exist in the index
            if not qterms or msm > len(qterms):
                return []
            return self._search_or(qterms, k, prune, excl, after, msm,
                                   allow)
        if not qterms or any(t not in self._df for t in qterms):
            return []
        idf = {t: self._idf(t) for t in qterms}
        if prune and fast:
            self._promote_repeats(qterms, idf)
            if self._warm(qterms):
                return self._search_and_warm(qterms, idf, k, excl, after,
                                             allow)

        # rarest term drives the intersection
        rarest = min(qterms, key=lambda t: self._df[t])
        others = [t for t in qterms if t != rarest]
        r_segs = self._segments(rarest)
        if len(r_segs) == 0:
            return []

        # lazily-decoded other-term lists, restricted to the rarest
        # span. Cached as (doc_ids, contrib) where contrib = idf_t *
        # tfnorm(tf, dl) — query-INDEPENDENT per term, so repeated
        # queries skip both the varint decode and the BM25 arithmetic.
        r_lo = int(r_segs.first_doc.min())
        r_hi = int(r_segs.last_doc.max())
        other_lists: dict[str, tuple[np.ndarray, np.ndarray]] = {}

        def load_other(t: str):
            if t in other_lists:
                return other_lists[t]
            out = self._lru_hit(self._decoded_cache, t)
            if out is None:
                segs = self._segments(t)
                idx = np.flatnonzero((segs.last_doc >= r_lo)
                                     & (segs.first_doc <= r_hi))
                # only full-span decodes are cached (subsets depend on
                # the query)
                out = (self._load_full(t, idf[t]) if idx.size == len(segs)
                       else self._contribs(t, idf[t], idx))
            other_lists[t] = out
            return out

        # per-rarest-segment bound contributions of the other terms:
        # instead of one GLOBAL max bound per other term, bound by the
        # other term's segments overlapping the rarest segment's
        # [first_doc, last_doc] (searchsorted prefix/suffix maxima —
        # see _overlap_bound) — tighter than the global max (a
        # non-overlapping segment cannot co-score any candidate), and
        # still an upper bound, so exactness is preserved while more
        # segments prune.
        others_ub_vec = np.zeros(len(r_segs), dtype=np.float64)
        for t in others:
            segs = self._segments(t)
            if len(segs) == 0:
                continue
            others_ub_vec += idf[t] * _overlap_bound(
                segs.first_doc, segs.last_doc, segs.max_tfnorm,
                r_segs.first_doc, r_segs.last_doc,
            )

        heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
        a_item = (after[1], -int(after[0])) if after is not None else None

        def offer(doc: int, score: float) -> None:
            item = (score, -doc)
            if a_item is not None and item >= a_item:
                return  # pre-cursor doc (earlier page) — ineligible
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)

        # descending bound order grows theta fastest (+bmax keeps every
        # bound valid over statically-boosted final scores)
        ub = idf[rarest] * r_segs.max_tfnorm + others_ub_vec + self._bmax
        order = np.argsort(-ub, kind="stable")
        skipped = 0
        for i, r in enumerate(order):
            # strict '<': a segment whose bound EQUALS theta may hold an
            # equal-score doc with a smaller doc_id (tie-break winner)
            if prune and len(heap) == k and ub[r] < heap[0][0]:
                # bounds are sorted descending: everything after this
                # row is pruned too — stop instead of scanning on
                skipped += order.size - i
                break
            cand, c_contrib = self._seg_decode(rarest, r, idf[rarest])
            scores = c_contrib.copy()
            alive = self._eligible(cand, excl, allow)
            for t in others:
                od, oc = load_other(t)
                if od.size == 0:
                    alive[:] = False
                    break
                pos = np.searchsorted(od, cand)
                pos_c = np.clip(pos, 0, od.size - 1)
                hit = od[pos_c] == cand
                alive &= hit
                if not alive.any():
                    break
                scores = scores + np.where(hit, oc[pos_c], 0.0)
            ca, sa = cand[alive], scores[alive]
            sa = self._boosted(ca, sa)
            if after is not None and ca.size:
                # BEFORE the per-segment k-cut: the segment's k best
                # may all be pre-cursor docs
                keep_a = self._after_mask(ca, sa, after)
                ca, sa = ca[keep_a], sa[keep_a]
            if ca.size > k:
                # vectorized per-segment top-k: the heap only ever
                # needs a segment's k best by (score desc, doc_id asc);
                # lexsort keeps the tie-break exact. Cuts the Python
                # offer loop from |segment| to k iterations.
                order_k = np.lexsort((ca, -sa))[:k]
                ca, sa = ca[order_k], sa[order_k]
            for doc, sc in zip(ca, sa):
                offer(int(doc), float(sc))
        self.last_segments_skipped = skipped
        out = sorted(heap, key=lambda it: (-it[0], -it[1]))
        return [(-nd, s) for s, nd in out]
