"""Multi-field ranking: body + title as separately-indexed fields,
combined at query time as a weighted sum of per-field BM25 scores.

Model: score(q, d) = BM25_body(q, d) + w_title * BM25_title(q, d),
each field scored against its OWN collection statistics (df, n_docs,
avgdl of that field) — the practical multi-field model (what
Elasticsearch multi_match 'most_fields' computes). True BM25F (field
weights folded into a shared tf saturation) is a one-function variant
on the same two-index layout; the weighted sum is kept canonical here
because it composes two INDEPENDENT, individually-verified indexes
with zero new index format.

Candidate semantics: the BODY field drives candidate generation
(AND / OR per mode, NOT-terms, deletes — all of LocalSearcher's
machinery); the title field only re-ranks docs the body already
matched. A title-only match is never returned (at web scale a
title-only candidate generator is a recall knob you add per-field —
the layout already supports it: each field is a full index).

Exactness at scale (iterative deepening): fetch the top-m body
candidates, rescore them with the title boost, and STOP when the
m-th body score plus the title-boost upper bound
(w * sum_t idf_title(t) * max_tfnorm_title(t), straight from the
per-segment max_tfnorm the title index already stores) cannot beat
the current k-th total — any unfetched doc has body score <= the
m-th, so it cannot enter the top-k; otherwise quadruple m. Worst
case degrades to the full candidate set (which is where the old
implementation always started); typical queries stop at the first
m = max(4k, 32). Property-tested against an independent pandas
ranker (tests/test_multifield.py), including a tiny-k run that
exercises the early-stop branch.

Build: ``build_title_index`` (or ``build_index.py --title-index``)
writes a SECOND ordinary index over extract_title(html) under
``<index_dir>/fields/title`` — same builder, same format, same
integrity story (fsck works on it unchanged).
"""

from __future__ import annotations

import math
import os
import re

import numpy as np

from search_engine_spark.plans.build_index import build_index
from search_engine_spark.plans.scoring import analyze_query
from search_engine_spark.plans.wand import LocalSearcher

TITLE_DIR = os.path.join("fields", "title")

# field-scoped clause: [-]field:term[^boost] as one whitespace token
_FIELDED_RE = re.compile(
    r"^(-?)([A-Za-z][A-Za-z0-9_]*):([^\s^]+)(\^[\d.]+)?$"
)


def known_fields(index_dir: str) -> set[str]:
    """Field names a fielded clause may scope to: every built
    fields/<name> index, plus 'body' (an explicit alias for the main
    index — `body:term` pins the default field by name)."""
    out = {"body"}
    fdir = os.path.join(index_dir, "fields")
    if os.path.isdir(fdir):
        for n in os.listdir(fdir):
            if os.path.isdir(os.path.join(fdir, n, "postings")):
                out.add(n)
    return out


def has_fielded_clause(qtext: str, fields: set[str]) -> bool:
    """True when any whitespace token is a field-scoped clause over a
    KNOWN field. Unknown prefixes (URLs, times) stay ordinary text —
    routing only ever changes semantics for names the index actually
    serves, so plain queries keep their round-1 behavior."""
    for tok in qtext.split():
        m = _FIELDED_RE.match(tok)
        if m and m.group(2) in fields:
            return True
    return False


def parse_fielded_query(
    qtext: str, fields: set[str], *, stem: bool = True
) -> list[tuple[str, str, bool, float]]:
    """Parse a fielded query into clauses (field, term, negated,
    boost). Grammar: whitespace-separated clauses; `title:spark`
    scopes a term to a field index, `-title:spark` negates it,
    `title:spark^2` boosts its contribution; bare terms (and
    `body:`-prefixed ones) are body clauses. Lucene's field-scoped
    term query shape — OR-groups / quoted phrases don't mix with
    fielded clauses (orthogonal grammars; the CLI usage-errors).
    Terms are analyzed with the standard analyzer; a clause whose
    term analyzes away (pure punctuation) vanishes like any other
    clause. Raises ValueError for unknown fields and for purely
    negative queries (Lucene, too, requires a positive clause)."""
    clauses: list[tuple[str, str, bool, float]] = []
    for tok in qtext.split():
        m = _FIELDED_RE.match(tok)
        if m and m.group(2) in fields:
            neg, fname, raw, boost = (
                bool(m.group(1)), m.group(2), m.group(3), m.group(4),
            )
        elif m and m.group(2) not in fields:
            raise ValueError(
                f"unknown field {m.group(2)!r} in clause {tok!r} — "
                f"built fields: {sorted(fields)}"
            )
        else:
            neg = tok.startswith("-") and len(tok) > 1
            raw = tok[1:] if neg else tok
            fname, boost = "body", None
            if "^" in raw:
                raw, _, b = raw.partition("^")
                boost = "^" + b
        if boost is not None:
            try:
                w = float(boost[1:])
            except ValueError:
                raise ValueError(
                    f"malformed boost in clause {tok!r}"
                ) from None
            if w < 0:
                raise ValueError(f"negative boost in clause {tok!r}")
        else:
            w = 1.0
        for term in analyze_query(raw, stem=stem):
            clauses.append((fname, term, neg, w))
    if clauses and not any(not neg for _, _, neg, _ in clauses):
        raise ValueError(
            "purely negative query — add at least one positive clause"
        )
    return clauses


def _fielded_split(clauses):
    """(body_pos, body_neg, field_pos, field_neg) with body boosts
    folded into field_pos when boosted (the body leg's LocalSearcher
    path scores unboosted AND; a boosted body clause rides the
    per-clause contribution machinery instead)."""
    body_pos, body_neg, fpos, fneg = [], [], [], []
    for fname, term, neg, w in clauses:
        if fname == "body" and w == 1.0:
            (body_neg if neg else body_pos).append(term)
        else:
            (fneg if neg else fpos).append((fname, term, w))
    return body_pos, body_neg, fpos, fneg


def search_fielded(
    index_dir: str, qtext: str, *, k: int = 10, stem: bool = True,
    restrict=None, static_boosts: bool = True,
    searchers: dict[str, LocalSearcher] | None = None,
) -> list[tuple[int, float]]:
    """Field-scoped conjunctive search (Lucene `title:spark join`):
    every positive clause must match IN ITS FIELD; score = the sum of
    each clause's boost * idf_f * tfnorm_f against that field's own
    collection statistics (body clauses ride plain body BM25 — with
    the index's static boosts, like every body path); `-field:term`
    suppresses docs whose field contains the term. Top-k (score desc,
    doc_id asc).

    Exhaustive across clauses by design: conjunction spans SEVERAL
    indexes, and each index's baked impacts bound only its own
    contribution — cross-field dynamic pruning needs a WAND over the
    union of clause posting lists (future work; Lucene evaluates
    multi-field conjunctions the same exhaustive way). Cost is the
    sum of the clause postings — the same bound the exhaustive AND
    path pays. Tombstones apply per field (field searchers mask
    against the parent's delete table); restrict carries the
    site:/ts-window filter clauses (removal-only)."""
    clauses = parse_fielded_query(qtext, known_fields(index_dir),
                                  stem=stem)
    if not clauses:
        return []
    body_pos, body_neg, fpos, fneg = _fielded_split(clauses)

    # injectable searcher set (federated serving pre-builds per-sub
    # searchers with GLOBAL per-field stats installed — plans/federate)
    if searchers is None:
        searchers = {}
    if "body" not in searchers:
        searchers["body"] = LocalSearcher(index_dir)
    body = searchers["body"]
    if not static_boosts:
        body.clear_static_boosts()

    def _fs(name: str) -> LocalSearcher:
        if name not in searchers:
            searchers[name] = LocalSearcher(
                os.path.join(index_dir, "fields", name)
            )
        return searchers[name]

    docs = scores = None
    if body_pos:
        hits = body.search(body_pos, k=1 << 30, stem=False,
                           mode="and", exclude=body_neg or None,
                           restrict=restrict)
        if not hits:
            return []
        docs = np.fromiter((d for d, _ in hits), dtype=np.int64,
                           count=len(hits))
        scores = np.fromiter((s for _, s in hits), dtype=np.float64,
                             count=len(hits))
        order = np.argsort(docs)
        docs, scores = docs[order], scores[order]

    for fname, term, w in fpos:
        fs = _fs(fname)
        if term not in fs._df:
            return []  # absent clause term: conjunction unsatisfiable
        od, oc = fs._load_full(term, fs._idf(term))
        if od.size == 0:
            return []
        if docs is None:
            docs, scores = od, w * oc
        else:
            pos = np.searchsorted(od, docs)
            pos_c = np.minimum(pos, od.size - 1)
            hit = od[pos_c] == docs
            docs, scores = docs[hit], scores[hit]
            scores = scores + w * oc[pos_c[hit]]
        if docs.size == 0:
            return []

    if docs is None:
        return []
    # negative clauses + leftover filters the body leg didn't apply
    excl_arrs = []
    for fname, term, _w in fneg:
        fs = _fs(fname)
        if term in fs._df:
            excl_arrs.append(fs._load_full(term, fs._idf(term))[0])
    if not body_pos:
        for term in body_neg:
            if term in body._df:
                excl_arrs.append(body._load_full(term, body._idf(term))[0])
    if excl_arrs:
        excl = np.unique(np.concatenate(excl_arrs))
        keep = ~body._in_sorted(excl, docs)
        docs, scores = docs[keep], scores[keep]
    if not body_pos and restrict is not None:
        allow = body._norm_restrict(restrict)
        if allow is None or allow.size == 0:
            return []
        keep = body._in_sorted(allow, docs)
        docs, scores = docs[keep], scores[keep]
    if docs.size == 0:
        return []
    order_k = np.lexsort((docs, -scores))[:k]
    return [(int(docs[i]), float(scores[i])) for i in order_k]


def search_bm25f(
    index_dir: str,
    qtext_or_terms,
    *,
    k: int = 10,
    stem: bool = True,
    mode: str = "or",
    field_weights: dict[str, float] | None = None,
    body_weight: float = 1.0,
    exclude=None,
) -> list[tuple[int, float]]:
    """True BM25F top-k (Zaragoza et al., TREC-13) over the body index
    plus its fields/* indexes — the SERVING twin of the pinned oracle
    math (entry_queries.q_bm25f_topk):

        tf~_t(d) = Σ_f w_f · tf_{t,f,d} / B_{f,d},
        B_{f,d}  = (1-b) + b·len_f(d)/avgdl_f
        score    = Σ_t idf_t · tf~/(k1 + tf~)

    i.e. per-field length-normalized tfs are combined into ONE
    pseudo-tf BEFORE the k1 saturation (one shared saturation —
    distinct from MultiFieldSearcher's most-fields sum, which
    saturates per field and double-counts repetition across fields).

    Pinned conventions: idf_t uses df = |docs containing t in ANY
    field| (decoded, tombstone-masked) against the BODY index's
    n_docs; candidates are disjunctive under mode='or' (any term, any
    field), conjunctive under 'and' (every present term in >= 1
    field); exclude suppresses docs containing the term in ANY field;
    scores are pure BM25F (no static boost — the additive prior is
    BM25-calibrated, same rule as LMD). Exhaustive over the query
    terms' postings by design: one shared saturation spans several
    indexes, so per-index baked impacts bound only their own field
    (the same argument search_fielded documents; Lucene's
    BM25FQuery/CombinedFieldQuery evaluates the same way)."""
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    if field_weights is None:
        field_weights = {"title": 2.0}
    if isinstance(qtext_or_terms, str):
        qterms = analyze_query(qtext_or_terms, stem=stem)
    else:
        qterms = list(dict.fromkeys(qtext_or_terms))
    if not qterms:
        return []
    from search_engine_spark import B, K1

    body = LocalSearcher(index_dir)
    legs: list[tuple[LocalSearcher, float]] = [(body, float(body_weight))]
    for name, w in sorted(field_weights.items()):
        fdir = os.path.join(index_dir, "fields", name)
        if not os.path.isdir(fdir):
            raise FileNotFoundError(
                f"{fdir} missing — build the {name} field index first"
            )
        legs.append((LocalSearcher(fdir), float(w)))

    if isinstance(exclude, str):
        exclude = analyze_query(exclude, stem=stem)
    excl_parts = []
    for t in dict.fromkeys(exclude or []):
        for fs, _w in legs:
            if t in fs._df:
                excl_parts.append(fs._postings(t)[0])
    excl = (np.unique(np.concatenate(excl_parts))
            if excl_parts else None)

    n = body.n_docs
    doc_parts, contrib_parts = [], []
    n_present = 0
    for t in qterms:
        # per-field length-normalized tf, combined on the doc union
        f_docs, f_wtf = [], []
        for fs, w in legs:
            if t not in fs._df:
                continue
            # RAW tfs/doclens: BM25F saturates a combined pseudo-tf,
            # so the cached per-field idf*tfnorm contributions don't
            # apply
            d, tf, dl = fs._postings(t)
            if d.size == 0:
                continue
            bf = (1.0 - B) + B * dl.astype(np.float64) / fs.avgdl
            f_docs.append(d)
            f_wtf.append(w * tf.astype(np.float64) / bf)
        if not f_docs:
            if mode == "and":
                return []
            continue
        n_present += 1
        ad = np.concatenate(f_docs)
        aw = np.concatenate(f_wtf)
        u, inv = np.unique(ad, return_inverse=True)
        wtf = np.zeros(u.size, dtype=np.float64)
        np.add.at(wtf, inv, aw)
        df_any = u.size
        idf_t = math.log(1.0 + (n - df_any + 0.5) / (df_any + 0.5))
        doc_parts.append(u)
        contrib_parts.append(idf_t * wtf / (K1 + wtf))
    if not doc_parts:
        return []
    all_docs = np.concatenate(doc_parts)
    all_contrib = np.concatenate(contrib_parts)
    u_docs, inv = np.unique(all_docs, return_inverse=True)
    scores = np.zeros(u_docs.size, dtype=np.float64)
    np.add.at(scores, inv, all_contrib)
    counts = np.bincount(inv, minlength=u_docs.size)
    m = np.ones(u_docs.size, dtype=bool)
    if excl is not None:
        m &= ~body._in_sorted(excl, u_docs)
    if mode == "and":
        m &= counts == n_present
    u_docs, scores = u_docs[m], scores[m]
    if not u_docs.size:
        return []
    order = np.lexsort((u_docs, -scores))[:k]
    return [(int(u_docs[i]), float(scores[i])) for i in order]


def search_bm25f_distributed(
    spark,
    index_dir: str,
    qtext_or_terms,
    *,
    k: int = 10,
    stem: bool = True,
    mode: str = "or",
    field_weights: dict[str, float] | None = None,
    body_weight: float = 1.0,
    exclude=None,
    offset: int = 0,
):
    """Distributed twin of search_bm25f — the same pinned BM25F math
    as a DataFrame plan over the per-field IndexReaders: per-field
    bucket-pruned decode → w_f·tf/B_f → one groupBy(term, doc_id)
    combine into the shared pseudo-tf → broadcast df_any → codegen
    saturation + idf → groupBy(doc_id) top-k. Property-tested ≡ local
    in tests/test_multifield.py."""
    from pyspark.sql import functions as F

    from search_engine_spark import B, K1
    from search_engine_spark.plans.index_query import IndexReader

    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    if field_weights is None:
        field_weights = {"title": 2.0}
    if isinstance(qtext_or_terms, str):
        qterms = analyze_query(qtext_or_terms, stem=stem)
    else:
        qterms = list(dict.fromkeys(qtext_or_terms))
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not qterms:
        return empty
    if isinstance(exclude, str):
        exclude = analyze_query(exclude, stem=stem)

    body = IndexReader(spark, index_dir)
    legs = [(body, float(body_weight))]
    for name, w in sorted(field_weights.items()):
        legs.append(
            (IndexReader(spark, os.path.join(index_dir, "fields", name)),
             float(w))
        )

    def _leg_decoded(rd: IndexReader, terms: list[str]):
        rows = rd.lookup_terms(terms)
        found = [t for t in terms if t in {r.term for r in rows}]
        if not found:
            return None
        buckets = sorted({r.bucket for r in rows})
        return rd.decoded_postings(found, buckets)

    parts = []
    for rd, w in legs:
        dec = _leg_decoded(rd, qterms)
        if dec is None:
            continue
        parts.append(
            dec.select(
                "term", "doc_id",
                (
                    F.lit(w) * F.col("tf").cast("double")
                    / (F.lit(1.0 - B)
                       + F.lit(B) * F.col("doclen").cast("double")
                       / F.lit(rd.avgdl))
                ).alias("wtf_part"),
            )
        )
    if not parts:
        return empty
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    pseudo = union.groupBy("term", "doc_id").agg(
        F.sum("wtf_part").alias("wtf")
    )
    present = [r.term for r in pseudo.select("term").distinct().collect()]
    if mode == "and" and set(qterms) - set(present):
        return empty
    n_present = len(present)
    n_docs = body.n_docs
    dfs = pseudo.groupBy("term").agg(F.count("*").alias("df_any"))
    scored = pseudo.join(F.broadcast(dfs), "term").withColumn(
        "partial",
        F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df_any") + F.lit(0.5))
            / (F.col("df_any") + F.lit(0.5))
        )
        * F.col("wtf") / (F.lit(K1) + F.col("wtf")),
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("partial").alias("score"),
        F.count("*").alias("n_matched"),
    )
    if mode == "and":
        agg = agg.filter(F.col("n_matched") == n_present)
    for t in dict.fromkeys(exclude or []):
        for rd, _w in legs:
            dec = _leg_decoded(rd, [t])
            if dec is not None:
                agg = agg.join(
                    dec.select("doc_id").distinct(), "doc_id", "left_anti"
                )
    ranked = agg.select("doc_id", "score")
    if offset:
        from pyspark.sql import Window

        w_ = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            ranked.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(offset + k)
            .withColumn("_rn", F.row_number().over(w_))
            .filter(F.col("_rn") > offset)
            .drop("_rn")
        )
    return ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_fielded_distributed(
    spark, index_dir: str, qtext: str, *, k: int = 10,
    stem: bool = True, offset: int = 0, restrict=None,
    static_boosts: bool = True,
):
    """Cluster twin of search_fielded — one declarative plan:
    per-clause full match sets from each field's IndexReader
    (row-group-pruned decode, the same machinery every distributed
    query rides), conjunction as doc_id equi-joins (inner), negation
    as anti-joins, restrict as a semi-join before ranking, top-k via
    TakeOrderedAndProject. Result-identical to the local path
    (property-tested in tests/test_fielded.py)."""
    from pyspark.sql import DataFrame, functions as F

    from search_engine_spark.plans.index_query import IndexReader

    clauses = parse_fielded_query(qtext, known_fields(index_dir),
                                  stem=stem)
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not clauses:
        return empty
    body_pos, body_neg, fpos, fneg = _fielded_split(clauses)

    readers: dict[str, IndexReader] = {}

    def _rd(name: str) -> IndexReader:
        if name not in readers:
            d = (index_dir if name == "body"
                 else os.path.join(index_dir, "fields", name))
            readers[name] = IndexReader(spark, d)
            if not static_boosts:
                readers[name].clear_static_boosts()
        return readers[name]

    frames = []
    if body_pos:
        f0 = _rd("body").match_scores(body_pos, stem=False, mode="and",
                                      exclude=body_neg or None)
        if f0 is None:
            return empty
        frames.append(f0)
    for fname, term, w in fpos:
        fr = _rd(fname).match_scores([term], stem=False, mode="and")
        if fr is None:
            return empty
        frames.append(
            fr.select("doc_id",
                      (F.col("score") * F.lit(float(w))).alias("score"))
        )
    if not frames:
        return empty
    agg = frames[0]
    for fr in frames[1:]:
        agg = (
            agg.join(fr.withColumnRenamed("score", "_s2"), "doc_id")
            .select("doc_id",
                    (F.col("score") + F.col("_s2")).alias("score"))
        )
    for fname, term, _w in fneg:
        nd = _rd(fname).match_scores([term], stem=False, mode="and")
        if nd is not None:
            agg = agg.join(nd.select("doc_id"), "doc_id", "left_anti")
    if not body_pos and body_neg:
        nd = _rd("body")._excluded_docs_df(list(dict.fromkeys(body_neg)))
        if nd is not None:
            agg = agg.join(nd, "doc_id", "left_anti")
    if restrict is not None:
        rdf = (restrict.select("doc_id").distinct()
               if isinstance(restrict, DataFrame)
               else spark.createDataFrame(
                   [(int(d),) for d in restrict], "doc_id long"
               ).distinct())
        agg = agg.join(rdf, "doc_id", "left_semi")
    return IndexReader._topk(agg, k, offset)


def build_title_index(
    spark,
    source,
    index_dir: str,
    *,
    n_buckets: int = 8,
    segment_size: int = 4096,
    stem: bool = True,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> dict:
    """Index the title field under <index_dir>/fields/title (titles
    are tiny — a handful of tokens per doc — so segment/salt tuning
    is irrelevant; the format is the ordinary index format)."""
    return build_index(
        spark, source, os.path.join(index_dir, TITLE_DIR),
        n_buckets=n_buckets, segment_size=segment_size, stem=stem,
        id_col=id_col, html_col=html_col, field="title",
    )


def extend_title_index(
    spark,
    new_source,
    index_dir: str,
    *,
    segment_size: int = 4096,
    stem: bool = True,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> dict:
    """Extend the title field with the SAME new docs the body extend
    just ingested (ids already offset by the caller) — fields/title is
    an ordinary index, so this is extend_index with the title
    analyzer. Converges to a fresh two-index build over the union
    (tests/test_multifield.py)."""
    from search_engine_spark.plans.build_index import extend_index

    tdir = os.path.join(index_dir, TITLE_DIR)
    if not os.path.isdir(tdir):
        raise FileNotFoundError(
            f"{tdir} missing — extending a title index requires one "
            "(full build with --title-index first)"
        )
    return extend_index(
        spark, new_source, tdir,
        segment_size=segment_size, stem=stem,
        id_col=id_col, html_col=html_col, field="title",
    )


def build_anchor_index(
    spark,
    pages,
    index_dir: str,
    *,
    n_buckets: int = 8,
    segment_size: int = 4096,
    stem: bool = True,
    max_anchors_per_doc: int = 1024,
    urlmap=None,
) -> dict:
    """Index inbound ANCHOR TEXT under <index_dir>/fields/anchor —
    the third classic web-ranking field (body, title, anchor).

    pages is the raw pages table (url, warc_ts, html, ...); targets
    resolve through the BODY index's urlmap, so the body index must be
    built first (pages input → urlmap exists). The pipeline is
    extract_anchor_texts (operators/graph.py: codegen regex + one
    urlmap equi-join + capped per-target concat) feeding the ordinary
    index builder over a (doc_id, text) source — fields/anchor is a
    full index (fsck, stats, merge all work on it unchanged).

    Rebuilt per crawl snapshot, not extended: anchor text is a GLOBAL
    property of the graph (new pages add anchors to OLD docs), so the
    batch rebuild is the correct cadence — the standard approach for
    anchor fields in batch web indexing. doc_ids are shared with the
    body index by construction (urlmap resolution), so MultiFieldSearcher
    / the distributed twin join per-field scores with no id mapping."""
    import os as _os

    from search_engine_spark.operators.dedup import latest_snapshot
    from search_engine_spark.operators.graph import extract_anchor_texts

    if urlmap is None:
        urlmap_dir = _os.path.join(index_dir, "urlmap")
        if not _os.path.isdir(urlmap_dir):
            raise FileNotFoundError(
                f"{urlmap_dir} missing — build the body index from "
                "pages input first (it writes the urlmap the anchor "
                "resolution needs), or pass urlmap="
            )
        urlmap = spark.read.parquet(urlmap_dir)
    anchors = extract_anchor_texts(
        latest_snapshot(pages, "url", "warc_ts"), urlmap,
        max_anchors_per_doc=max_anchors_per_doc,
    )
    return build_index(
        spark, anchors, _os.path.join(index_dir, "fields", "anchor"),
        n_buckets=n_buckets, segment_size=segment_size, stem=stem,
        id_col="doc_id", text_col="text",
    )


def multifield_search_distributed(
    spark,
    index_dir: str,
    qtext_or_terms,
    *,
    k: int = 10,
    title_weight: float = 2.0,
    stem: bool = True,
    mode: str = "and",
    exclude=None,
    offset: int = 0,
    field_weights: dict[str, float] | None = None,
):
    """Cluster-scale twin of MultiFieldSearcher.search — the same
    weighted two-field score as ONE Spark job (property-tested
    result-identical in tests/test_multifield.py).

    Plan: the body IndexReader's full match set (bucket-pruned scan,
    decode, AND/OR group filter, NOT anti-join) LEFT-joins the title
    field's per-doc BM25 sum (its own pruned scan over the SAME query
    terms, scored against the title index's own df/n_docs/avgdl);
    score = body + w * coalesce(title, 0); TakeOrderedAndProject
    top-k. Both scans touch only the query terms' buckets/row groups;
    the join keys on doc_id over df-bounded sides — never all-pairs.
    Title-only matches are excluded by the left join, matching the
    local searcher's body-drives-candidates semantics."""
    import os as _os

    from pyspark.sql import functions as F

    from search_engine_spark import B as _B, K1 as _K1
    from search_engine_spark.plans.index_query import IndexReader

    if field_weights is None:
        field_weights = {"title": float(title_weight)}
    for name in field_weights:
        fdir = _os.path.join(index_dir, "fields", name)
        if not _os.path.isdir(fdir):
            raise FileNotFoundError(
                f"{fdir} missing — build the fields/{name} index first"
            )
    if isinstance(qtext_or_terms, str):
        qterms = analyze_query(qtext_or_terms, stem=stem)
    else:
        qterms = list(dict.fromkeys(qtext_or_terms))
    body = IndexReader(spark, index_dir)
    empty = spark.createDataFrame([], "doc_id long, score double")
    body_agg = body.match_scores(qterms, stem=stem, mode=mode,
                                 exclude=exclude)
    if body_agg is None:
        return empty

    import math as _math

    for name, w in field_weights.items():
        if w == 0.0:
            continue
        fld = IndexReader(spark, _os.path.join(index_dir, "fields", name))
        trows = fld.lookup_terms(qterms)
        if not trows:
            continue
        tterms = sorted({r.term for r in trows})
        tbuckets = sorted({r.bucket for r in trows})
        tidf = spark.createDataFrame(
            [
                (r.term,
                 _math.log(1.0 + (fld.n_docs - r.df + 0.5) / (r.df + 0.5)))
                for r in trows
            ],
            "term string, idf double",
        )
        tscore = (
            fld.decoded_postings(tterms, tbuckets)
            .join(F.broadcast(tidf), "term")
            .withColumn(
                "partial",
                F.col("idf")
                * (
                    F.col("tf").cast("double") * F.lit(_K1 + 1.0)
                    / (
                        F.col("tf").cast("double")
                        + F.lit(_K1)
                        * (
                            F.lit(1.0 - _B)
                            + F.lit(_B) * F.col("doclen").cast("double")
                            / F.lit(fld.avgdl)
                        )
                    )
                ),
            )
            .groupBy("doc_id")
            .agg(F.sum("partial").alias("_fscore"))
        )
        body_agg = (
            body_agg.join(tscore, "doc_id", "left")
            .withColumn(
                "score",
                F.col("score")
                + F.lit(float(w))
                * F.coalesce(F.col("_fscore"), F.lit(0.0)),
            )
            .select("doc_id", "score")
        )
    return IndexReader._topk(body_agg, k, offset)


class MultiFieldSearcher:
    """Serving-side weighted multi-field ranking over per-field
    LocalSearchers (body = the main index, plus any set of
    ``fields/<name>`` indexes — title, anchor, ...).

    field_weights generalizes the original body+title pair to the full
    web-ranking field set (body, title, anchor — BM25F's canonical
    trio, scored here most-fields-style): score(q, d) =
    BM25_body(q, d) + sum over fields f of w_f * BM25_f(q, d), each
    field against its own collection stats. The iterative-deepening
    exactness argument is unchanged — the per-field boost bound is the
    SUM of each field's bound."""

    def __init__(self, index_dir: str, *, title_weight: float = 2.0,
                 field_weights: dict[str, float] | None = None):
        if field_weights is None:
            field_weights = {"title": float(title_weight)}
        self.fields: dict[str, tuple[LocalSearcher, float]] = {}
        for name, w in field_weights.items():
            fdir = os.path.join(index_dir, "fields", name)
            if not os.path.isdir(fdir):
                hint = ("build_index.py --title-index (pages input)"
                        if name == "title"
                        else "index_admin.py build-anchor"
                        if name == "anchor"
                        else f"a fields/{name} build")
                raise FileNotFoundError(
                    f"{fdir} missing — build it with {hint}"
                )
            self.fields[name] = (LocalSearcher(fdir), float(w))
        self.body = LocalSearcher(index_dir)
        # back-compat aliases (original body+title API)
        self.title = (self.fields["title"][0]
                      if "title" in self.fields else None)
        self.w = (self.fields["title"][1]
                  if "title" in self.fields else 0.0)

    def _fields_bound(self, qterms) -> float:
        """Upper bound on the total field boost any single doc can
        collect: sum over fields of w_f * sum over that field's terms
        of idf * max segment max_tfnorm (0 floor handles w < 0)."""
        bound = 0.0
        for fs, w in self.fields.values():
            for t in qterms:
                if t in fs._df:
                    segs = fs._segments(t)
                    if len(segs):
                        bound += max(
                            0.0,
                            w * fs._idf(t) * float(segs.max_tfnorm.max()),
                        )
        return bound

    # original name kept for callers/tests of the two-field shape
    _title_bound = _fields_bound

    def _rescore(self, cands, qterms, k):
        docs = np.fromiter((d for d, _ in cands), dtype=np.int64,
                           count=len(cands))
        scores = np.fromiter((s for _, s in cands), dtype=np.float64,
                             count=len(cands))
        order = np.argsort(docs)
        docs, scores = docs[order], scores[order]
        for fs, w in self.fields.values():
            for t in qterms:
                if t in fs._df:
                    od, oc = fs._load_full(t, fs._idf(t))
                    if od.size == 0:
                        continue
                    pos = np.searchsorted(docs, od)
                    pos_c = np.minimum(pos, docs.size - 1)
                    hit = docs[pos_c] == od
                    scores[pos_c[hit]] += w * oc[hit]
        order_k = np.lexsort((docs, -scores))[:k]
        return [(int(docs[i]), float(scores[i])) for i in order_k]

    def search(self, qtext_or_terms, *, k: int = 10, stem: bool = True,
               mode: str = "and", exclude=None) -> list[tuple[int, float]]:
        """Top-k (doc_id, score) by the weighted two-field score,
        tie-break doc_id asc. Body drives candidates; title re-ranks;
        iterative deepening keeps it exact without always scoring the
        full body match set (module docstring)."""
        if isinstance(qtext_or_terms, str):
            qterms = analyze_query(qtext_or_terms, stem=stem)
        else:
            qterms = list(dict.fromkeys(qtext_or_terms))
        bound = self._fields_bound(qterms)
        m = max(4 * k, 32)
        while True:
            cands = self.body.search(qterms, k=m, stem=stem,
                                     mode=mode, exclude=exclude)
            if not cands:
                return []
            ranked = self._rescore(cands, qterms, k)
            if len(cands) < m:
                return ranked  # body match set exhausted: exact
            kth = ranked[k - 1][1] if len(ranked) >= k else -np.inf
            # strict '<': an unfetched doc reaching exactly kth could
            # still win its tie on doc_id
            if cands[-1][1] + bound < kth:
                return ranked
            m *= 4
