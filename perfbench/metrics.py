"""Per-layer figures derived from the traced run's spans."""

from __future__ import annotations

import inspect
import statistics

from perfbench import serve, sparkrt
from perfbench.spans import Recorder, self_time


def workload_properties(loop: serve.Loop,
                        top100: list[str]) -> dict[str, float]:
    """The property each serve workload is chosen for, measured: its
    distinct terms against the searcher's cache, and the share of its
    queries touching the 100 highest-df terms."""
    from search_engine_spark.plans.scoring import analyze_query
    from search_engine_spark.plans.wand import LocalSearcher

    cache_terms = inspect.signature(LocalSearcher).parameters[
        "cache_terms"].default
    terms: set[str] = set()
    top = set(top100)
    touching = 0
    for q in loop.queries:
        qt = analyze_query(q.text.replace('"', " "))
        terms.update(qt)
        touching += bool(top.intersection(qt))
    return {
        "serve.distinct_terms": float(len(terms)),
        "serve.distinct_terms_over_cache": len(terms) / cache_terms,
        "serve.top100_query_frac": touching / max(len(loop.queries), 1),
    }


def serving_layers(rec: Recorder) -> dict[str, float]:
    S = rec.spans
    kids = rec.children()

    def sub(i):
        out, todo = [], list(kids.get(i, ()))
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(kids.get(j, ()))
        return out

    def med_ms(xs):
        return statistics.median(xs) * 1e3 if xs else 0.0

    def p99_ms(xs):
        return serve.pct(xs, 99) * 1e3 if xs else 0.0

    queries = [i for i, s in enumerate(S) if s.name == "bench.query"]
    pages = [i for i, s in enumerate(S) if s.name == "bench.page"]
    op_of = {"bow": "wand.search", "phrase": "positions.search_phrase",
             "mixed": "phraseq.search_mixed"}
    op_durs: dict[str, list[float]] = {v: [] for v in op_of.values()}
    wand_self = []
    dec_calls = dec_n = 0
    dec_s = read_s = 0.0
    rgs: dict[str, int] = {t: 0 for t in ("postings", "dictionary",
                                          "positions", "bigrams")}
    n_bow = served = 0
    q_gap = {}
    for i in queries:
        kind = S[i].attrs["kind"]
        top = [j for j in kids.get(i, ()) if S[j].name == op_of[kind]]
        inner = sub(i)
        decodes = [S[j] for j in inner if S[j].name.startswith("codec.")]
        reads = [S[j] for j in inner if S[j].name == "parquet.read"]
        dec_calls += len(decodes)
        dec_n += sum(s.attrs.get("n", 0) for s in decodes)
        dec_s += sum(s.dur for s in decodes)
        read_s += sum(s.dur for s in reads)
        for s in reads:
            if s.attrs["table"] in rgs:
                rgs[s.attrs["table"]] += s.attrs["n"]
        if top:
            op_durs[op_of[kind]].append(S[top[0]].dur)
            q_gap[S[i].req] = S[i].dur - S[top[0]].dur
        if kind == "bow":
            n_bow += 1
            served += not decodes and not any(
                s.attrs["table"] in ("postings", "dictionary") for s in reads)
            if top:
                wand_self.append(self_time(rec, top[0], kids,
                                           ("codec.", "parquet.")))
    nq = max(len(queries), 1)
    texts_d, texts_rg, rows_read, rows_used = [], 0, 0, 0
    page_read_s = 0.0
    snip_s, url_s, page_gap = [], [], []
    for i in pages:
        direct = kids.get(i, ())
        covered = 0.0
        snip = 0.0
        for j in direct:
            s = S[j]
            covered += s.dur
            page_read_s += sum(S[k].dur for k in sub(j)
                               if S[k].name == "parquet.read")
            if s.name == "docstore.get_texts":
                texts_d.append(s.dur)
                rows_used += s.attrs["rows"]
                for k in sub(j):
                    if S[k].name == "parquet.read":
                        texts_rg += S[k].attrs["n"]
                        rows_read += S[k].attrs["rows"]
            elif s.name == "docstore.snippet":
                snip += s.dur
            elif s.name == "query.url_lookup":
                url_s.append(s.dur)
        snip_s.append(snip)
        page_gap.append(S[i].dur - covered + q_gap.get(S[i].req, 0.0))
    covers = rec.named("bigrams.covers")
    out = {
        "scoring.analyze_query_us": statistics.median(
            s.dur for s in rec.named("scoring.analyze_query")) * 1e6,
        "wand.open_ms": med_ms([s.dur for s in rec.named("wand.open")]),
        "positions.open_ms": med_ms(
            [s.dur for s in rec.named("positions.open")]),
        "docstore.open_ms": med_ms(
            [s.dur for s in rec.named("docstore.open")]),
        "wand.search_p50_ms": med_ms(op_durs["wand.search"]),
        "wand.search_p99_ms": p99_ms(op_durs["wand.search"]),
        "wand.search_self_ms": med_ms(wand_self),
        "wand.cache_served_frac": served / max(n_bow, 1),
        "codec.decode_calls_per_query": dec_calls / nq,
        "codec.decoded_postings_per_query": dec_n / nq,
        "codec.decode_ms_per_query": dec_s * 1e3 / nq,
        "parquet.query_read_ms_per_query": read_s * 1e3 / nq,
        "parquet.read_ms_per_query": (read_s + page_read_s) * 1e3 / nq,
        "positions.search_phrase_p50_ms": med_ms(
            op_durs["positions.search_phrase"]),
        "positions.search_phrase_p99_ms": p99_ms(
            op_durs["positions.search_phrase"]),
        "phraseq.search_mixed_p50_ms": med_ms(
            op_durs["phraseq.search_mixed"]),
        "phraseq.search_mixed_p99_ms": p99_ms(
            op_durs["phraseq.search_mixed"]),
        "bigrams.covered_frac": (sum(s.attrs["hit"] for s in covers)
                                 / max(len(covers), 1)),
        "docstore.get_texts_p50_ms": med_ms(texts_d),
        "docstore.get_texts_p99_ms": p99_ms(texts_d),
        "docstore.row_groups_read_per_call": texts_rg / max(len(texts_d), 1),
        "docstore.rows_useful_frac": rows_used / max(rows_read, 1),
        "docstore.snippet_ms_per_page": med_ms(snip_s),
        "query.url_lookup_ms": med_ms(url_s),
        "page.unattributed_ms": med_ms(page_gap),
        "query.unattributed_ms": med_ms(list(q_gap.values())),
    }
    for t, n in rgs.items():
        out[f"parquet.{t}.row_groups_per_query"] = n / nq
    return out


def write_layers(rec: Recorder, event_dir: str | None) -> dict[str, float]:
    """Per-layer figures of the write path (refresh, traced run)."""
    S = rec.spans
    kids = rec.children()
    out: dict[str, float] = {}
    clis = {s.name[4:]: i for i, s in enumerate(S)
            if s.name.startswith("cli.")}

    def under(i, name, **attrs):
        return [S[j] for j in kids.get(i, ()) if S[j].name == name
                and all(S[j].attrs.get(k) == v for k, v in attrs.items())]

    def dur(spans):
        return sum(s.dur for s in spans)

    starts = rec.named("session.get_spark")
    out["session.start_s"] = starts[0].dur if starts else 0.0
    if "build" in clis:
        b = clis["build"]
        bi = under(b, "build_index.build_index")
        phases = bi[0].attrs.get("phases", {}) if bi else {}
        for k in ("stage_a_flat_s", "stage_a_stats_s", "stage_b_segments_s"):
            out[f"build_index.{k}"] = float(phases.get(k, 0.0))
        out["build_index.unattributed_s"] = dur(bi) - sum(
            float(v) for v in phases.values())
        parts = {
            "positions.build_s": under(b, "positions.build_positions"),
            "bigrams.build_s": under(b, "bigrams.build_bigrams"),
            "docstore.build_s": under(b, "docstore.build_docstore"),
        }
        for k, v in parts.items():
            out[k] = dur(v)
    if "extend" in clis:
        e = clis["extend"]
        out["build_index.extend_s"] = dur(under(e, "build_index.extend_index"))
        for layer, name in (("positions", "positions.build_positions"),
                            ("bigrams", "bigrams.build_bigrams"),
                            ("docstore", "docstore.build_docstore")):
            out[f"{layer}.extend_s"] = dur(under(e, name, mode="append"))
    if "delete" in clis:
        out["deletes.delete_docs_s"] = dur(
            under(clis["delete"], "deletes.delete_docs"))
    if "merge_into" in clis:
        out["merge.merge_into_s"] = dur(
            under(clis["merge_into"], "merge.merge_into"))
    if "compact" in clis:
        out["deletes.compact_s"] = dur(
            under(clis["compact"], "deletes.compact_index"))
    for op, i in clis.items():  # CLI wall not covered by traced calls
        out[f"cli.{op}.unattributed_s"] = S[i].dur - dur(
            S[j] for j in kids.get(i, ()))
    out["publish.clone_s"] = dur(rec.named("publish.begin_generation"))
    out["publish.commit_s"] = dur(rec.named("publish.commit"))
    if event_dir is not None:
        calls = [(S[i].name[4:], S[i].wall0, S[i].wall0 + S[i].dur)
                 for i in clis.values()]
        for call, c in sparkrt.spark_counters(event_dir, calls).items():
            for k, v in c.items():
                out[f"spark.{call}.{k}"] = float(v)
    return out
