"""Which public entry points the traced run wraps, per layer.

Serving wrappers cover the local query path and result rendering; write
wrappers cover the Spark build and index-maintenance calls the CLIs
make. Both wrap module attributes, so a function a caller imports at
call time (as the CLIs do) is traced, and so is one imported at module
load into the modules patched below.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from perfbench.spans import Recorder

TABLES = ("postings", "dictionary", "positions", "bigrams", "docstore",
          "urlmap", "docs", "stats", "deletes", "boosts", "hot_terms")


def _table_of(source) -> str:
    parts = str(source).split(os.sep)
    for p in reversed(parts):
        if p in TABLES:
            return p
    return "other"


def _count(out) -> int:
    if isinstance(out, tuple):
        out = out[0]
    return int(getattr(out, "size", 0) or len(out))


def install_serving(rec: Recorder) -> None:
    from search_engine_spark.plans import (
        bigrams, docstore, phraseq, positions, scoring, wand,
    )
    import query

    def note_table(span, args, kwargs, out):
        args[0]._pb_table = _table_of(args[1] if len(args) > 1
                                      else kwargs.get("source"))

    def note_read(span, args, kwargs, out):
        rgs = args[1] if len(args) > 1 else kwargs.get("row_groups")
        span.attrs["table"] = getattr(args[0], "_pb_table", "other")
        span.attrs["n"] = len(rgs) if isinstance(rgs, (list, tuple)) else 1
        span.attrs["rows"] = out.num_rows

    def note_decoded(span, args, kwargs, out):
        span.attrs["n"] = _count(out)

    def note_covers(span, args, kwargs, out):
        span.attrs["hit"] = bool(out)

    def note_texts(span, args, kwargs, out):
        span.attrs["rows"] = len(out)

    rec.wrap(pq.ParquetFile, "__init__", "parquet.open",
             on_result=note_table)
    rec.wrap(pq.ParquetFile, "read_row_groups", "parquet.read",
             on_result=note_read)
    rec.wrap(pq.ParquetFile, "read_row_group", "parquet.read",
             on_result=note_read)
    for mod in (wand, phraseq, positions):
        for fn in ("decode_postings", "decode_varints"):
            if hasattr(mod, fn):
                rec.wrap(mod, fn, "codec." + fn, on_result=note_decoded)
    rec.wrap(scoring, "analyze_query", "scoring.analyze_query")
    rec.wrap(wand, "analyze_query", "scoring.analyze_query")
    rec.wrap(wand.LocalSearcher, "__init__", "wand.open")
    rec.wrap(wand.LocalSearcher, "search", "wand.search")
    rec.wrap(positions.PhraseSearcher, "__init__", "positions.open")
    rec.wrap(positions.PhraseSearcher, "search_phrase",
             "positions.search_phrase")
    rec.wrap(phraseq, "search_mixed", "phraseq.search_mixed")
    rec.wrap(bigrams.BigramReader, "covers", "bigrams.covers",
             on_result=note_covers)
    rec.wrap(docstore.DocStore, "__init__", "docstore.open")
    rec.wrap(docstore.DocStore, "get_texts", "docstore.get_texts",
             on_result=note_texts)
    rec.wrap(docstore, "snippet", "docstore.snippet")
    rec.wrap(query, "_url_lookup", "query.url_lookup")


def install_writes(rec: Recorder) -> None:
    from search_engine_spark import session
    from search_engine_spark.plans import (
        bigrams, build_index, deletes, docstore, merge, positions, publish,
    )

    def with_timings(args, kwargs):
        if kwargs.get("timings") is None:
            kwargs = dict(kwargs, timings={})
        return args, kwargs

    def note_timings(span, args, kwargs, out):
        span.attrs["phases"] = dict(kwargs["timings"])

    def note_mode(span, args, kwargs, out):
        span.attrs["mode"] = kwargs.get("mode", "overwrite")

    rec.wrap(session, "get_spark", "session.get_spark")
    rec.wrap(build_index, "build_index", "build_index.build_index",
             on_call=with_timings, on_result=note_timings)
    rec.wrap(build_index, "extend_index", "build_index.extend_index")
    rec.wrap(positions, "build_positions", "positions.build_positions",
             on_result=note_mode)
    rec.wrap(bigrams, "build_bigrams", "bigrams.build_bigrams",
             on_result=note_mode)
    rec.wrap(docstore, "build_docstore", "docstore.build_docstore",
             on_result=note_mode)
    rec.wrap(deletes, "delete_docs", "deletes.delete_docs")
    rec.wrap(deletes, "compact_index", "deletes.compact_index")
    rec.wrap(merge, "merge_into", "merge.merge_into")
    rec.wrap(publish, "begin_generation", "publish.begin_generation")
    rec.wrap(publish.GenerationTxn, "commit", "publish.commit")
