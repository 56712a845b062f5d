"""LocalSearcher's segment table and its one postings decoder.

Every local scorer decodes through LocalSearcher._postings (tombstone
-masked, doc-sorted). These tests pin it against an independent decode
read straight from parquet, pin the LM-Dirichlet AND rule for a query
term whose postings are all tombstoned in one federated sub-index, pin
that mixed phrase queries drop the searcher's tombstones even through a
phraser opened before them, and pin that LM-Dirichlet rankings ignore
static boosts."""

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from search_engine_spark.functions.codec import decode_postings, decode_varints
from search_engine_spark.plans import phraseq
from search_engine_spark.plans.build_index import build_index
from search_engine_spark.plans.deletes import delete_docs, mask_deleted
from search_engine_spark.plans.federate import FederatedSearcher
from search_engine_spark.plans.positions import PhraseSearcher, build_positions
from search_engine_spark.plans.wand import LocalSearcher

SOLO_DOCS = [5, 17, 23]  # the only docs holding "solo"


def _corpus_pdf(n=300):
    rng = np.random.RandomState(3)
    vocab = [f"w{j}" for j in range(40)]
    p = 1.0 / np.arange(1, 41)
    p /= p.sum()
    rows = []
    for i in range(n):
        toks = list(rng.choice(vocab, size=rng.randint(3, 30), p=p))
        if i in SOLO_DOCS:
            toks.append("solo")
        if i % 25 == 0:
            toks += ["rare"] * (1 + i % 3)
        rows.append((i, " ".join(toks)))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


@pytest.fixture(scope="module")
def plain_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("segtable") / "plain")
    build_index(spark, spark.createDataFrame(_corpus_pdf()), d,
                n_buckets=4, segment_size=16, stem=False,
                salt_threshold=60, max_salts=4)
    return d


@pytest.fixture(scope="module")
def tomb_dir(spark, plain_dir):
    d = plain_dir + "_tomb"
    shutil.copytree(plain_dir, d)
    delete_docs(spark, d, SOLO_DOCS + list(range(0, 300, 7)))
    return d


def _ref_postings(index_dir, term):
    """Reference decode: the term's segment rows straight from the
    postings parquet, decoded and tombstone-masked, doc-sorted."""
    tbl = pq.read_table(os.path.join(index_dir, "postings"),
                        columns=["doc_ids", "tfs", "doclens"],
                        filters=[("term", "==", term)])
    deleted = np.unique(np.asarray(
        pq.read_table(os.path.join(index_dir, "deletes"),
                      columns=["doc_id"])["doc_id"].to_pylist(),
        dtype=np.int64,
    ))
    parts = [(np.empty(0, np.int64),) * 3]
    for db, tb, lb in zip(tbl["doc_ids"].to_pylist(), tbl["tfs"].to_pylist(),
                          tbl["doclens"].to_pylist()):
        parts.append((*decode_postings(db, tb),
                      decode_varints(lb).astype(np.int64)))
    d, t, l = mask_deleted(deleted,
                           *(np.concatenate(c) for c in zip(*parts)))
    order = np.argsort(d, kind="stable")
    return d[order], t[order], l[order]


def _same(a, b):
    return a.dtype == b.dtype and np.array_equal(a, b)


def test_decoder_matches_parquet_reference(tomb_dir):
    s = LocalSearcher(tomb_dir)
    rng = np.random.RandomState(11)
    terms = ["solo", "rare", "zzabsent"] + [
        f"w{j}" for j in rng.choice(40, size=12, replace=False)
    ]
    mu, total = 2000.0, float(s.sum_doclen)
    for _ in range(2):  # cold, then every cache warm
        for t in terms:
            rd, rt, rl = _ref_postings(tomb_dir, t)
            d, tf, dl = s._postings(t)
            assert _same(d, rd) and _same(tf, rt) and _same(dl, rl), t
            assert s.term_cf(t) == int(rt.sum()), t
            idf = s._idf(t) if t in s._df else 1.0
            ld, lc = s._load_full(t, idf)
            assert _same(ld, rd), t
            assert np.array_equal(lc, idf * s._tfnorm(rt, rl)), t
            p_t = max(int(rt.sum()), 1) / total
            md, mc = s._lmd_full(t, mu, p_t)
            assert _same(md, rd), t
            assert np.array_equal(
                mc, np.log1p(rt / (mu * p_t)) + np.log(mu / (mu + rl))
            ), t
            assert np.array_equal(phraseq._doclens(s, t, rd), rl), t
    # the fully tombstoned and the absent term decode to nothing
    assert _ref_postings(tomb_dir, "solo")[0].size == 0
    assert s._postings("solo")[0].size == 0
    assert len(s._segments("solo")) > 0
    assert len(s._segments("zzabsent")) == 0


def test_segment_table_columns(plain_dir):
    s = LocalSearcher(plain_dir)
    segs = s._segments("w0")
    assert len(segs) > 1 and np.unique(segs.salt).size > 1
    assert not segs.max_tfnorm.flags.writeable
    assert (segs.first_doc <= segs.last_doc).all()
    assert int(segs.n.sum()) == s._df["w0"]


def _fed_corpus(spark, texts):
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts,
         "url": [f"https://ex.com/{i}" for i in range(len(texts))]}
    ))


def test_federated_lmd_and_with_fully_tombstoned_term(spark, tmp_path):
    """A query term whose postings in one sub are ALL tombstoned makes
    AND unsatisfiable for that sub's docs — as in the folded index,
    where the exhaustive path serves the tombstoned reference."""
    a_txt = [("alpha " * (i % 3 + 1)) + ("beta" if i % 2 == 0 else "gamma")
             for i in range(10)]
    b_txt = ["alpha gamma"] * 10
    b_txt[4] = "alpha beta"
    a_src, b_src = _fed_corpus(spark, a_txt), _fed_corpus(spark, b_txt)
    a, b, full = (str(tmp_path / n) for n in ("a", "b", "full"))
    kw = dict(n_buckets=2, segment_size=4, stem=False)
    for d, src in ((a, a_src), (b, b_src)):
        build_index(spark, src.select("doc_id", "text"), d, **kw)
        src.select("doc_id", "url").sort("doc_id").write.parquet(
            os.path.join(d, "urlmap"))
    union = a_src.unionByName(
        b_src.withColumn("doc_id", F.col("doc_id") + F.lit(10)))
    build_index(spark, union.select("doc_id", "text"), full, **kw)
    delete_docs(spark, b, [4])
    delete_docs(spark, full, [14])

    fed, ref = FederatedSearcher([a, b]), LocalSearcher(full)
    want = ref.search_lmd("alpha beta", k=20, stem=False, mode="and")
    assert sorted(d for d, _ in want) == [0, 2, 4, 6, 8]
    for _ in range(2):  # cold, then warm (cached contribution lists)
        assert fed.search_lmd("alpha beta", k=20, stem=False,
                              mode="and") == want
    assert fed.search_lmd("alpha beta", k=20, stem=False, mode="or") == \
        ref.search_lmd("alpha beta", k=20, stem=False, mode="or")


def test_stale_phraser_after_refresh_deletes(spark, tmp_path):
    """A PhraseSearcher keeps the tombstones it was opened with. After
    the LocalSearcher's refresh_deletes, search_mixed must still drop
    the newly deleted docs and leave every survivor's score as it was
    (deletes move no statistics, and doclens come from live postings)."""
    d = str(tmp_path / "pos")
    src = spark.createDataFrame(_corpus_pdf())
    build_index(spark, src, d, n_buckets=4, segment_size=16, stem=False)
    build_positions(spark, src, d, n_buckets=4, stem=False)
    s, stale = LocalSearcher(d), PhraseSearcher(d)
    queries = ['"w0 w1"', '"w1 w0"^2', '"w0 w1" w2', '"w0 w1" -w3',
               '"w0 w2"~3', '"w0 w2"~3 w1']
    before = {q: phraseq.search_mixed(s, stale, q, k=300, stem=False)
              for q in queries}
    victims = {doc for doc, _ in before['"w0 w1"'][:4]}
    victims |= {doc for doc, _ in before['"w0 w2"~3'][:2]}
    delete_docs(spark, d, sorted(victims))
    s.refresh_deletes()
    for q in queries:
        assert before[q], q
        for _ in range(2):  # cold, then the doclen cache warm
            got = phraseq.search_mixed(s, stale, q, k=300, stem=False)
            assert got == [(doc, sc) for doc, sc in before[q]
                           if doc not in victims], q


def test_lmd_ignores_static_boosts(plain_dir, tmp_path):
    d = str(tmp_path / "boosted")
    shutil.copytree(plain_dir, d)
    rng = np.random.RandomState(5)
    ids = np.arange(0, 300, 2, dtype=np.int64)
    os.makedirs(os.path.join(d, "boosts"))
    pq.write_table(
        pa.table({"doc_id": ids, "boost": rng.rand(ids.size) * 5.0}),
        os.path.join(d, "boosts", "part-0.parquet"),
    )
    boosted, plain = LocalSearcher(d), LocalSearcher(d, load_boosts=False)
    assert boosted._boost is not None and plain._boost is None
    # the table is live: BM25 rankings move with it
    assert boosted.search("w0 w1", k=10, stem=False, mode="or") != \
        plain.search("w0 w1", k=10, stem=False, mode="or")
    for q in ["w0", "rare", "w0 w3", "w1 rare w7", "solo w0"]:
        for mode in ("and", "or"):
            for _ in range(2):  # cold pruned, then warm
                assert boosted.search_lmd(q, k=7, stem=False, mode=mode) \
                    == plain.search_lmd(q, k=7, stem=False, mode=mode), \
                    (q, mode)
    assert boosted.search_lmd("w2", k=5, stem=False, exclude="w0") == \
        plain.search_lmd("w2", k=5, stem=False, exclude="w0")
