"""One statistics path for the lexical rankers (operators/ranking.py).

Every ranker reads its statistics from ``index_stats``; whether it is handed
the raw documents, a prebuilt postings index or the precomputed statistics,
the rows must be identical. The BM25 + Dirichlet-QL + RRF battery must also
run under ANSI arithmetic on degenerate indexes: an empty one (no rows) and
a one-document one (ranks computable by hand).
"""

from __future__ import annotations

import pytest

from raptor_rag_spark.functions.sqlgen import ln_py
from raptor_rag_spark.operators import ranking as R

pytestmark = pytest.mark.spark

# "the" is in every document, so max_df_ratio=(9, 10) drops it; "zeta" is
# in no document (out of vocabulary)
DOCS = [
    (1, "the alpha beta the gamma"),
    (2, "the beta beta delta"),
    (3, "the gamma gamma gamma alpha epsilon"),
    (4, "the delta epsilon the the"),
    (5, "the alpha alpha beta delta gamma"),
    (6, "the"),
    (7, "the epsilon beta"),
]
QUERIES = [(0, "the alpha"), (1, "beta zeta"), (2, "gamma delta the"), (3, "zeta")]


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    postings = R.bm25_index(docs).localCheckpoint(eager=True)
    return docs, queries, postings, R.index_stats(postings)


@pytest.mark.parametrize(
    "ranker, kwargs",
    [
        (R.bm25_rank, dict(top_k=3, max_df_ratio=(9, 10))),
        (R.maxscore_rank, dict(top_k=2)),
        (R.ql_rank, dict(top_k=3)),
        (R.rm3_rank, dict(top_k=3, fb_docs=2, fb_terms=3)),
    ],
    ids=["bm25_rank", "maxscore_rank", "ql_rank", "rm3_rank"],
)
def test_query_rankers_shared_equals_unshared(corpus, ranker, kwargs):
    docs, queries, postings, shared = corpus
    from_docs = sorted(map(tuple, ranker(docs, queries, **kwargs).collect()))
    from_postings = sorted(
        map(tuple, ranker(None, queries, postings=postings, **kwargs).collect())
    )
    from_shared = sorted(map(tuple, ranker(None, queries, shared=shared, **kwargs).collect()))
    assert from_docs, "the corpus must produce ranked rows"
    assert from_docs == from_postings == from_shared
    assert {r[0] for r in from_docs} <= {0, 1, 2}  # the all-OOV query ranks nothing


def test_doc_top_terms_shared_equals_unshared(corpus):
    docs, _, postings, shared = corpus
    from_docs = sorted(map(tuple, R.doc_top_terms(docs, top_k=3).collect()))
    from_postings = sorted(map(tuple, R.doc_top_terms(None, 3, postings=postings).collect()))
    from_shared = sorted(map(tuple, R.doc_top_terms(None, 3, shared=shared).collect()))
    assert len(from_docs) == 19
    assert from_docs == from_postings == from_shared


def test_index_stats_contents(corpus):
    _, _, postings, st = corpus
    assert st["postings"] is postings
    assert (st["n_docs"], st["n_long"], st["c_len"]) == (7.0, 7, 30.0)
    assert st["avgdl"] == 30.0 / 7.0
    assert sorted(map(tuple, st["dl"].collect())) == [
        (1, 5), (2, 4), (3, 6), (4, 5), (5, 6), (6, 1), (7, 3)
    ]
    terms = {r["term"]: (r["df"], r["cf"]) for r in st["terms"].collect()}
    assert terms["the"] == (7, 10)
    assert terms["gamma"] == (3, 5)
    assert "zeta" not in terms


def _battery(queries, postings, bm25_kwargs):
    st = R.index_stats(postings)
    a = R.bm25_rank(None, queries, top_k=10, shared=st, **bm25_kwargs)
    b = R.ql_rank(None, queries, top_k=10, shared=st)
    rows = {
        name: sorted(map(tuple, df.collect()))
        for name, df in (("bm25", a), ("ql", b), ("rrf", R.rrf_fuse(a, b, top_k=10)))
    }
    return st, rows


@pytest.fixture()
def ansi(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", old)


def test_battery_on_empty_index(spark, corpus, ansi):
    queries = corpus[1]
    empty = spark.createDataFrame([], "doc_id long, term string, tf long")
    st, rows = _battery(queries, empty, dict(max_df_ratio=(9, 10)))
    assert (st["n_docs"], st["n_long"], st["avgdl"], st["c_len"]) == (0.0, 0, None, None)
    assert rows == {"bm25": [], "ql": [], "rrf": []}


@pytest.mark.parametrize("bm25_kwargs", [{}, dict(max_df_ratio=(9, 10))])
def test_battery_on_one_document_index(spark, ansi, bm25_kwargs):
    docs = spark.createDataFrame([(7, "alpha beta beta gamma")], "doc_id long, text string")
    queries = spark.createDataFrame(
        [(0, "beta"), (1, "alpha zeta"), (2, "zeta")], "query_id long, qtext string"
    )
    st, rows = _battery(queries, R.bm25_index(docs), bm25_kwargs)
    assert (st["n_docs"], st["n_long"], st["avgdl"], st["c_len"]) == (1.0, 1, 4.0, 4.0)

    # N = 1, dl = avgdl = |C| = 4; beta has tf 2, alpha tf 1, zeta is OOV
    idf = ln_py((1.0 - 1 + 0.5) / (1 + 0.5) + 1.0)
    bm25 = {q: idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (4.0 / 4.0)))
            for q, tf in ((0, 2.0), (1, 1.0))}
    ql = {q: ln_py(1.0 + tf / (2000.0 * (tf / 4.0))) + ln_py(2000.0 / (4.0 + 2000.0))
          for q, tf in ((0, 2.0), (1, 1.0))}
    # every term has df = N, so max_df_ratio=(9, 10) drops them all from BM25
    want_bm25 = {} if bm25_kwargs else bm25
    assert [(q, d, k) for q, d, _, k in rows["bm25"]] == [(q, 7, 1) for q in sorted(want_bm25)]
    assert [(q, d, k) for q, d, _, k in rows["ql"]] == [(0, 7, 1), (1, 7, 1)]
    for q, _, score, _ in rows["bm25"]:
        assert score == pytest.approx(want_bm25[q], abs=1e-13)
    for q, _, score, _ in rows["ql"]:
        assert score == pytest.approx(ql[q], abs=1e-13)
    fused = (2.0 if want_bm25 else 1.0) / 61.0
    assert rows["rrf"] == [(0, 7, fused, 1), (1, 7, fused, 1)]
