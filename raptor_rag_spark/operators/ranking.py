"""Distributed BM25 full-text ranking over the document corpus.

The webtext IR surface the reference's lexical reranker
(operators/rerank.py; reference integrations score by hit-rate) stops short
of: a real inverted-index scoring pipeline, split the way a search stack
splits it:

1. ``bm25_index``: explode(words) → (doc_id, term, tf) — ONE shuffle with
   map-side combine. At 100 TB this is the index-BUILD job: persist or write
   the result once and pass it back in, so ranking never rescans the raw
   corpus.
2. ``index_stats``: the ONE statistics path of every lexical ranker — a
   dict of the checkpointed per-doc length table dl = Σtf, the checkpointed
   per-term (df, cf) table from one ``groupBy("term")``, and the corpus
   scalars N, avgdl (exact decimal mean) and |C|, observed by the job that
   checkpoints dl and used as literals. Build it once and pass it to every
   ranker of a battery via ``shared=``; a ranker given only docs or
   postings builds it itself.
3. score: the query terms join the df-filtered term table, carry their idf
   = ln((N-df+0.5)/(df+0.5)+1) and broadcast into ONE equi-join with the
   postings; per-term BM25 contribution
   idf·(tf·(k1+1))/(tf + k1·(1-b+b·dl/avgdl)); per-(query, doc) scores
   summed exactly in DECIMAL(28,15) (order-free), ranked by (score desc,
   doc_id) with a per-query top-k window.

Hot terms (stopwords) are exactly the ones idf sends to ~0 — the
``max_df_ratio`` guard drops them before the join with a pure-integer
df·den ≤ N·num comparison (same trick as the dedup family's frequency
caps), keeping the candidate row count bounded on stopword-heavy corpora.

Every float op is twin-pinned — ln is the staged ``sqlgen.append_ln``
twin, the same IEEE op sequence as the SQL side — so the DuckDB oracle
hash-matches exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import sqlgen as G

K1 = 1.2
B = 0.75


def bm25_index(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf): the inverted index. Build once; at scale, persist
    or write this and feed it to :func:`bm25_rank` via ``postings=``."""
    words = docs.select(F.col("doc_id"), G.words_col(F.col("text")).alias("ws"))
    return (
        words.select("doc_id", F.explode("ws").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def doc_top_terms(
    docs: DataFrame | None,
    top_k: int = 5,
    postings: DataFrame | None = None,
    shared: dict | None = None,
) -> DataFrame:
    """(doc_id, term, tfidf, rank): top-k characteristic terms per document
    by tf·idf with idf = ln(N/df) — distributed keyword extraction, the
    labeling pass a corpus-exploration pipeline runs after dedup/quality.
    Statistics come from :func:`index_stats` (``shared=``, else computed
    here); idf depends on df alone, so its twin ln runs once per vocabulary
    term and the oracle is hash-exact. Terms present in every document get
    idf = ln(1) = 0 exactly and rank last."""
    st = _stats(docs, postings, shared)
    idf = G.append_ln(
        st["terms"].select(
            "term", (F.lit(st["n_docs"]) / F.col("df").cast("double")).alias("idf_arg")
        ),
        "idf_arg", "idf", keep=["term"],
    )
    # no broadcast hint on idf: it is vocabulary-sized and needed for every
    # posting, so let AQE pick (auto-broadcast when small, shuffle join when
    # the vocab outgrows the threshold) instead of forcing a driver collect
    scored = st["postings"].join(idf, "term").withColumn(
        "tfidf", F.col("tf").cast("double") * F.col("idf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def doc_top_terms_sql(
    docs_sql: str = "SELECT doc_id, text FROM documents", top_k: int = 5
) -> str:
    """DuckDB twin of :func:`doc_top_terms`."""
    ws = G.words_sql("text")
    return f"""
WITH words AS (SELECT doc_id, {ws} AS ws FROM ({docs_sql})),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM words) GROUP BY doc_id, term),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM postings),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term),
m AS MATERIALIZED (
  SELECT p.doc_id, p.term, CAST(p.tf AS DOUBLE) AS tfd,
         (n.n_docs / CAST(d.df AS DOUBLE)) AS idf_arg
  FROM postings p JOIN dfreq d USING (term) CROSS JOIN nd n),
s AS (SELECT doc_id, term, tfd * {G.ln_sql('idf_arg')} AS tfidf FROM m)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM s) WHERE rank <= {top_k}
"""


def index_stats(postings: DataFrame) -> dict:
    """The statistics every lexical ranker reads, computed once from the
    postings (doc_id, term, tf) so a ranker battery (BM25 + QL + fusion + …)
    runs O(1) passes over the index instead of O(rankers × derivations):

    - ``postings``: the index itself, as given;
    - ``dl``: (doc_id, dl_l) document length Σtf, narrow-checkpointed;
    - ``terms``: (term, df, cf) document and collection frequency from ONE
      ``groupBy("term")``, narrow-checkpointed — vocabulary-sized, so
      rankers semi-join it to their query terms instead of broadcasting it;
    - ``n_docs`` (float), ``n_long`` (int), ``avgdl`` and ``c_len`` (float,
      None on an empty index): the corpus scalars, observed on the driver
      by the job that checkpoints ``dl`` (no job of their own) and spliced
      into plans as literals, so no ranker joins a 1-row frame. avgdl is
      the exact-decimal mean of dl; N counts docs with ≥1 token (empty docs
      can't match and don't dilute avgdl).

    Round-5 scaling finding: with a 1M-page index, the bm25+ql+rrf battery
    executed 12-16 full passes over the 120M-row postings when each ranker
    re-derived dl/df/stats; those fixed passes capped N→4N scaling at ~0.55
    for the ranker phase. Every ranker takes this dict via ``shared=`` and
    builds it itself when it is absent."""
    observed = Observation()
    dl = (
        postings.groupBy("doc_id")
        .agg(F.sum("tf").alias("dl_l"))
        .observe(
            observed,
            F.count(F.lit(1)).alias("n_long"),
            (
                F.sum(F.col("dl_l").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avgdl"),
            F.sum(F.col("dl_l")).cast("double").alias("c_len"),
        )
        .localCheckpoint(eager=True)
    )
    corpus = observed.get
    terms = (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .localCheckpoint(eager=True)
    )
    return {
        "postings": postings,
        "dl": dl,
        "terms": terms,
        "n_docs": float(corpus["n_long"]),
        "n_long": corpus["n_long"],
        "avgdl": corpus["avgdl"],
        "c_len": corpus["c_len"],
    }


def _stats(docs: DataFrame | None, postings: DataFrame | None, shared: dict | None) -> dict:
    """A ranker's statistics: ``shared`` when given, else :func:`index_stats`
    over ``postings`` — built from ``docs`` and checkpointed once when no
    index is passed, so the statistics and the scoring read one copy."""
    if shared is not None:
        return shared
    if postings is None:
        postings = bm25_index(docs).localCheckpoint(eager=True)
    return index_stats(postings)


def _dlit(v: float | None):
    """A corpus scalar as a DOUBLE literal (typed null on an empty index)."""
    return F.lit(v).cast("double")


def _bm25_matched(
    docs: DataFrame | None,
    queries: DataFrame,
    k1: float = K1,
    b: float = B,
    df_cap: int | None = None,
    max_df_ratio: tuple[int, int] | None = None,
    postings: DataFrame | None = None,
    shared: dict | None = None,
) -> DataFrame:
    """Shared front half of BM25 scoring: (query_id, term, doc_id, contrib)
    for every query-term posting that survives the df guards. Both
    :func:`bm25_rank` (full scoring) and :func:`maxscore_rank` (pruned
    scoring) consume this — the pruned path must produce identical top-k."""
    st = _stats(docs, postings, shared)
    terms = st["terms"]
    if df_cap is not None:
        terms = terms.where(F.col("df") <= df_cap)
    if max_df_ratio is not None:
        num, den = max_df_ratio
        terms = terms.where(
            F.col("df") * F.lit(den) <= F.lit(st["n_long"]).cast("long") * F.lit(num)
        )
    qterms = queries.select(
        "query_id", F.explode(G.words_col(F.col("qtext"))).alias("term")
    ).distinct()
    # idf depends on df alone, so it is computed on the query side: the
    # vocabulary-sized term table semi-joins the tiny query-term set, and
    # that ONE (query_id, term, idf) table broadcasts into the postings join
    idf_arg = (F.lit(st["n_docs"]) - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    ) + F.lit(1.0)
    qidf = G.append_ln(
        terms.join(F.broadcast(qterms), "term").select(
            "query_id", "term", idf_arg.alias("idf_arg")
        ),
        "idf_arg", "idf", keep=["query_id", "term"],
    )
    tfd = F.col("tf").cast("double")
    contrib = F.col("idf") * (
        (tfd * F.lit(k1 + 1.0))
        / (
            tfd
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * (F.col("dl_l").cast("double") / _dlit(st["avgdl"]))
            )
        )
    )
    return (
        st["postings"].join(F.broadcast(qidf), "term")
        .join(st["dl"], "doc_id")
        .select("query_id", "term", "doc_id", contrib.alias("contrib"))
    )


def _rank_scored(matched: DataFrame, top_k: int) -> DataFrame:
    scored = matched.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("contrib").cast("decimal(28,15)")).cast("double").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_rank(
    docs: DataFrame | None,
    queries: DataFrame,
    top_k: int = 10,
    k1: float = K1,
    b: float = B,
    df_cap: int | None = None,
    max_df_ratio: tuple[int, int] | None = None,
    postings: DataFrame | None = None,
    shared: dict | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank): BM25 top-k docs per query.

    docs: (doc_id, text); queries: (query_id, qtext). Pass a prebuilt
    (persisted) ``postings`` index to skip tokenization entirely. ``df_cap``
    drops terms with document frequency above an absolute cap;
    ``max_df_ratio=(num, den)`` is the corpus-relative form (keep terms with
    df·den ≤ N·num — pure-integer, engine-portable); e.g. (1, 2) drops terms
    appearing in more than half the corpus. ``shared`` takes the battery
    statistics from :func:`index_stats` (postings included)."""
    matched = _bm25_matched(docs, queries, k1, b, df_cap, max_df_ratio, postings, shared)
    return _rank_scored(matched, top_k)


def maxscore_rank(
    docs: DataFrame | None,
    queries: DataFrame,
    top_k: int = 10,
    k1: float = K1,
    b: float = B,
    df_cap: int | None = None,
    max_df_ratio: tuple[int, int] | None = None,
    postings: DataFrame | None = None,
    shared: dict | None = None,
) -> DataFrame:
    """BM25 top-k via MaxScore upper-bound pruning (Turtle & Flood 1995) —
    EXACT: returns bit-identical (query_id, doc_id, score, rank) to
    :func:`bm25_rank`, but only fully scores documents that can possibly
    enter the top-k. The oracle for this operator is the UNPRUNED BM25 SQL
    twin, so any lossy pruning shows up as a hash mismatch.

    How the pruning stays lossless:

    1. ub(q, t) = max posting contribution of term t — one metadata-scale
       agg over the (already query-vocabulary-bounded) matched postings.
    2. θ(q) = the ``top_k``-th largest contribution within the single
       highest-ub term's posting list. Postings are unique per (term, doc),
       so those are ``top_k`` DISTINCT docs whose final scores are each
       ≥ their own single-term contribution ≥ θ — hence the true k-th best
       final score is ≥ θ. Fewer than k postings ⇒ θ = 0 (no pruning).
    3. Terms sorted by ub ascending; the maximal prefix with inclusive
       cumulative ub < θ (strict) is non-essential. A doc matching ONLY
       non-essential terms scores ≤ Σ ub over a subset of that prefix
       < θ ≤ k-th best, and the strict inequality means it cannot even tie
       into the top-k under any tiebreak.
    4. Candidates = distinct docs with ≥1 essential-term posting (the
       highest-ub term is always essential — its inclusive cumsum includes
       itself and θ ≤ its ub); candidates are fully scored, ranked, cut.

    At 100-TB scale the win is step 4's semi-join: postings lists of
    stopword-ish low-impact terms are never aggregated per doc — the same
    lists a document-at-a-time WAND would skip. Everything is declarative:
    two windows over per-query term metadata, no driver loop, no collect.
    """
    matched = _bm25_matched(docs, queries, k1, b, df_cap, max_df_ratio, postings, shared)
    mc = matched.localCheckpoint(eager=True)
    candidates = _maxscore_candidates(mc, top_k)
    pruned = mc.join(candidates, ["query_id", "doc_id"], "left_semi")
    return _rank_scored(pruned, top_k)


def _maxscore_candidates(mc: DataFrame, top_k: int) -> DataFrame:
    """(query_id, doc_id) docs that can possibly reach the top-k — steps
    1-4 of the :func:`maxscore_rank` docstring, split out so tests can
    assert the candidate set really is smaller than the matched set."""
    ub = mc.groupBy("query_id", "term").agg(F.max("contrib").alias("ub"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("ub"), "term")
    top_term = (
        ub.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") == 1)
        .select("query_id", "term")
    )
    wt = Window.partitionBy("query_id").orderBy(F.desc("contrib"), "doc_id")
    theta = (
        mc.join(F.broadcast(top_term), ["query_id", "term"])
        .withColumn("_r", F.row_number().over(wt))
        .where(F.col("_r") == top_k)
        .select("query_id", F.col("contrib").alias("theta"))
    )
    wc = (
        Window.partitionBy("query_id")
        .orderBy("ub", "term")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    essential = (
        ub.withColumn("cum", F.sum("ub").over(wc))
        .join(F.broadcast(theta), "query_id", "left")
        .where(F.col("cum") >= F.coalesce(F.col("theta"), F.lit(0.0)))
        .select("query_id", "term")
    )
    return (
        mc.join(F.broadcast(essential), ["query_id", "term"])
        .select("query_id", "doc_id")
        .distinct()
    )


def tile_labels(
    docs: DataFrame,
    points: DataFrame,
    res: int = 2,
    top_k: int = 5,
) -> DataFrame:
    """(tile, term, n, lift, rank): top-k CHARACTERISTIC terms per map tile —
    the tile-labeling pass a tile server runs so zoomed-out views carry
    semantic captions ("what is this region about"). A term is
    characteristic when its in-tile rate beats its corpus rate:

        lift = ln( (n_tile_term / n_tile) / (n_corpus_term / n_corpus) )

    Input: docs (doc_id, text) and points (doc_id, x, y) locating each doc
    on the embedding plane.

    Scale shape: ONE postings shuffle keyed (tile, term) with map-side
    combine; corpus term counts fold out of the same postings by a second
    metadata-scale groupBy; the per-tile top-k window partitions by tile
    (≤4^res partitions, each |vocab|-bounded). ln is the sqlgen twin."""
    from pyspark.sql import Window

    n = 1 << res
    cx = F.greatest(
        F.least(F.floor(F.col("x") * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0)
    )
    cy = F.greatest(
        F.least(F.floor(F.col("y") * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0)
    )
    located = docs.join(points.select("doc_id", (cx * n + cy).alias("tile")), "doc_id")
    toks = located.select("tile", F.explode(G.words_col(F.col("text"))).alias("term"))
    tt = toks.groupBy("tile", "term").agg(F.count("*").alias("n"))
    tile_tot = tt.groupBy("tile").agg(F.sum("n").alias("n_tile"))
    corpus = tt.groupBy("term").agg(F.sum("n").alias("n_term"))
    total = corpus.agg(F.sum("n_term").alias("n_corpus"))
    arg = (F.col("n").cast("double") / F.col("n_tile").cast("double")) / (
        F.col("n_term").cast("double") / F.col("n_corpus").cast("double")
    )
    scored = (
        tt.join(F.broadcast(tile_tot), "tile")
        .join(corpus, "term")
        .join(F.broadcast(total))
        .withColumn("lift", G.ln_col(arg))
    )
    w = Window.partitionBy("tile").orderBy(F.desc("lift"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("tile", "term", F.col("n").cast("long").alias("n"), "lift", "rank")
    )


def tile_labels_sql(
    docs_sql: str, points_sql: str, res: int = 2, top_k: int = 5
) -> str:
    """DuckDB twin of :func:`tile_labels`. ``points_sql`` yields
    (doc_id, x, y)."""
    n = 1 << res
    ws = G.words_sql("text")
    cx = f"greatest(least(floor(x * {float(n)!r})::BIGINT, {n - 1}), 0)"
    cy = f"greatest(least(floor(y * {float(n)!r})::BIGINT, {n - 1}), 0)"
    return f"""
WITH pts AS (SELECT doc_id, ({cx} * {n} + {cy}) AS tile FROM ({points_sql})),
located AS (SELECT p.tile, d.text FROM ({docs_sql}) d JOIN pts p USING (doc_id)),
toks AS (SELECT tile, unnest({ws}) AS term FROM located),
tt AS (SELECT tile, term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tile, term),
tile_tot AS (SELECT tile, CAST(sum(n) AS BIGINT) AS n_tile FROM tt GROUP BY tile),
corpus AS (SELECT term, CAST(sum(n) AS BIGINT) AS n_term FROM tt GROUP BY term),
total AS (SELECT CAST(sum(n_term) AS BIGINT) AS n_corpus FROM corpus),
m AS MATERIALIZED (
  SELECT t.tile, t.term, t.n,
         ((CAST(t.n AS DOUBLE) / CAST(tt2.n_tile AS DOUBLE)) /
          (CAST(c.n_term AS DOUBLE) / CAST(x.n_corpus AS DOUBLE))) AS arg
  FROM tt t JOIN tile_tot tt2 USING (tile) JOIN corpus c USING (term) CROSS JOIN total x),
s AS (SELECT tile, term, n, {G.ln_sql('arg')} AS lift FROM m)
SELECT tile, term, n, lift, rank FROM (
  SELECT tile, term, n, lift,
         row_number() OVER (PARTITION BY tile ORDER BY lift DESC, term) AS rank
  FROM s) WHERE rank <= {top_k}
"""


def tile_exemplars(
    docs: DataFrame,
    points: DataFrame,
    res: int = 2,
) -> DataFrame:
    """(tile, doc_id, n_docs): one deterministic EXEMPLAR document per map
    tile — the page a tile server shows on hover. The pick is the min
    portable-hash of the doc id within the tile: uniformly pseudo-random
    yet reproducible across engines, partitionings and runs (no RNG state),
    the same min-hash-pick trick the sampling family uses. One groupBy."""
    n = 1 << res
    cx = F.greatest(
        F.least(F.floor(F.col("x") * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0)
    )
    cy = F.greatest(
        F.least(F.floor(F.col("y") * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0)
    )
    tiled = points.select("doc_id", (cx * n + cy).alias("tile"))
    pick = tiled.groupBy("tile").agg(
        F.min(F.struct(G.hash63_col(F.col("doc_id")).alias("h"), "doc_id")).alias("m"),
        F.count("*").cast("long").alias("n_docs"),
    )
    return pick.select("tile", F.col("m.doc_id").alias("doc_id"), "n_docs")


def tile_exemplars_sql(points_sql: str, res: int = 2) -> str:
    """DuckDB twin of :func:`tile_exemplars`."""
    n = 1 << res
    h = G.hash63_sql("doc_id")
    cx = f"greatest(least(floor(x * {float(n)!r})::BIGINT, {n - 1}), 0)"
    cy = f"greatest(least(floor(y * {float(n)!r})::BIGINT, {n - 1}), 0)"
    return f"""
WITH tiled AS (SELECT doc_id, ({cx} * {n} + {cy}) AS tile FROM ({points_sql})),
pick AS (
  SELECT tile,
         min(struct_pack(h := {h}, doc_id := doc_id)) AS m,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM tiled GROUP BY tile)
SELECT tile, (m).doc_id AS doc_id, n_docs FROM pick
"""


# ---------------------------------------------------------------- QL (Dirichlet)

MU = 2000.0


def ql_rank(
    docs: DataFrame | None,
    queries: DataFrame,
    top_k: int = 10,
    mu: float = MU,
    postings: DataFrame | None = None,
    shared: dict | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank): Dirichlet-smoothed query-likelihood
    retrieval — the second classic lexical model beside BM25 (Zhai & Lafferty
    2001), and the partner ranking :func:`rrf_fuse` hybridizes with.

        log P(q|d) = Σ_{t∈q∩V} qtf_t · ln(1 + tf_td / (μ·cf_t/|C|))
                     + |q∩V| · ln(μ / (dl_d + μ))

    the standard sparse decomposition: the first sum runs only over MATCHED
    postings (docs sharing ≥1 in-vocabulary query term — the same candidate
    set BM25 scores), and the second is a doc-only correction, so no dense
    docs × terms cross join ever materializes. Out-of-vocabulary query terms
    (cf = 0 ⇒ ln 0) are dropped from both sums, per standard practice.

    Scale shape mirrors :func:`bm25_rank`: statistics from
    :func:`index_stats` (collection frequency from its term table, |C| a
    literal), the query-term table broadcast into one postings join,
    per-(query, doc) contributions summed exactly in DECIMAL(28,15), twin ln
    throughout — the DuckDB oracle hash-matches bit-for-bit."""
    st = _stats(docs, postings, shared)
    qtf = (
        queries.select("query_id", F.explode(G.words_col(F.col("qtext"))).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("long").alias("qtf"))
    )
    # in-vocabulary query terms (cf > 0 by construction) with their
    # smoothing denominator μ·cf/|C|: the vocabulary-sized term table
    # semi-joined to the broadcast query terms, bounded by query length
    qv = st["terms"].join(F.broadcast(qtf), "term").select(
        "query_id", "term", "qtf", F.col("qtf").cast("double").alias("wt"),
        (F.lit(mu) * (F.col("cf").cast("double") / _dlit(st["c_len"]))).alias("bg_cf"),
    )
    wsum = qv.groupBy("query_id").agg(F.sum("qtf").cast("double").alias("wsum"))
    return _ql_scored(st, qv, wsum, mu, top_k)


def _ql_scored(st: dict, qw: DataFrame, wsum: DataFrame, mu: float, top_k: int) -> DataFrame:
    """Dirichlet-QL scoring shared by :func:`ql_rank` and :func:`rm3_rank`:
    Σ wt·ln(1 + tf/bg_cf) over the matched postings of the weighted query
    terms ``qw`` (query_id, term, wt, bg_cf), plus the doc-only background
    term wsum·ln(μ/(dl + μ)), ranked per query."""
    matched = G.append_ln(
        st["postings"].join(F.broadcast(qw.select("query_id", "term", "wt", "bg_cf")), "term")
        .select(
            "query_id", "doc_id", "wt",
            (F.lit(1.0) + F.col("tf").cast("double") / F.col("bg_cf")).alias("arg"),
        ),
        "arg", "ln_arg", keep=["query_id", "doc_id", "wt"],
    )
    s = matched.groupBy("query_id", "doc_id").agg(
        F.sum((F.col("wt") * F.col("ln_arg")).cast("decimal(28,15)"))
        .cast("double")
        .alias("s_match")
    )
    scored = G.append_ln(
        s.join(st["dl"], "doc_id")
        .join(F.broadcast(wsum), "query_id")
        .select(
            "query_id", "doc_id", "s_match", "wsum",
            (F.lit(mu) / (F.col("dl_l").cast("double") + F.lit(mu))).alias("bg_arg"),
        ),
        "bg_arg", "ln_bg", keep=["query_id", "doc_id", "s_match", "wsum"],
    ).withColumn("score", F.col("s_match") + F.col("wsum") * F.col("ln_bg"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score", "rank")
    )


def ql_rank_sql(
    queries_values: list[tuple[int, str]],
    docs_sql: str = "SELECT doc_id, text FROM documents",
    top_k: int = 10,
    mu: float = MU,
) -> str:
    """DuckDB twin of :func:`ql_rank`. ``queries_values`` is the literal
    (query_id, qtext) list (queries are small by definition)."""
    ws = G.words_sql("text")
    qvals = ", ".join(f"({i}, '{t}')" for i, t in queries_values)
    return f"""
WITH words AS (SELECT doc_id, {ws} AS ws FROM ({docs_sql})),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM words) GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl_l FROM words WHERE len(ws) > 0),
coll AS (SELECT CAST(sum(dl_l) AS DOUBLE) AS c_len FROM dl),
qtf AS (
  SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
  FROM (SELECT query_id, unnest({G.words_sql('qtext')}) AS term
        FROM (VALUES {qvals}) q(query_id, qtext))
  GROUP BY query_id, term),
cf AS (
  SELECT term, CAST(sum(tf) AS DOUBLE) AS cf
  FROM postings WHERE term IN (SELECT DISTINCT term FROM qtf) GROUP BY term),
qv AS (SELECT q.query_id, q.term, q.qtf, c.cf FROM qtf q JOIN cf c USING (term)),
qlen AS (SELECT query_id, CAST(sum(qtf) AS DOUBLE) AS qlen FROM qv GROUP BY query_id),
matched AS MATERIALIZED (
  SELECT q.query_id, p.doc_id, CAST(q.qtf AS DOUBLE) AS qtfd,
         (1.0 + CAST(p.tf AS DOUBLE) / ({mu!r} * (q.cf / c.c_len))) AS arg
  FROM postings p JOIN qv q USING (term) CROSS JOIN coll c),
s AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST((qtfd * {G.ln_sql('arg')}) AS DECIMAL(28,15))) AS DOUBLE) AS s_match
  FROM matched GROUP BY query_id, doc_id),
scored AS MATERIALIZED (
  SELECT s.query_id, s.doc_id, s.s_match, q.qlen,
         ({mu!r} / (CAST(l.dl_l AS DOUBLE) + {mu!r})) AS bg_arg
  FROM s JOIN dl l USING (doc_id) JOIN qlen q USING (query_id)),
fin AS (SELECT query_id, doc_id, (s_match + qlen * {G.ln_sql('bg_arg')}) AS score FROM scored)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM fin) WHERE rank <= {top_k}
"""


# ---------------------------------------------------------------- RRF fusion

RRF_K = 60.0


def rrf_fuse(a: DataFrame, b: DataFrame, top_k: int = 10, k: float = RRF_K) -> DataFrame:
    """(query_id, doc_id, score, rank): reciprocal-rank fusion of two ranked
    lists (Cormack, Clarke & Büttcher 2009) — the standard hybrid-retrieval
    combiner (lexical ⊕ lexical-LM here; lexical ⊕ vector in general):

        score(d) = Σ_systems 1 / (k + rank_system(d))      (k = 60)

    Inputs are (query_id, doc_id, ..., rank) as produced by
    :func:`bm25_rank` / :func:`ql_rank` / any kNN top-k. Fusion uses ONLY
    ranks — no score normalization problem — which is why RRF is the default
    hybrid combiner in production search stacks.

    Scale shape: one full-outer join of two already-top-k-bounded tables
    (≤ top_k rows per query per system — metadata scale regardless of corpus
    size) + one per-query window. Each side contributes one IEEE division;
    the sum is a single fixed-order addition, so the twin is hash-exact."""
    ra = a.select("query_id", "doc_id", F.col("rank").alias("rank_a"))
    rb = b.select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    fused = (
        ra.join(rb, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "score",
            F.coalesce(
                F.lit(1.0) / (F.lit(k) + F.col("rank_a").cast("double")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(k) + F.col("rank_b").cast("double")), F.lit(0.0)
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score", "rank")
    )


def rrf_fuse_sql(a_sql: str, b_sql: str, top_k: int = 10, k: float = RRF_K) -> str:
    """DuckDB twin of :func:`rrf_fuse`. ``a_sql``/``b_sql`` must yield
    (query_id, doc_id, ..., rank)."""
    return f"""
WITH ra AS MATERIALIZED (SELECT query_id, doc_id, rank AS rank_a FROM ({a_sql})),
rb AS MATERIALIZED (SELECT query_id, doc_id, rank AS rank_b FROM ({b_sql})),
fused AS (
  SELECT query_id, doc_id,
         (coalesce(1.0 / ({k!r} + CAST(rank_a AS DOUBLE)), 0.0)
          + coalesce(1.0 / ({k!r} + CAST(rank_b AS DOUBLE)), 0.0)) AS score
  FROM ra FULL OUTER JOIN rb USING (query_id, doc_id))
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM fused) WHERE rank <= {top_k}
"""


# ---------------------------------------------------------------- RM3 (PRF)

RM3_ALPHA = 0.6
RM3_FB_DOCS = 5
RM3_FB_TERMS = 10


def rm3_rank(
    docs: DataFrame | None,
    queries: DataFrame,
    top_k: int = 10,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    alpha: float = RM3_ALPHA,
    mu: float = MU,
    max_df_ratio: tuple[int, int] | None = None,
    postings: DataFrame | None = None,
    shared: dict | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank): RM3 pseudo-relevance-feedback
    retrieval (Lavrenko & Croft relevance models; Abdul-Jaleel et al. 2004)
    — the classic two-pass query-expansion pipeline:

    1. first pass: BM25 top-``fb_docs`` per query = the feedback set F;
    2. relevance model (uniform-weight RM1):
       P(t|R) = (1/|F|) · Σ_{d∈F} tf(t,d)/dl(d); keep the top-``fb_terms``
       terms by P(t|R) (ties by term);
    3. expanded query model: w(t) = α·P_mle(t|q) + (1−α)·P(t|R) over the
       union of in-vocabulary query terms and expansion terms;
    4. second pass: Dirichlet QL scoring with weights w(t) — the same sparse
       matched-postings + background decomposition as :func:`ql_rank`, with
       the total query mass Σw(t) in place of |q|.

    Scale shape: the feedback join is (queries × fb_docs) rows against the
    postings — bounded by the feedback set, not the corpus; the relevance
    model and expanded-query table are metadata-scale and broadcast into the
    second pass; the postings index is built ONCE and shared by both passes.
    All float reductions are DECIMAL(28,15) sums of deterministic IEEE ops,
    twin ln throughout — the DuckDB oracle hash-matches exactly."""
    st = _stats(docs, postings, shared)  # one index + statistics, both passes
    fb = bm25_rank(
        None, queries, top_k=fb_docs, max_df_ratio=max_df_ratio, shared=st
    ).select("query_id", "doc_id")
    nf = fb.groupBy("query_id").agg(F.count("*").alias("nf"))
    # P(t|R): every (feedback doc, term) posting contributes tf/dl
    prel_raw = (
        fb.join(st["postings"], "doc_id")
        .join(st["dl"], "doc_id")
        .withColumn(
            "c",
            (F.col("tf").cast("double") / F.col("dl_l").cast("double")).cast(
                "decimal(28,15)"
            ),
        )
        .groupBy("query_id", "term")
        .agg(F.sum("c").alias("s"))
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("prel"), "term")
    prel = (
        prel_raw.join(F.broadcast(nf), "query_id")
        .withColumn(
            "prel", F.col("s").cast("double") / F.col("nf").cast("double")
        )
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= fb_terms)
        .select("query_id", "term", "prel")
    )
    # original-query MLE over in-vocabulary terms (cf > 0), as in ql_rank
    qtf = (
        queries.select("query_id", F.explode(G.words_col(F.col("qtext"))).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("long").alias("qtf"))
    )
    qv = st["terms"].select("term").join(F.broadcast(qtf), "term")
    qlen = qv.groupBy("query_id").agg(F.sum("qtf").cast("double").alias("qlen"))
    mle = qv.join(F.broadcast(qlen), "query_id").select(
        "query_id", "term", (F.col("qtf").cast("double") / F.col("qlen")).alias("mle")
    )
    wq = (
        mle.join(prel, ["query_id", "term"], "full_outer")
        .withColumn(
            "wt",
            F.lit(alpha) * F.coalesce(F.col("mle"), F.lit(0.0))
            + F.lit(1.0 - alpha) * F.coalesce(F.col("prel"), F.lit(0.0)),
        )
        .select("query_id", "term", "wt")
        .localCheckpoint(eager=True)  # reused twice below (scoring + mass)
    )
    wsum = wq.groupBy("query_id").agg(
        F.sum(F.col("wt").cast("decimal(28,15)")).cast("double").alias("wsum")
    )
    qw = st["terms"].join(F.broadcast(wq), "term").select(
        "query_id", "term", "wt",
        (F.lit(mu) * (F.col("cf").cast("double") / _dlit(st["c_len"]))).alias("bg_cf"),
    )
    return _ql_scored(st, qw, wsum, mu, top_k)


def rm3_rank_sql(
    bm25_sql: str,
    queries_values: list[tuple[int, str]],
    docs_sql: str = "SELECT doc_id, text FROM documents",
    top_k: int = 10,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    alpha: float = RM3_ALPHA,
    mu: float = MU,
) -> str:
    """DuckDB twin of :func:`rm3_rank`. ``bm25_sql`` must be the FIRST-PASS
    twin with top_k = fb_docs (compose via :func:`bm25_rank`'s twin so both
    passes share semantics)."""
    ws = G.words_sql("text")
    qvals = ", ".join(f"({i}, '{t}')" for i, t in queries_values)
    return f"""
WITH r3_words AS (SELECT doc_id, {ws} AS ws FROM ({docs_sql})),
r3_postings AS MATERIALIZED (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM r3_words) GROUP BY doc_id, term),
r3_dl AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl_l FROM r3_postings GROUP BY doc_id),
coll AS (SELECT CAST(sum(dl_l) AS DOUBLE) AS c_len FROM r3_dl),
fb AS MATERIALIZED (SELECT query_id, doc_id FROM ({bm25_sql})),
nf AS (SELECT query_id, CAST(count(*) AS BIGINT) AS nf FROM fb GROUP BY query_id),
prel_raw AS (
  SELECT f.query_id, p.term,
         sum(CAST((CAST(p.tf AS DOUBLE) / CAST(l.dl_l AS DOUBLE)) AS DECIMAL(28,15))) AS s
  FROM fb f JOIN r3_postings p USING (doc_id) JOIN r3_dl l USING (doc_id)
  GROUP BY f.query_id, p.term),
prel AS MATERIALIZED (
  SELECT query_id, term, prel FROM (
    SELECT r.query_id, r.term,
           (CAST(r.s AS DOUBLE) / CAST(n.nf AS DOUBLE)) AS prel,
           row_number() OVER (PARTITION BY r.query_id
                              ORDER BY (CAST(r.s AS DOUBLE) / CAST(n.nf AS DOUBLE)) DESC, r.term) AS rn
    FROM prel_raw r JOIN nf n USING (query_id)) WHERE rn <= {fb_terms}),
qtf AS (
  SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
  FROM (SELECT query_id, unnest({G.words_sql('qtext')}) AS term
        FROM (VALUES {qvals}) q(query_id, qtext))
  GROUP BY query_id, term),
qv AS (SELECT * FROM qtf WHERE term IN (SELECT DISTINCT term FROM r3_postings)),
qlen AS (SELECT query_id, CAST(sum(qtf) AS DOUBLE) AS qlen FROM qv GROUP BY query_id),
mle AS (
  SELECT q.query_id, q.term, (CAST(q.qtf AS DOUBLE) / l.qlen) AS mle
  FROM qv q JOIN qlen l USING (query_id)),
wq AS MATERIALIZED (
  SELECT query_id, term,
         ({alpha!r} * coalesce(mle, 0.0) + {1.0 - alpha!r} * coalesce(prel, 0.0)) AS wt
  FROM mle FULL OUTER JOIN prel USING (query_id, term)),
wsum AS (
  SELECT query_id, CAST(sum(CAST(wt AS DECIMAL(28,15))) AS DOUBLE) AS wsum
  FROM wq GROUP BY query_id),
cf AS (
  SELECT term, CAST(sum(tf) AS DOUBLE) AS cf
  FROM r3_postings WHERE term IN (SELECT DISTINCT term FROM wq) GROUP BY term),
r3_matched AS MATERIALIZED (
  SELECT q.query_id, p.doc_id, q.wt,
         (1.0 + CAST(p.tf AS DOUBLE) / ({mu!r} * (c.cf / x.c_len))) AS arg
  FROM r3_postings p JOIN wq q USING (term) JOIN cf c USING (term) CROSS JOIN coll x),
s AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST((wt * {G.ln_sql('arg')}) AS DECIMAL(28,15))) AS DOUBLE) AS s_match
  FROM r3_matched GROUP BY query_id, doc_id),
r3_scored AS MATERIALIZED (
  SELECT s.query_id, s.doc_id, s.s_match, w.wsum,
         ({mu!r} / (CAST(l.dl_l AS DOUBLE) + {mu!r})) AS bg_arg
  FROM s JOIN r3_dl l USING (doc_id) JOIN wsum w USING (query_id)),
fin AS (SELECT query_id, doc_id, (s_match + wsum * {G.ln_sql('bg_arg')}) AS score FROM r3_scored)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM fin) WHERE rank <= {top_k}
"""


# ---------------------------------------------------------------- snippets

SNIPPET_WINDOW = 20


def snippet_extract(
    docs: DataFrame,
    queries: DataFrame,
    window: int = SNIPPET_WINDOW,
    cand: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, start, n_hits, snippet): search-result snippet
    extraction — for every document matching ≥1 query term, the
    ``window``-token span that covers the MOST DISTINCT query terms (ties:
    earliest start), rendered from the token array. The highlighting pass a
    search stack runs over its top-k page, here as a set-oriented operator
    over (query × doc) pairs.

    Candidate starts are query-term hit positions only (an optimal
    max-distinct-cover window can always be shifted left to start AT a hit),
    so per (query, doc) the work is |hits|² with |hits| bounded by query
    terms × their in-doc frequency — never |doc|². The hit self-join is
    keyed on (query_id, doc_id); snippet text is a pure list-slice of the
    SAME tokenization both engines share, so the twin is string-exact.

    Scale shape: one positional-postings scan (posexplode — the positional
    index a search engine persists anyway), broadcast query terms, one
    bounded self-join + one argmax window. At 100 TB you run this on the
    top-k candidates per query, not the corpus; semantics are identical."""
    toks = docs.select("doc_id", G.words_col(F.col("text")).alias("ws"))
    pos = toks.select("doc_id", F.posexplode("ws").alias("pos", "term"))
    qterms = queries.select(
        "query_id", F.explode(G.words_col(F.col("qtext"))).alias("term")
    ).distinct()
    hits = pos.join(F.broadcast(qterms), "term").select(
        "query_id", "doc_id", "pos", "term"
    )
    if cand is not None:
        # result-page shape: snippets only for the retrieved (query, doc)
        # pairs — at 100 TB cand is top-k-bounded, so everything downstream
        # of this semi-join is metadata scale
        hits = hits.join(
            F.broadcast(cand.select("query_id", "doc_id").distinct()),
            ["query_id", "doc_id"],
            "left_semi",
        )
    h1 = hits.select("query_id", "doc_id", F.col("pos").alias("start"))
    h2 = hits.select(
        F.col("query_id").alias("query_id2"),
        F.col("doc_id").alias("doc_id2"),
        F.col("pos").alias("pos2"),
        F.col("term").alias("term2"),
    )
    covered = (
        h1.join(
            h2,
            (F.col("query_id") == F.col("query_id2"))
            & (F.col("doc_id") == F.col("doc_id2"))
            & (F.col("pos2") >= F.col("start"))
            & (F.col("pos2") < F.col("start") + F.lit(window)),
        )
        .groupBy("query_id", "doc_id", "start")
        .agg(F.countDistinct("term2").alias("n_hits"))
    )
    w = Window.partitionBy("query_id", "doc_id").orderBy(F.desc("n_hits"), "start")
    best = (
        covered.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return best.join(toks, "doc_id").select(
        "query_id",
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.array_join(
            F.slice(F.col("ws"), F.col("start") + F.lit(1), F.lit(window)), " "
        ).alias("snippet"),
    )


def snippet_extract_sql(
    queries_values: list[tuple[int, str]],
    docs_sql: str = "SELECT doc_id, text FROM documents",
    window: int = SNIPPET_WINDOW,
    cand_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`snippet_extract`. ``cand_sql`` must yield
    (query_id, doc_id, ...)."""
    ws = G.words_sql("text")
    qvals = ", ".join(f"({i}, '{t}')" for i, t in queries_values)
    cand_filter = (
        f"WHERE EXISTS (SELECT 1 FROM ({cand_sql}) c "
        f"WHERE c.query_id = q.query_id AND c.doc_id = p.doc_id)"
        if cand_sql is not None
        else ""
    )
    return f"""
WITH toks AS MATERIALIZED (SELECT doc_id, {ws} AS ws FROM ({docs_sql})),
pos AS (
  SELECT doc_id, CAST(unnest(range(len(ws))) AS BIGINT) AS pos, unnest(ws) AS term
  FROM toks),
qterms AS (
  SELECT DISTINCT query_id, unnest({G.words_sql('qtext')}) AS term
  FROM (VALUES {qvals}) q(query_id, qtext)),
hits AS MATERIALIZED (
  SELECT q.query_id, p.doc_id, p.pos, p.term
  FROM pos p JOIN qterms q USING (term)
  {cand_filter}),
covered AS (
  SELECT h1.query_id, h1.doc_id, h1.pos AS start,
         CAST(count(DISTINCT h2.term) AS BIGINT) AS n_hits
  FROM hits h1 JOIN hits h2
    ON h1.query_id = h2.query_id AND h1.doc_id = h2.doc_id
   AND h2.pos >= h1.pos AND h2.pos < h1.pos + {window}
  GROUP BY h1.query_id, h1.doc_id, h1.pos),
best AS (
  SELECT query_id, doc_id, start, n_hits FROM (
    SELECT query_id, doc_id, start, n_hits,
           row_number() OVER (PARTITION BY query_id, doc_id
                              ORDER BY n_hits DESC, start) AS rn
    FROM covered) WHERE rn = 1)
SELECT b.query_id, b.doc_id, CAST(b.start AS BIGINT) AS start, b.n_hits,
       array_to_string(list_slice(t.ws, b.start + 1, b.start + {window}), ' ') AS snippet
FROM best b JOIN toks t USING (doc_id)
"""


# ------------------------------------------------- sequential dependence model

SDM_LT, SDM_LO, SDM_LU = 0.85, 0.1, 0.05  # Metzler & Croft (2005) defaults
SDM_WINDOW = 8


def sdm_rank(
    docs: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
    mu: float = MU,
    window: int = SDM_WINDOW,
) -> DataFrame:
    """(query_id, doc_id, score, rank): Markov-random-field sequential
    dependence retrieval (Metzler & Croft 2005) — the proximity model that
    beats bag-of-words BM25/QL on verbose web queries:

        score = λT·QL(unigrams) + λO·QL(ordered bigrams, exact adjacency)
                + λU·QL(unordered pairs within an 8-term window)

    each component Dirichlet-smoothed and sparse-decomposed exactly like
    :func:`ql_rank` (matched-gram sum + per-doc background correction), with
    bigram/window "document length" = max(dl−1, 0) and collection size
    |C₂| = Σ max(dl−1, 0). Query grams unseen in the corpus (cf = 0) drop
    from that component's sums, mirroring the OOV-unigram rule.

    Scale shape: ONE postings shuffle for unigrams; token positions are
    semi-joined to the (broadcast, query-derived) bigram vocabulary BEFORE
    the positional self-join, so the pair join touches only rows whose term
    appears in some query bigram — bounded by query vocabulary df, never by
    corpus width. Candidates = docs matching ≥1 unigram (a gram match
    implies a unigram match, so nothing is lost). Sums in DECIMAL(28,15),
    twin ln throughout → hash-exact DuckDB oracle.
    """
    words = docs.select(F.col("doc_id"), G.words_col(F.col("text")).alias("ws"))
    dl = words.select("doc_id", F.size("ws").cast("long").alias("dl_l")).where(
        F.col("dl_l") > 0
    )
    coll = dl.agg(
        F.sum("dl_l").cast("double").alias("c_len"),
        F.sum(F.greatest(F.col("dl_l") - 1, F.lit(0))).cast("double").alias("c2_len"),
    )
    postings = bm25_index(docs)

    # ---- query grams
    qws = queries.select("query_id", G.words_col(F.col("qtext")).alias("qs"))
    qtf = (
        qws.select("query_id", F.explode("qs").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("long").alias("qtf"))
    )
    qbi = (
        qws.select(
            "query_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("qs"), 1, F.greatest(F.size("qs") - 1, F.lit(0))).alias("a"),
                    F.slice(F.col("qs"), 2, F.greatest(F.size("qs") - 1, F.lit(0))).alias("b"),
                )
            ).alias("p"),
        )
        .select("query_id", F.col("p.a").alias("ta"), F.col("p.b").alias("tb"))
        .groupBy("query_id", "ta", "tb")
        .agg(F.count("*").cast("long").alias("qbf"))
    )

    # ---- unigram component (identical algebra to ql_rank)
    cf = (
        postings.join(F.broadcast(qtf.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.sum("tf").cast("double").alias("cf"))
    )
    qv = qtf.join(cf, "term")
    qlen = qv.groupBy("query_id").agg(F.sum("qtf").cast("double").alias("qlen"))
    m_t = (
        postings.join(F.broadcast(qv), "term")
        .join(F.broadcast(coll))
        .withColumn(
            "arg",
            F.lit(1.0) + F.col("tf").cast("double") / (F.lit(mu) * (F.col("cf") / F.col("c_len"))),
        )
        .withColumn("contrib", F.col("qtf").cast("double") * G.ln_col(F.col("arg")))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("contrib").cast("decimal(28,15)")).cast("double").alias("s_t"))
    )

    # ---- positional pairs restricted to the query-bigram vocabulary
    vocab = (
        qbi.select(F.col("ta").alias("term"))
        .unionByName(qbi.select(F.col("tb").alias("term")))
        .distinct()
    )
    toks = (
        words.select("doc_id", F.posexplode("ws").alias("pos", "term"))
        .join(F.broadcast(vocab), "term")
    )
    # window-lead pairing instead of a per-doc theta join: a qualifying pair
    # (i, j), j−i ≤ window−1, has ≤ window−2 vocab tokens strictly between
    # its endpoints, so over the vocab-filtered position-ordered stream the
    # partner is within lead distance window−1 — ONE per-doc sort, zero join,
    # no per-doc n² candidate blowup (measured 20 s → join-free at sf0.1)
    wl = Window.partitionBy("doc_id").orderBy("pos")
    led = toks.select(
        "doc_id",
        F.col("term").alias("a"),
        "pos",
        *[F.lead("term", d).over(wl).alias(f"b{d}") for d in range(1, window)],
        *[F.lead("pos", d).over(wl).alias(f"j{d}") for d in range(1, window)],
    )
    partners = F.array(
        *[
            F.struct(F.col(f"b{d}").alias("b"), F.col(f"j{d}").alias("j"))
            for d in range(1, window)
        ]
    )
    pairs = (
        led.select("doc_id", "a", "pos", F.explode(partners).alias("p"))
        .where(
            F.col("p.j").isNotNull()
            & ((F.col("p.j") - F.col("pos")) <= window - 1)
        )
        .select(
            "doc_id",
            "a",
            F.col("p.b").alias("b"),
            (F.col("p.j") - F.col("pos")).alias("diff"),
        )
    )
    # ob and uw are each consumed TWICE inside _component (collection mass +
    # matched sum), which without a lineage cut re-runs the whole tokenize →
    # posexplode → window-lead → explode chain FOUR times. They are gram-
    # aggregate tables (bounded by query-vocab × docs, far smaller than the
    # corpus), so an eager localCheckpoint here is a metadata-scale
    # materialization, not a corpus copy.
    ob = (
        pairs.where(F.col("diff") == 1)
        .groupBy("doc_id", F.col("a").alias("ta"), F.col("b").alias("tb"))
        .agg(F.count("*").cast("long").alias("otf"))
        .localCheckpoint(eager=True)
    )
    uw = (
        pairs.groupBy(
            "doc_id",
            F.least("a", "b").alias("ua"),
            F.greatest("a", "b").alias("ub"),
        )
        .agg(F.count("*").cast("long").alias("utf"))
        .localCheckpoint(eager=True)
    )

    def _component(grams_q, grams_d, keys, tf_col, s_name, qlen_name):
        """Sparse QL component over gram table: matched sum + query gram mass."""
        cfg = (
            grams_d.join(F.broadcast(grams_q.select(*keys).distinct()), keys)
            .groupBy(*keys)
            .agg(F.sum(tf_col).cast("double").alias("cfg"))
        )
        gv = grams_q.join(cfg, keys)
        glen = gv.groupBy("query_id").agg(F.sum("qbf").cast("double").alias(qlen_name))
        m = (
            grams_d.join(F.broadcast(gv), keys)
            .join(F.broadcast(coll))
            .withColumn(
                "arg",
                F.lit(1.0)
                + F.col(tf_col).cast("double") / (F.lit(mu) * (F.col("cfg") / F.col("c2_len"))),
            )
            .withColumn("contrib", F.col("qbf").cast("double") * G.ln_col(F.col("arg")))
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("contrib").cast("decimal(28,15)")).cast("double").alias(s_name))
        )
        return m, glen

    m_o, qlen_o = _component(qbi, ob, ["ta", "tb"], "otf", "s_o", "qlen_o")
    qbi_u = (
        qbi.select(
            "query_id",
            F.least("ta", "tb").alias("ua"),
            F.greatest("ta", "tb").alias("ub"),
            "qbf",
        )
        .groupBy("query_id", "ua", "ub")
        .agg(F.sum("qbf").cast("long").alias("qbf"))
    )
    m_u, qlen_u = _component(qbi_u, uw, ["ua", "ub"], "utf", "s_u", "qlen_u")

    # ---- combine over candidate docs (≥1 unigram match)
    dlo = F.greatest(F.col("dl_l") - 1, F.lit(0)).cast("double")
    scored = (
        m_t.join(m_o, ["query_id", "doc_id"], "left")
        .join(m_u, ["query_id", "doc_id"], "left")
        .join(dl, "doc_id")
        .join(F.broadcast(qlen), "query_id")
        .join(F.broadcast(qlen_o), "query_id", "left")
        .join(F.broadcast(qlen_u), "query_id", "left")
        .withColumn("bg_t", F.lit(mu) / (F.col("dl_l").cast("double") + F.lit(mu)))
        .withColumn("bg_g", F.lit(mu) / (dlo + F.lit(mu)))
        .withColumn(
            "score",
            F.lit(SDM_LT)
            * (F.col("s_t") + F.col("qlen") * G.ln_col(F.col("bg_t")))
            + F.lit(SDM_LO)
            * (
                F.coalesce(F.col("s_o"), F.lit(0.0))
                + F.coalesce(F.col("qlen_o"), F.lit(0.0)) * G.ln_col(F.col("bg_g"))
            )
            + F.lit(SDM_LU)
            * (
                F.coalesce(F.col("s_u"), F.lit(0.0))
                + F.coalesce(F.col("qlen_u"), F.lit(0.0)) * G.ln_col(F.col("bg_g"))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score", "rank")
    )


def sdm_rank_sql(
    queries_values: list[tuple[int, str]],
    docs_sql: str = "SELECT doc_id, text FROM documents",
    top_k: int = 10,
    mu: float = MU,
    window: int = SDM_WINDOW,
) -> str:
    """DuckDB twin of :func:`sdm_rank`."""
    ws = G.words_sql("text")
    qvals = ", ".join(f"({i}, '{t}')" for i, t in queries_values)
    return f"""
WITH words AS (SELECT doc_id, {ws} AS ws FROM ({docs_sql})),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM words) GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl_l FROM words WHERE len(ws) > 0),
coll AS (SELECT CAST(sum(dl_l) AS DOUBLE) AS c_len,
                CAST(sum(greatest(dl_l - 1, 0)) AS DOUBLE) AS c2_len FROM dl),
qws AS (SELECT query_id, {G.words_sql('qtext')} AS qs
        FROM (VALUES {qvals}) q(query_id, qtext)),
qtf AS (
  SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
  FROM (SELECT query_id, unnest(qs) AS term FROM qws) GROUP BY query_id, term),
qbi AS (
  SELECT query_id, ta, tb, CAST(count(*) AS BIGINT) AS qbf FROM (
    SELECT q.query_id, q.qs[i] AS ta, q.qs[i + 1] AS tb
    FROM qws q, unnest(range(1, greatest(len(q.qs), 1))) r(i))
  GROUP BY 1, 2, 3),
cf AS (
  SELECT term, CAST(sum(tf) AS DOUBLE) AS cf
  FROM postings WHERE term IN (SELECT DISTINCT term FROM qtf) GROUP BY term),
qv AS (SELECT q.query_id, q.term, q.qtf, c.cf FROM qtf q JOIN cf c USING (term)),
qlen AS (SELECT query_id, CAST(sum(qtf) AS DOUBLE) AS qlen FROM qv GROUP BY query_id),
m_t_arg AS MATERIALIZED (
  SELECT q.query_id, p.doc_id, CAST(q.qtf AS DOUBLE) AS qtfd,
         (1.0 + CAST(p.tf AS DOUBLE) / ({mu!r} * (q.cf / c.c_len))) AS arg
  FROM postings p JOIN qv q USING (term) CROSS JOIN coll c),
m_t AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST((qtfd * {G.ln_sql('arg')}) AS DECIMAL(28,15))) AS DOUBLE) AS s_t
  FROM m_t_arg GROUP BY 1, 2),
vocab AS (SELECT DISTINCT term FROM (
  SELECT ta AS term FROM qbi UNION ALL SELECT tb AS term FROM qbi)),
toks AS (
  SELECT doc_id, i AS pos, ws[i] AS term
  FROM words, unnest(range(1, len(ws) + 1)) r(i)
  WHERE ws[i] IN (SELECT term FROM vocab)),
pairs AS (
  SELECT t1.doc_id, t1.term AS a, t2.term AS b, t2.pos - t1.pos AS diff
  FROM toks t1 JOIN toks t2
    ON t1.doc_id = t2.doc_id AND t2.pos > t1.pos AND t2.pos - t1.pos <= {window - 1}),
ob AS (
  SELECT doc_id, a AS ta, b AS tb, CAST(count(*) AS BIGINT) AS otf
  FROM pairs WHERE diff = 1 GROUP BY 1, 2, 3),
uw AS (
  SELECT doc_id, least(a, b) AS ua, greatest(a, b) AS ub, CAST(count(*) AS BIGINT) AS utf
  FROM pairs GROUP BY 1, 2, 3),
cf_o AS (
  SELECT ta, tb, CAST(sum(otf) AS DOUBLE) AS cfg
  FROM ob JOIN (SELECT DISTINCT ta, tb FROM qbi) USING (ta, tb) GROUP BY 1, 2),
gv_o AS (SELECT q.query_id, q.ta, q.tb, q.qbf, c.cfg FROM qbi q JOIN cf_o c USING (ta, tb)),
qlen_o AS (SELECT query_id, CAST(sum(qbf) AS DOUBLE) AS qlen_o FROM gv_o GROUP BY 1),
m_o_arg AS MATERIALIZED (
  SELECT g.query_id, o.doc_id, CAST(g.qbf AS DOUBLE) AS qbfd,
         (1.0 + CAST(o.otf AS DOUBLE) / ({mu!r} * (g.cfg / c.c2_len))) AS arg
  FROM ob o JOIN gv_o g USING (ta, tb) CROSS JOIN coll c),
m_o AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST((qbfd * {G.ln_sql('arg')}) AS DECIMAL(28,15))) AS DOUBLE) AS s_o
  FROM m_o_arg GROUP BY 1, 2),
qbi_u AS (
  SELECT query_id, least(ta, tb) AS ua, greatest(ta, tb) AS ub,
         CAST(sum(qbf) AS BIGINT) AS qbf
  FROM qbi GROUP BY 1, 2, 3),
cf_u AS (
  SELECT ua, ub, CAST(sum(utf) AS DOUBLE) AS cfg
  FROM uw JOIN (SELECT DISTINCT ua, ub FROM qbi_u) USING (ua, ub) GROUP BY 1, 2),
gv_u AS (SELECT q.query_id, q.ua, q.ub, q.qbf, c.cfg FROM qbi_u q JOIN cf_u c USING (ua, ub)),
qlen_u AS (SELECT query_id, CAST(sum(qbf) AS DOUBLE) AS qlen_u FROM gv_u GROUP BY 1),
m_u_arg AS MATERIALIZED (
  SELECT g.query_id, u.doc_id, CAST(g.qbf AS DOUBLE) AS qbfd,
         (1.0 + CAST(u.utf AS DOUBLE) / ({mu!r} * (g.cfg / c.c2_len))) AS arg
  FROM uw u JOIN gv_u g USING (ua, ub) CROSS JOIN coll c),
m_u AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST((qbfd * {G.ln_sql('arg')}) AS DECIMAL(28,15))) AS DOUBLE) AS s_u
  FROM m_u_arg GROUP BY 1, 2),
comb AS MATERIALIZED (
  SELECT t.query_id, t.doc_id, t.s_t,
         coalesce(o.s_o, 0.0) AS s_o, coalesce(u.s_u, 0.0) AS s_u,
         l.dl_l, q.qlen,
         coalesce(qo.qlen_o, 0.0) AS qlen_o, coalesce(qu.qlen_u, 0.0) AS qlen_u,
         ({mu!r} / (CAST(l.dl_l AS DOUBLE) + {mu!r})) AS bg_t,
         ({mu!r} / (CAST(greatest(l.dl_l - 1, 0) AS DOUBLE) + {mu!r})) AS bg_g
  FROM m_t t
  LEFT JOIN m_o o ON t.query_id = o.query_id AND t.doc_id = o.doc_id
  LEFT JOIN m_u u ON t.query_id = u.query_id AND t.doc_id = u.doc_id
  JOIN dl l ON t.doc_id = l.doc_id
  JOIN qlen q ON t.query_id = q.query_id
  LEFT JOIN qlen_o qo ON t.query_id = qo.query_id
  LEFT JOIN qlen_u qu ON t.query_id = qu.query_id),
fin AS (
  SELECT query_id, doc_id,
         ({SDM_LT!r} * (s_t + qlen * {G.ln_sql('bg_t')})
          + {SDM_LO!r} * (s_o + qlen_o * {G.ln_sql('bg_g')})
          + {SDM_LU!r} * (s_u + qlen_u * {G.ln_sql('bg_g')})) AS score
  FROM comb)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM fin) WHERE rank <= {top_k}
"""


def index_size(docs: DataFrame | None, postings: DataFrame | None = None) -> DataFrame:
    """ONE row (n_terms, n_postings, raw_bytes, varint_bytes, ratio): the
    d-gap + varint size estimate for the inverted index — the
    index-engineering number (Lucene/PISA-style compression) that decides
    how many bytes/posting the persisted search index
    (sources/searchindex.py) would pay.

    Per term the postings list is delta-encoded in doc_id order (first id
    stored raw, then gaps) and every value varint-coded: bytes(v) =
    ceil(bits(v)/7) with bits taken as length(bin(v)) — pure integer/string
    ops, identical in both engines (no float log2 whose ulp could flip a
    floor at power-of-two boundaries). tf values are varint-coded raw.
    raw_bytes = 16/posting (two int64s).

    Scale shape: ONE term-partitioned window over the postings (the same
    shuffle the index build itself pays — this IS the layout job), then a
    single global aggregate."""
    if postings is None:
        postings = bm25_index(docs)
    w = Window.partitionBy("term").orderBy("doc_id")
    gapped = postings.select(
        "term",
        "tf",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(w), F.col("doc_id")
        ).alias("gap"),
    )
    vb_gap = (F.length(F.bin(F.col("gap"))) - 1) / F.lit(7)
    vb_tf = (F.length(F.bin(F.col("tf"))) - 1) / F.lit(7)
    sized = gapped.select(
        "term",
        (F.floor(vb_gap).cast("long") + 1 + F.floor(vb_tf).cast("long") + 1).alias(
            "vbytes"
        ),
    )
    agg = sized.agg(
        F.countDistinct("term").cast("long").alias("n_terms"),
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.sum("vbytes").cast("long").alias("varint_bytes"),
    )
    return agg.select(
        "n_terms",
        "n_postings",
        (F.col("n_postings") * F.lit(16)).alias("raw_bytes"),
        "varint_bytes",
        F.round(
            F.col("varint_bytes").cast("double")
            / (F.col("n_postings") * F.lit(16)).cast("double"),
            6,
        ).alias("ratio"),
    )


def index_size_sql(docs_sql: str) -> str:
    """DuckDB twin of :func:`index_size`; ``docs_sql`` yields (doc_id, text)."""
    ws = G.words_sql("text")
    return f"""
WITH postings AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest({ws}) AS term FROM ({docs_sql}))
  GROUP BY doc_id, term),
gapped AS (
  SELECT term, tf,
         coalesce(doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id),
                  doc_id) AS gap
  FROM postings),
sized AS (
  SELECT term,
         ((length(bin(gap)) - 1) // 7 + 1 + (length(bin(tf)) - 1) // 7 + 1)
           AS vbytes
  FROM gapped),
agg AS (
  SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
         CAST(count(*) AS BIGINT) AS n_postings,
         CAST(sum(vbytes) AS BIGINT) AS varint_bytes
  FROM sized)
SELECT n_terms, n_postings, n_postings * 16 AS raw_bytes, varint_bytes,
       round(CAST(varint_bytes AS DOUBLE) / CAST(n_postings * 16 AS DOUBLE), 6)
         AS ratio
FROM agg
"""


def rbo_compare(
    run_a: DataFrame,
    run_b: DataFrame,
    p: float = 0.9,
    depth: int = 10,
) -> DataFrame:
    """Rank-biased overlap (Webber-Moffat-Zobel 2010) between two ranked
    runs — THE top-weighted ranking-similarity measure (Kendall/Spearman
    need identical item sets; RBO doesn't): truncated at ``depth``,

        RBO = (1−p) · Σ_{d=1..D} p^{d−1} · |A_d ∩ B_d| / d.

    runs: (query_id, doc_id, rank). Returns (query_id, n_common, rbo) —
    how much two engines/configurations agree per query (e.g. BM25 vs QL,
    or pre/post an index rebuild).

    Engine-exactness: the geometric weights p^{d−1} are PLAN-TIME Python
    doubles broadcast as a depth-literal table, so no runtime pow/libm is
    involved; the overlap-at-depth counts are pure integers (a matched doc
    enters every depth ≥ max(rank_a, rank_b) — one cumulative window over
    ≤ depth metadata rows per query); the final weighted sum is DECIMAL.
    """
    a = run_a.select("query_id", "doc_id", F.col("rank").alias("ra")).where(
        F.col("ra") <= depth
    )
    b = run_b.select("query_id", "doc_id", F.col("rank").alias("rb")).where(
        F.col("rb") <= depth
    )
    m = a.join(b, ["query_id", "doc_id"]).select(
        "query_id", F.greatest("ra", "rb").alias("m")
    )
    per_m = m.groupBy("query_id", "m").agg(F.count(F.lit(1)).alias("c"))
    depths = run_a.sparkSession.createDataFrame(
        [(d, (1.0 - p) * p ** (d - 1)) for d in range(1, depth + 1)],
        "d INT, wt DOUBLE",
    )
    qs = a.select("query_id").distinct()
    grid = qs.crossJoin(F.broadcast(depths))
    pm = per_m.select(F.col("query_id").alias("mq"), "m", "c")
    cum = (
        grid.join(pm, (grid["query_id"] == pm["mq"]) & (pm["m"] <= grid["d"]), "left")
        .groupBy("query_id", "d", "wt")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("x_d"))
    )
    contrib = (F.col("wt") * (F.col("x_d").cast("double") / F.col("d").cast("double")))
    scored = cum.withColumn("contrib", contrib)
    common = m.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    return (
        scored.groupBy("query_id")
        .agg(F.sum(F.col("contrib").cast("decimal(28,15)")).cast("double").alias("rbo_raw"))
        .join(common, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.round("rbo_raw", 6).alias("rbo"),
        )
    )


def rbo_compare_sql(
    run_a_sql: str, run_b_sql: str, p: float = 0.9, depth: int = 10
) -> str:
    """DuckDB twin of :func:`rbo_compare`; runs yield (query_id, doc_id,
    rank)."""
    wts = ", ".join(f"({d}, {(1.0 - p) * p ** (d - 1)!r})" for d in range(1, depth + 1))
    return f"""
WITH a AS (SELECT query_id, doc_id, rank AS ra FROM ({run_a_sql}) WHERE rank <= {depth}),
b AS (SELECT query_id, doc_id, rank AS rb FROM ({run_b_sql}) WHERE rank <= {depth}),
m AS (
  SELECT a.query_id, greatest(a.ra, b.rb) AS m
  FROM a JOIN b ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
per_m AS (SELECT query_id, m, CAST(count(*) AS BIGINT) AS c FROM m GROUP BY 1, 2),
depths(d, wt) AS (VALUES {wts}),
qs AS (SELECT DISTINCT query_id FROM a),
grid AS (SELECT query_id, d, wt FROM qs, depths),
cum AS (
  SELECT g.query_id, g.d, g.wt,
         CAST(coalesce(sum(p.c), 0) AS BIGINT) AS x_d
  FROM grid g LEFT JOIN per_m p ON g.query_id = p.query_id AND p.m <= g.d
  GROUP BY g.query_id, g.d, g.wt),
common AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_common FROM m GROUP BY 1),
scored AS (
  SELECT query_id,
         CAST(sum(CAST(wt * (CAST(x_d AS DOUBLE) / CAST(d AS DOUBLE))
                  AS DECIMAL(28,15))) AS DOUBLE) AS rbo_raw
  FROM cum GROUP BY query_id)
SELECT s.query_id, coalesce(c.n_common, 0) AS n_common, round(s.rbo_raw, 6) AS rbo
FROM scored s LEFT JOIN common c ON s.query_id = c.query_id
"""


def bm25f_rank(
    docs: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
    w_title: float = 2.0,
    w_body: float = 1.0,
    title_len: int = 8,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Simplified BM25F (Robertson-Zaragoza-Taylor 2004): FIELDED ranking
    where a term hit in the title outweighs one in the body. Fields here
    are structural: title = the first ``title_len`` tokens, body = the
    rest (the driver corpus has no markup; with real HTML the field split
    comes from the parser, the math is identical).

        tf̃(t,d)  = w_T·tf_title + w_B·tf_body          (weighted counts)
        dl̃(d)    = w_T·|title| + w_B·|body|
        score    = Σ_t idf_t · tf̃·(k1+1) / (tf̃ + k1·(1−b+b·dl̃/avgdl̃))

    — i.e. BM25 over the weighted field-combined counts, THE standard
    web-search scoring family. All weighted sums are exact (integer counts
    × plan-literal weights), idf uses the twin ln, DECIMAL score sums;
    output (query_id, doc_id, score, rank) mirrors bm25_rank."""
    ws = G.words_col(F.col("text"))
    base = docs.select("doc_id", ws.alias("ws")).select(
        "doc_id",
        F.expr(f"slice(ws, 1, {title_len})").alias("tws"),
        F.expr(f"slice(ws, {title_len + 1}, greatest(size(ws) - {title_len}, 0))").alias("bws"),
    )
    tpost = base.select("doc_id", F.explode("tws").alias("term")).groupBy(
        "doc_id", "term"
    ).agg((F.count("*") * F.lit(w_title)).alias("wtf"))
    bpost = base.select("doc_id", F.explode("bws").alias("term")).groupBy(
        "doc_id", "term"
    ).agg((F.count("*") * F.lit(w_body)).alias("wtf"))
    posts = (
        tpost.unionByName(bpost)
        .groupBy("doc_id", "term")
        .agg(F.sum(F.col("wtf").cast("decimal(28,6)")).cast("double").alias("wtf"))
    )
    dl = base.select(
        "doc_id",
        (
            F.size("tws").cast("double") * F.lit(w_title)
            + F.size("bws").cast("double") * F.lit(w_body)
        ).alias("dl_w"),
    ).where(F.col("dl_w") > 0)
    dfreq = posts.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.col("dl_w").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("avgdl"),
    )
    qterms = queries.select(
        "query_id", F.explode(G.words_col(F.col("qtext"))).alias("term")
    ).distinct()
    dfreq_q = dfreq.join(F.broadcast(qterms.select("term").distinct()), "term")
    idf_arg = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    ) + F.lit(1.0)
    matched = (
        posts.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq_q), "term")
        .join(F.broadcast(stats))
        .join(dl, "doc_id")
        .withColumn("idf_arg", idf_arg)
    )
    contrib = G.ln_col(F.col("idf_arg")) * (
        (F.col("wtf") * F.lit(k1 + 1.0))
        / (
            F.col("wtf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl_w") / F.col("avgdl")))
        )
    )
    return _rank_scored(
        matched.withColumn("contrib", contrib).select(
            "query_id", "term", "doc_id", "contrib"
        ),
        top_k,
    )


def bm25f_rank_sql(
    queries_values: list[tuple[int, str]],
    docs_sql: str = "SELECT doc_id, text FROM documents",
    top_k: int = 10,
    w_title: float = 2.0,
    w_body: float = 1.0,
    title_len: int = 8,
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB twin of :func:`bm25f_rank`."""
    from ..functions.hexgen import flit

    ws = G.words_sql("text")
    qvals = ", ".join(f"({i}, '{t}')" for i, t in queries_values)
    contrib = (
        f"{G.ln_sql('idf_arg')} * ((wtf * {flit(k1 + 1.0)}) / "
        f"(wtf + {flit(k1)} * ({flit(1.0 - b)} + {flit(b)} * (dl_w / avgdl))))"
    )
    return f"""
WITH base AS (
  SELECT doc_id, list_slice(ws, 1, {title_len}) AS tws,
         list_slice(ws, {title_len + 1}, length(ws)) AS bws
  FROM (SELECT doc_id, {ws} AS ws FROM ({docs_sql}))),
tpost AS (
  SELECT doc_id, term, count(*) * {flit(w_title)} AS wtf
  FROM (SELECT doc_id, unnest(tws) AS term FROM base) GROUP BY doc_id, term),
bpost AS (
  SELECT doc_id, term, count(*) * {flit(w_body)} AS wtf
  FROM (SELECT doc_id, unnest(bws) AS term FROM base) GROUP BY doc_id, term),
posts AS (
  SELECT doc_id, term,
         CAST(sum(CAST(wtf AS DECIMAL(28,6))) AS DOUBLE) AS wtf
  FROM (SELECT * FROM tpost UNION ALL SELECT * FROM bpost)
  GROUP BY doc_id, term),
dl AS (
  SELECT doc_id,
         CAST(length(tws) AS DOUBLE) * {flit(w_title)}
         + CAST(length(bws) AS DOUBLE) * {flit(w_body)} AS dl_w
  FROM base WHERE CAST(length(tws) AS DOUBLE) * {flit(w_title)}
                  + CAST(length(bws) AS DOUBLE) * {flit(w_body)} > 0),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM posts GROUP BY term),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(CAST(dl_w AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS avgdl
  FROM dl),
qterms AS (
  SELECT DISTINCT query_id, unnest({G.words_sql("qtext")}) AS term
  FROM (VALUES {qvals}) q(query_id, qtext)),
matched AS (
  SELECT qt.query_id, p.doc_id, p.wtf, d.dl_w, s.n_docs, s.avgdl,
         (s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0 AS idf_arg
  FROM posts p
  JOIN qterms qt ON p.term = qt.term
  JOIN dfreq f ON p.term = f.term
  JOIN dl d ON p.doc_id = d.doc_id, stats s),
scored AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST({contrib} AS DECIMAL(28,15))) AS DOUBLE) AS score
  FROM matched GROUP BY query_id, doc_id)
SELECT query_id, doc_id, score,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)
            AS INT) AS rank
FROM scored QUALIFY rank <= {top_k}
"""


def ndcg_eval(
    run: DataFrame,
    qrels: DataFrame,
    depth: int = 10,
) -> DataFrame:
    """(query_id, dcg, idcg, ndcg): normalized discounted cumulative gain
    at ``depth`` — THE graded ranking-quality metric. run: (query_id,
    doc_id, rank); qrels: (query_id, doc_id, rel) with integer gains.

    Engine-exactness: the discounts 1/log2(r+1) for r = 1..depth are
    PLAN-TIME Python doubles joined in as a broadcast literal table (no
    runtime log), gains are integers, DCG/IDCG are DECIMAL sums; the ideal
    ordering ranks by (rel desc, doc_id) — a deterministic tiebreak shared
    by both engines. Queries with zero relevant docs report ndcg 0."""
    import math

    disc = run.sparkSession.createDataFrame(
        [(r, 1.0 / math.log2(r + 1)) for r in range(1, depth + 1)],
        "r INT, disc DOUBLE",
    )
    hits = (
        run.where(F.col("rank") <= depth)
        .join(qrels, ["query_id", "doc_id"])
        .join(F.broadcast(disc), run["rank"] == disc["r"])
        .select("query_id", (F.col("rel").cast("double") * F.col("disc")).alias("g"))
    )
    dcg = hits.groupBy("query_id").agg(
        F.sum(F.col("g").cast("decimal(28,15)")).cast("double").alias("dcg")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), "doc_id")
    ideal = (
        qrels.where(F.col("rel") > 0)
        .withColumn("r", F.row_number().over(wq))
        .where(F.col("r") <= depth)
        .join(F.broadcast(disc), "r")
        .select("query_id", (F.col("rel").cast("double") * F.col("disc")).alias("g"))
    )
    idcg = ideal.groupBy("query_id").agg(
        F.sum(F.col("g").cast("decimal(28,15)")).cast("double").alias("idcg")
    )
    qs = run.select("query_id").distinct()
    return (
        qs.join(dcg, "query_id", "left")
        .join(idcg, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce("dcg", F.lit(0.0)), 6).alias("dcg"),
            F.round(F.coalesce("idcg", F.lit(0.0)), 6).alias("idcg"),
            F.round(
                F.when(
                    F.coalesce(F.col("idcg"), F.lit(0.0)) > 0,
                    F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ndcg"),
        )
    )


def ndcg_eval_sql(run_sql: str, qrels_sql: str, depth: int = 10) -> str:
    """DuckDB twin of :func:`ndcg_eval`."""
    import math

    dvals = ", ".join(
        f"({r}, {1.0 / math.log2(r + 1)!r})" for r in range(1, depth + 1)
    )
    return f"""
WITH run AS ({run_sql}),
qrels AS ({qrels_sql}),
disc(r, disc) AS (VALUES {dvals}),
hits AS (
  SELECT run.query_id, CAST(q.rel AS DOUBLE) * d.disc AS g
  FROM run JOIN qrels q ON run.query_id = q.query_id AND run.doc_id = q.doc_id
  JOIN disc d ON run.rank = d.r
  WHERE run.rank <= {depth}),
dcg AS (
  SELECT query_id, CAST(sum(CAST(g AS DECIMAL(28,15))) AS DOUBLE) AS dcg
  FROM hits GROUP BY query_id),
ideal AS (
  SELECT query_id, CAST(rel AS DOUBLE) * d.disc AS g
  FROM (
    SELECT query_id, rel,
           row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS r
    FROM qrels WHERE rel > 0) i
  JOIN disc d ON i.r = d.r
  WHERE i.r <= {depth}),
idcg AS (
  SELECT query_id, CAST(sum(CAST(g AS DECIMAL(28,15))) AS DOUBLE) AS idcg
  FROM ideal GROUP BY query_id),
qs AS (SELECT DISTINCT query_id FROM run)
SELECT qs.query_id,
       round(coalesce(dcg.dcg, 0.0), 6) AS dcg,
       round(coalesce(idcg.idcg, 0.0), 6) AS idcg,
       round(CASE WHEN coalesce(idcg.idcg, 0.0) > 0
                  THEN coalesce(dcg.dcg, 0.0) / idcg.idcg ELSE 0.0 END, 6) AS ndcg
FROM qs LEFT JOIN dcg ON qs.query_id = dcg.query_id
LEFT JOIN idcg ON qs.query_id = idcg.query_id
"""


def clarity_score(
    docs: DataFrame,
    queries: DataFrame,
    fb_docs: int = 10,
    max_df_ratio: tuple[int, int] | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """(query_id, n_fb_terms, clarity): the Cronen-Townsend query CLARITY
    score — KL divergence (nats, twin ln) between the query's relevance
    language model and the corpus model:

        clarity(q) = Σ_t P(t|R_q) · ln( P(t|R_q) / P(t|C) )

    with P(t|R) the uniform RM1 over the BM25 top-``fb_docs`` feedback set
    and P(t|C) = ctf/|C|. High clarity = the query's top documents speak a
    distinctive vocabulary (an "easy", well-focused query); clarity ≈ 0 =
    the feedback set looks like random corpus text — THE classic
    query-performance predictor, free to compute from the postings index.

    Scale shape: pass 1 is the bm25 top-k; the RM1 lives on the feedback
    docs' postings only (bounded by fb_docs × doc length per query);
    corpus term stats join in semi-restricted to those terms. DECIMAL
    contribution sums; both P's strictly positive by construction."""
    if postings is None:
        postings = bm25_index(docs)
    postings = postings.localCheckpoint(eager=False)  # pass-1 + RM1 + ctf
    top = bm25_rank(
        docs, queries, top_k=fb_docs, max_df_ratio=max_df_ratio, postings=postings
    ).select("query_id", "doc_id")
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    fb = (
        top.join(postings, "doc_id")
        .join(dl, "doc_id")
        .select(
            "query_id",
            "term",
            (F.col("tf").cast("double") / F.col("dl").cast("double")).alias("r"),
        )
    )
    nf = top.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_fb"))
    rm1 = (
        fb.groupBy("query_id", "term")
        .agg(F.sum(F.col("r").cast("decimal(28,15)")).cast("double").alias("sr"))
        .join(F.broadcast(nf), "query_id")
        .select(
            "query_id",
            "term",
            (F.col("sr") / F.col("n_fb").cast("double")).alias("p_r"),
        )
    )
    ctf = postings.groupBy("term").agg(F.sum("tf").cast("long").alias("ctf"))
    csize = postings.agg(F.sum("tf").cast("long").alias("c_tot"))
    staged = (
        rm1.join(ctf, "term")
        .crossJoin(F.broadcast(csize))
        .select(
            "query_id",
            "p_r",
            (
                F.col("p_r")
                / (F.col("ctf").cast("double") / F.col("c_tot").cast("double"))
            ).alias("ratio"),
        )
    )
    contrib = F.col("p_r") * G.ln_col(F.col("ratio"))
    return (
        staged.withColumn("contrib", contrib)
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fb_terms"),
            F.round(
                F.sum(F.col("contrib").cast("decimal(28,15)")).cast("double"), 6
            ).alias("clarity"),
        )
    )


def clarity_score_sql(
    queries_values: list[tuple[int, str]],
    docs_sql: str = "SELECT doc_id, text FROM documents",
    fb_docs: int = 10,
    bm25_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`clarity_score`. ``bm25_sql`` must be the
    matching pass-1 ranking (same df guards) truncated at ``fb_docs``."""
    ws = G.words_sql("text")
    return f"""
WITH postings AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest({ws}) AS term FROM ({docs_sql}))
  GROUP BY doc_id, term),
top AS (
  SELECT query_id, doc_id FROM ({bm25_sql}) WHERE rank <= {fb_docs}),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id),
fb AS (
  SELECT t.query_id, p.term,
         CAST(p.tf AS DOUBLE) / CAST(d.dl AS DOUBLE) AS r
  FROM top t JOIN postings p ON t.doc_id = p.doc_id
  JOIN dl d ON t.doc_id = d.doc_id),
nf AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_fb FROM top GROUP BY query_id),
rm1 AS (
  SELECT f.query_id, f.term,
         CAST(sum(CAST(f.r AS DECIMAL(28,15))) AS DOUBLE) / CAST(nf.n_fb AS DOUBLE)
           AS p_r
  FROM fb f JOIN nf ON f.query_id = nf.query_id
  GROUP BY f.query_id, f.term, nf.n_fb),
ctf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM postings GROUP BY term),
csize AS (SELECT CAST(sum(tf) AS BIGINT) AS c_tot FROM postings),
staged AS (
  SELECT rm1.query_id, rm1.p_r,
         (rm1.p_r / (CAST(ctf.ctf AS DOUBLE) / CAST(csize.c_tot AS DOUBLE)))
           AS ratio
  FROM rm1 JOIN ctf ON rm1.term = ctf.term, csize),
scored AS (
  SELECT query_id, (p_r * {G.ln_sql('ratio')}) AS contrib FROM staged)
SELECT query_id, CAST(count(*) AS BIGINT) AS n_fb_terms,
       round(CAST(sum(CAST(contrib AS DECIMAL(28,15))) AS DOUBLE), 6) AS clarity
FROM scored GROUP BY query_id
"""
