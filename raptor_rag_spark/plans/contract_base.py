"""Helpers shared by the contract registry (``plans/contract.py``) and its
spatial twins (``plans/contract_spatial.py``): table loading, the scratch
directory, and the constants and SQL fragments both modules' queries use.
Both import from here at load time, so either can be imported first.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..functions import sqlgen as G


DIM = 64  # testdata embeddings dim (embeddings.parquet)


DEC2 = "decimal(28,15)"


def ld(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SCRATCH_ROOT: list[tempfile.TemporaryDirectory] = []


def scratch_dir(prefix: str) -> str:
    """A new directory for a query's lake, index or bucketed tables, under
    one root per process, which is deleted when the process exits."""
    if not _SCRATCH_ROOT:
        _SCRATCH_ROOT.append(tempfile.TemporaryDirectory(prefix="raptor_contract_", ignore_cleanup_errors=True))
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0].name)


PIP_POLYS: list[tuple[int, list[list[float]]]] = [
    (1, [[0.12, 0.11], [0.88, 0.15], [0.91, 0.87], [0.09, 0.83]]),
    (2, [[0.02, 0.03], [0.51, 0.07], [0.48, 0.52], [0.04, 0.49]]),
    (3, [[0.41, 0.42], [0.79, 0.33], [0.92, 0.81], [0.52, 0.71], [0.44, 0.63]]),
]


def _pip_parity_sql(ring: list[list[float]]) -> str:
    """Unrolled even-odd crossing test, same float ops as kernels.grid
    point_in_polygon: ((xj-xi)*(y-yi))/(yj-yi)+xi, crossings XOR-folded."""
    terms = []
    m = len(ring)
    j = m - 1
    for i in range(m):
        xi, yi = ring[i]
        xj, yj = ring[j]
        crosses = f"(({yi!r} > y) <> ({yj!r} > y))"
        x_at_y = f"(({xj!r} - {xi!r}) * (y - {yi!r}) / ({yj!r} - {yi!r}) + {xi!r})"
        terms.append(f"CASE WHEN {crosses} THEN (x < {x_at_y}) ELSE FALSE END")
        j = i
    # SQL comparisons don't chain; fold the XOR with explicit parens
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} <> {t})"
    return out


BM25_QUERIES = [(0, "spark join merge sort"), (1, "customer order data"), (2, "window agg filter part")]


def _sql_bm25(top_k: int = 10, ratio: tuple[int, int] = (9, 10)) -> str:
    from ..operators.ranking import B, K1

    ws = G.words_sql("text")
    qvals = ", ".join(f"({i}, '{t}')" for i, t in BM25_QUERIES)
    contrib = (
        f"{G.ln_sql('idf_arg')} * ((tf * {K1 + 1.0!r}) / "
        f"(tf + {K1!r} * ({1.0 - B!r} + {B!r} * (dl / avgdl))))"
    )
    return f"""
WITH words AS (SELECT doc_id, {ws} AS ws FROM documents),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM words) GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl_l FROM postings GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(count(*) AS BIGINT) AS n_long,
         CAST(sum(CAST(dl_l AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl),
dfreq AS (
  SELECT term, df FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term), stats
  WHERE df * {ratio[1]} <= n_long * {ratio[0]}),
qterms AS (
  SELECT DISTINCT query_id, unnest({G.words_sql('qtext')}) AS term
  FROM (VALUES {qvals}) q(query_id, qtext)),
matched AS MATERIALIZED (
  SELECT q.query_id, p.doc_id, CAST(p.tf AS DOUBLE) AS tf, CAST(l.dl_l AS DOUBLE) AS dl,
         s.n_docs, s.avgdl,
         ((s.n_docs - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5) + 1.0) AS idf_arg
  FROM postings p
  JOIN qterms q USING (term) JOIN dfreq d USING (term)
  CROSS JOIN stats s JOIN dl l ON p.doc_id = l.doc_id),
scored AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST({contrib} AS DECIMAL(28,15))) AS DOUBLE) AS score
  FROM matched GROUP BY query_id, doc_id)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM scored) WHERE rank <= {top_k}
"""


KDE_RES, KDE_BW = 5, 0.05


def _sql_kde_heatmap() -> str:
    from ..operators.heatmap import kde_heatmap_sql

    vx, vy = G.xy_sql("embedding", DIM)
    return kde_heatmap_sql(
        f"SELECT {vx} AS x, {vy} AS y FROM embeddings", res=KDE_RES, bandwidth=KDE_BW
    )


KDE_HOT_T = 1.5
