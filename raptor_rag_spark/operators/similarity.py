"""Similarity search over embedding columns: exact top-k and bucketed ANN.

- ``brute_force_topk``: every vector against every query through the exact
  kernel of ``knn.exact_topk`` — the exact baseline with a DuckDB oracle.
- ``ivf_topk``: IVF-style approximate path — vectors are bucketed by their
  home tile at a coarse resolution (the xy projection is the coarse
  quantizer); each query probes its own tile + 8 neighbors. Bounded
  candidates ⇒ scales linearly with probes, not corpus size.

Both rank the score rounded to 6 decimals, as their oracles do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqlgen as G
from ..functions.udfs import make_cosine_udf
from ..kernels.distances import COS_SIM
from ..kernels.embedder import DEFAULT_DIM
from .knn import exact_topk, local_queries, query_homes, ring_cells


def brute_force_topk(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = DEFAULT_DIM,
    id_col: str = "vec_id",
) -> DataFrame:
    """queries: (query_id, q_embedding). Exact cosine top-k per query. With
    a ``query_id`` column, ``vecs`` is given (query, vector) pairs."""
    return brute_force_topk_dist(vecs, queries, k, dim, COS_SIM, id_col)


def brute_force_topk_dist(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = DEFAULT_DIM,
    metric: str = "cosine",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by ascending distance under any supported metric
    (cosine/L1/L2/Linf — reference raptor/utils.py:84-102 dispatch, here as
    the distributed retrieval path rather than a dead kernel)."""
    return exact_topk(
        vecs, queries, id_col=id_col, metric=metric, dim=dim, top_k=k, rounded=True
    ).withColumnRenamed(id_col, "neighbor_id")


def ivf_topk(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res: int = 3,
    dim: int = DEFAULT_DIM,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: probe the query's coarse tile + 8 neighbors.

    Probe cells are the 3×3 ring around each query's home cell (from the
    collected query rows); the exact kernel scores the candidate pairs."""
    x, y = G.xy_cols(F.col("embedding"), dim)
    bucketed = vecs.select(id_col, "embedding", G.cell_col(x, y, res).alias("bucket"))
    queries = local_queries(queries)
    probes = ring_cells(query_homes(vecs.sparkSession, queries, [res], dim), F.lit(1)).select(
        "query_id", F.col("cell_id").alias("bucket")
    )
    return brute_force_topk(bucketed.join(F.broadcast(probes), "bucket"), queries, k, dim, id_col)


# ------------------------------------------------------- SRP-LSH (cosine LSH)

SRP_BITS = 32
SRP_BAND_BITS = 8
SRP_MAX_BUCKET = 64  # same skew-bomb guard as the MinHash band buckets


def _srp_weights(dim: int, bits: int = SRP_BITS):
    """Fixed seeded hyperplane normals (bits, dim) — the signed-random-
    projection family of Charikar 2002: sign(w·e) is a 1-bit cosine sketch,
    P[bit_a = bit_b] = 1 - angle(a,b)/pi. Reuses the deterministic 9-decimal
    projection weights so both engines share identical literals. 8-bit bands
    give 256 keys per band — raise band_bits (and bits) as the corpus grows
    so expected bucket population stays bounded, the same knob as
    dedup.adaptive_res."""
    from ..kernels.reduce import projection_weights

    return projection_weights(dim, bits)


def srp_pairs(
    vecs: DataFrame,
    min_sim: float = 0.6,
    bits: int = SRP_BITS,
    band_bits: int = SRP_BAND_BITS,
    dim: int = DEFAULT_DIM,
    id_col: str = "vec_id",
    max_bucket: int = SRP_MAX_BUCKET,
) -> DataFrame:
    """(a_id, b_id, cos_sim): cosine near-duplicate candidate pairs via
    signed-random-projection LSH, verified with the exact twin cosine.

    The embedding-side analog of MinHash-LSH for text: ``bits`` sign bits
    from fixed hyperplanes, split into bands of ``band_bits``; vectors
    agreeing on ALL bits of any band become candidates (equi-join on the
    band key — never all-pairs); candidates are deduped across bands and
    verified with the exact cosine, keeping pairs with cos_sim >= min_sim.

    Scale shape: the self-join key is (band, band_key) with at most
    2^band_bits · bands distinct values per vector; oversize buckets
    (mass-duplicated embeddings) are dropped by ``max_bucket`` exactly like
    minhash_band_pairs — exact_dedup handles identical payloads cheaper.
    The bit computation is ONE Arrow-batched vectorized kernel pass (see
    below); at very high dim it stays one pass (numpy columns scale in dim).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    w = _srp_weights(dim, bits)
    n_bands = bits // band_bits

    # Band keys via a vectorized Arrow kernel, NOT generated expressions
    # (round-4 codegen-fallback fix): 32 bits × 64 unrolled product terms is
    # ~8,300 Catalyst nodes in ONE projection — whole-stage codegen cannot
    # split a single operator's expressions across methods, so the generated
    # method exceeded the JVM's 64 KB bytecode limit and the stage ran
    # interpreted per term. The kernel computes every dot product as a
    # STRICT LEFT-TO-RIGHT fold (acc = acc + E[:,i]·w[j,i] — the
    # kernels/reduce.py:project_xy pattern), so each partial sum is the
    # identical IEEE double add the DuckDB twin's left-fold SQL performs;
    # bits and band keys hash-match exactly.
    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf can't introspect — same convention as functions/udfs.py
    def _band_keys(embs):
        em = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in embs], dtype=np.float64
        )
        n = em.shape[0]
        if n == 0:
            return pd.Series([], dtype=object)
        bmat = np.zeros((n, bits), dtype=np.int64)
        for j in range(bits):
            acc = np.zeros(n, dtype=np.float64)
            for i in range(dim):  # strict left-to-right fold, same as SQL a+b+c
                acc = acc + em[:, i] * float(w[j][i])
            bmat[:, j] = acc > 0
        keys = np.zeros((n, n_bands), dtype=np.int64)
        for b in range(n_bands):
            for r in range(band_bits):
                keys[:, b] += bmat[:, b * band_bits + r] << r
        return pd.Series(list(keys))

    band_keys_udf = F.pandas_udf(_band_keys, ArrayType(LongType()))

    # evaluate the projection ONCE and CUT THE LINEAGE — three
    # consumers (bucket sizes, both join sides) would otherwise each
    # re-run the kernel pass
    keyed = vecs.select(
        id_col, band_keys_udf(F.col("embedding")).alias("bks")
    ).select(
        id_col, *[F.element_at("bks", b + 1).alias(f"band{b}") for b in range(n_bands)]
    ).localCheckpoint(eager=True)
    bands = keyed.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("key"))
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    sizes = bands.groupBy("band", "key").agg(F.count("*").alias("n"))
    bounded = bands.join(
        F.broadcast(sizes.where(F.col("n") <= max_bucket)).select("band", "key"),
        ["band", "key"],
    )
    a = bounded.select(F.col("band"), F.col("key"), F.col(id_col).alias("a_id"))
    b = bounded.select(F.col("band"), F.col("key"), F.col(id_col).alias("b_id"))
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    # exact-cosine verify with the kernel fold; the barrier keeps the filter
    # from evaluating the UDF a second time
    e = vecs.select(id_col, "embedding")
    comps = (
        cand.join(e.toDF("a_id", "ea"), "a_id")
        .join(e.toDF("b_id", "eb"), "b_id")
        .select("a_id", "b_id", make_cosine_udf(dim)("ea", "eb").alias("cos_sim"))
        .localCheckpoint(eager=False)
    )
    return comps.where(F.col("cos_sim") >= F.lit(min_sim))


def srp_pairs_sql(
    vecs_sql: str,
    min_sim: float = 0.6,
    bits: int = SRP_BITS,
    band_bits: int = SRP_BAND_BITS,
    dim: int = DEFAULT_DIM,
    id_col: str = "vec_id",
    max_bucket: int = SRP_MAX_BUCKET,
) -> str:
    """DuckDB twin of :func:`srp_pairs`. ``vecs_sql`` must yield
    (``id_col``, embedding ARRAY<FLOAT>)."""
    w = _srp_weights(dim, bits)

    def bit(j: int) -> str:
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {float(w[j][i])!r}" for i in range(dim)
        )
        return f"(CASE WHEN (0.0 + {terms}) > 0 THEN 1 ELSE 0 END)"

    n_bands = bits // band_bits
    band_exprs = ", ".join(
        "("
        + " + ".join(f"{bit(b * band_bits + r)} * {1 << r}" for r in range(band_bits))
        + f")::BIGINT AS band{b}"
        for b in range(n_bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, band{b} AS key FROM keyed" for b in range(n_bands)
    )
    sim = G.cosine_sim_sql("ea.embedding", "eb.embedding", dim)
    return f"""
WITH keyed AS MATERIALIZED (SELECT {id_col}, {band_exprs} FROM ({vecs_sql})),
bands AS MATERIALIZED ({band_union}),
sizes AS (SELECT band, key FROM bands GROUP BY band, key HAVING count(*) <= {max_bucket}),
bounded AS (SELECT b.* FROM bands b JOIN sizes USING (band, key)),
cand AS (
  SELECT DISTINCT a.{id_col} AS a_id, b.{id_col} AS b_id
  FROM bounded a JOIN bounded b ON a.band = b.band AND a.key = b.key
  WHERE a.{id_col} < b.{id_col})
SELECT c.a_id, c.b_id, {sim} AS cos_sim
FROM cand c
JOIN ({vecs_sql}) ea ON ea.{id_col} = c.a_id
JOIN ({vecs_sql}) eb ON eb.{id_col} = c.b_id
WHERE {sim} >= {min_sim!r}
"""
