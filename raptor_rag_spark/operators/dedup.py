"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup — plus cluster resolution into canonical keep-lists.

All four text paths are JVM-side expressions built from the sqlgen twins
(portable md5-prefix hashing), so each has an exact DuckDB oracle. Shapes:

- exact: groupBy(fingerprint) → canonical id = min(doc_id) (hash-groupBy; one
  shuffle on the fingerprint, map-side combine for free);
- MinHash: explode shingles → per-perm salted-hash min agg → band buckets →
  self-join within bucket → Jaccard-verified pairs (shingle→minhash→band→
  bucket-join; the self-join is on tiny bucket keys, never all-pairs);
- SimHash: per-bit majority over distinct token hashes → 16-bit fingerprint;
  near-dup pairs = equal simhash (band of the fingerprint);
- embedding cosine: the exact-order kernel fold over candidate pairs;
- clusters: pairs → connected components (iterative min-label propagation)
  → (doc_id, canonical_id); ``apply_dedup`` = the keep/drop anti-join.

At 100 TB the bucket joins are the scale path and every candidate generator
is frequency-capped so no single hot key can go quadratic:

- MinHash band buckets above ``max_bucket`` docs are dropped (mass-duplicated
  boilerplate would otherwise emit C(n,2) pairs per band; exact_dedup catches
  byte-identical mass duplicates far cheaper);
- n-gram Jaccard drops shingles whose document frequency exceeds
  ``max_shingle_df`` before the inverted-index self-join (standard
  prefix-filtering: a shingle in 1M docs generates 10^12 candidates);
- embedding near-dup picks its bucket resolution from the corpus size
  (``adaptive_res``) so expected bucket population stays bounded instead of
  growing linearly with the corpus.

Each cap is mirrored bit-identically in the DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sqlgen as G
from ..functions.udfs import make_cosine_udf
from ..kernels.embedder import DEFAULT_DIM
from ..kernels.textstats import MINHASH_PERMS

BANDS = 4
ROWS_PER_BAND = MINHASH_PERMS // BANDS
MAX_BAND_BUCKET = 64  # LSH band buckets larger than this are skew bombs, drop
MAX_SHINGLE_DF = 64  # shingles in more docs than this carry no dedup signal
NEARDUP_TARGET_BUCKET = 64  # target avg docs per adaptive near-dup bucket


def adaptive_res(n_rows: int, target: int = NEARDUP_TARGET_BUCKET, lo: int = 2, hi: int = 10) -> int:
    """Smallest grid resolution whose 4^res cells keep the average bucket
    population ≤ target. Pure integer rule so the DuckDB twin
    (adaptive_res_sql) derives the identical value from count(*)."""
    res = lo
    while res < hi and (1 << (2 * res)) * target < n_rows:
        res += 1
    return res


def adaptive_res_sql(count_expr: str, target: int = NEARDUP_TARGET_BUCKET, lo: int = 2, hi: int = 10) -> str:
    """CASE chain computing adaptive_res(count) in SQL (same thresholds)."""
    branches = " ".join(
        f"WHEN ({count_expr}) <= {(1 << (2 * res)) * target} THEN {res}" for res in range(lo, hi)
    )
    return f"(CASE {branches} ELSE {hi} END)"


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(fingerprint, canonical_doc_id, n_dups) for duplicated fingerprints."""
    fp = G.fingerprint_col(F.col("text")).alias("fingerprint")
    return (
        docs.select(fp, "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(docs: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, h0..h{perms-1}) — affine-permutation MinHash: ONE md5 per
    shingle, then per-perm (a·h+b) mod p mins (kernels.textstats parity).
    Empty-shingle docs get 0."""
    from ..kernels.textstats import MINHASH_A, MINHASH_B, MINHASH_P

    sh = docs.select(
        "doc_id", F.explode_outer(G.shingles_col(F.col("text"))).alias("shingle")
    ).withColumn("base", G.hash63_col(F.col("shingle")) % F.lit(MINHASH_P))
    aggs = [
        F.coalesce(
            F.min((F.lit(MINHASH_A[i]) * F.col("base") + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)),
            F.lit(0),
        ).alias(f"h{i}")
        for i in range(perms)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_pairs(
    docs: DataFrame,
    perms: int = MINHASH_PERMS,
    bands: int = BANDS,
    max_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any full band of the signature.

    Buckets with more than ``max_bucket`` members are dropped before the
    self-join (two aggregations on the same band_key shuffle — AQE coalesces
    them into one exchange reuse), so a mass-duplicated boilerplate band can
    never go quadratic. Byte-identical mass duplicates are exact_dedup's job.
    """
    sigs = minhash_signatures(docs, perms)
    rows_per_band = perms // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"), *[c.alias(f"v{i}") for i, c in enumerate(cols)]))
    banded = sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk").cast("string").alias("band_key")
    )
    # materialize ONCE: banded feeds four consumers (bucket counts + both
    # sides of the self-join); without this, AQE materializes each as an
    # independent subquery and the whole shingle→md5→16-min-agg signature
    # DAG executes four times concurrently (measured: 4 equal stages
    # dominating the query). (bands × n_docs) rows of (long, short string) —
    # metadata-scale next to the corpus; at cluster scale this is the
    # signature table you would persist anyway before LSH.
    banded = banded.localCheckpoint(eager=True)
    ok = (
        banded.groupBy("band_key")
        .agg(F.count("*").alias("n_bk"))
        .filter((F.col("n_bk") >= 2) & (F.col("n_bk") <= max_bucket))
        .select("band_key")
    )
    capped = banded.join(ok, "band_key")
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_fingerprints(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — bit-majority over distinct token hashes."""
    toks = docs.select(
        "doc_id", F.explode_outer(F.array_distinct(G.words_col(F.col("text")))).alias("tok")
    ).withColumn("h", G.hash63_col(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(F.col("tok").isNull(), F.lit(0)).otherwise(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
            )
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*bit_sums)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return per_doc.select("doc_id", sim.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_docs: int | None = None,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """n-gram Jaccard similarity for candidate pairs that share ≥1 rare
    shingle (inverted-index join — never a full cross join).

    Shingles whose document frequency exceeds ``max_shingle_df`` are dropped
    from the inverted index before the self-join (prefix-filtering): a
    shingle present in 1M docs contributes 10^12 candidate pairs and ~zero
    dedup signal. Denominator sizes still count ALL distinct shingles, so
    the Jaccard value is exact for pairs whose overlap is in rare shingles
    and slightly underestimated for pairs sharing only boilerplate — the
    conservative direction (misses stay misses; no false merges). The DuckDB
    oracle mirrors the identical df filter."""
    d = docs.limit(max_docs) if max_docs else docs
    sh = d.select("doc_id", F.explode(F.array_distinct(G.shingles_col(F.col("text")))).alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_shingle_df))
        .select("shingle")
    )
    idx = sh.join(rare, "shingle")
    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, n_inter, cont_ab, cont_ba): DIRECTIONAL
    shingle containment — cont_ab = |A∩B|/|A| (how much of A lies inside B).

    Jaccard (and MinHash, which estimates it) misses asymmetric duplication:
    a paragraph quoted inside a 100× longer page has Jaccard ≈ 0.01 but
    containment ≈ 1.0 from the short side. This is the quote/mirror/
    subset-page detector (Broder's "roughly contained" relation) a crawl
    curation pass runs next to the symmetric near-dup family. Pairs are kept
    when EITHER direction ≥ ``threshold``.

    Scale shape: identical inverted-index join as :func:`ngram_jaccard_pairs`
    — df-capped shingles (boilerplate shingles carry no containment signal
    either), candidate pairs only where ≥1 rare shingle is shared, sizes
    joined back from the uncapped per-doc shingle counts (so the denominator
    is exact; capped overlap only UNDERestimates — misses stay misses)."""
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(G.shingles_col(F.col("text")))).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_shingle_df))
        .select("shingle")
    )
    idx = sh.join(rare, "shingle")
    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    scored = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("cont_ab", F.round(F.col("n_inter") / F.col("n_a"), 6))
        .withColumn("cont_ba", F.round(F.col("n_inter") / F.col("n_b"), 6))
    )
    return scored.filter(
        (F.col("cont_ab") >= threshold) | (F.col("cont_ba") >= threshold)
    ).select(
        "doc_a",
        "doc_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "n_inter",
        "cont_ab",
        "cont_ba",
    )


def containment_pairs_sql(
    docs_sql: str = "SELECT doc_id, text FROM documents",
    threshold: float = 0.5,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> str:
    """DuckDB twin of :func:`containment_pairs`."""
    sh = G.shingles_sql("text")
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM ({docs_sql})
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), rare AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {max_shingle_df}
), idx AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT doc_a, doc_b, CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
         n_inter,
         round(n_inter / sa.n_sh, 6) AS cont_ab,
         round(n_inter / sb.n_sh, 6) AS cont_ba
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, n_a, n_b, n_inter, cont_ab, cont_ba
FROM scored WHERE cont_ab >= {threshold} OR cont_ba >= {threshold}
"""


def embedding_neardup_pairs(
    vecs: DataFrame,
    threshold: float = 0.95,
    dim: int = DEFAULT_DIM,
    id_col: str = "vec_id",
    res: int | None = None,
) -> DataFrame:
    """Cosine-similarity near-dup pairs over an embedding column.

    Candidate generation: same home tile at a coarse resolution (LSH-like
    spatial bucketing from the xy projection) → exact cosine verify. The
    resolution is data-adaptive by default: chosen from the corpus row count
    so expected bucket population stays ≤ NEARDUP_TARGET_BUCKET — a fixed
    resolution would make within-bucket joins quadratic as the corpus grows.
    The count() is one cheap metadata-ish job (parquet row-group counts) and
    the DuckDB oracle derives the identical res from count(*)."""
    if res is None:
        res = adaptive_res(vecs.count())
    x, y = G.xy_cols(F.col("embedding"), dim)
    # xy/cell trees materialized before the self-join; the kernel fold's
    # similarity sits behind a barrier so the filter does not run it again
    bucketed = vecs.select(
        id_col, "embedding", G.cell_col(x, y, res).alias("bucket")
    ).localCheckpoint(eager=False)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    sim = make_cosine_udf(dim)(F.col("a.embedding"), F.col("b.embedding"))
    comps = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(sim, 6).alias("cos_sim"),
        )
        .localCheckpoint(eager=False)
    )
    return comps.filter(F.col("cos_sim") >= threshold).select("id_a", "id_b", "cos_sim")


# --------------------------------------------------------------- resolution


def dedup_clusters(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b", max_iters: int = 50
) -> DataFrame:
    """Resolve near-dup pairs into connected components: (doc_id,
    canonical_id) where canonical_id = min doc_id of the component.

    Iterative min-label propagation with POINTER JUMPING: every doc starts
    labeled with itself; each round (a) takes the min of its own and its
    neighbors' labels (one-hop propagation), then (b) replaces its label with
    its label's label (path doubling). The jump makes convergence
    O(log diameter) instead of O(diameter) — a 50-doc near-dup chain resolves
    in ~6 rounds, not 50 (measured: 189s → seconds at sf0.1). Rounds are
    plain shuffles on doc_id with map-side combine; lineage is cut per round
    (localCheckpoint) so plans stay flat. Reference analogue: the
    cluster→canonical grouping of raptor/cluster_tree_builder.py:106-114.
    """
    # materialize the pair list ONCE: it is referenced twice below (both edge
    # directions), and without this the upstream candidate-generation DAG
    # (the whole MinHash pipeline when fed from minhash_band_pairs) would
    # execute twice
    pairs = pairs.localCheckpoint(eager=True)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("canonical_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("canonical_id").alias("nbr_label"))
        )
        hop = labels.join(nbr_min, labels.doc_id == nbr_min.src, "left").select(
            "doc_id",
            F.least(F.col("canonical_id"), F.coalesce("nbr_label", F.col("canonical_id"))).alias(
                "c1"
            ),
        )
        a = hop.alias("a")
        b = hop.select(F.col("doc_id").alias("b_id"), F.col("c1").alias("b_c1")).alias("b")
        new_labels = (
            a.join(b, F.col("a.c1") == F.col("b.b_id"), "left")
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.least(F.col("a.c1"), F.coalesce("b_c1", F.col("a.c1"))).alias("new_canonical"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels, "doc_id")
            .filter(F.col("new_canonical") != F.col("canonical_id"))
            .count()
        )
        labels = new_labels.withColumnRenamed("new_canonical", "canonical_id")
        if changed == 0:
            break
    return labels


def apply_dedup(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep-list: drop every doc whose component canonical is another doc.
    Docs not in any cluster are kept (anti-join on the drop set)."""
    drop = clusters.filter(F.col("doc_id") != F.col("canonical_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


# ---------------------------------------------------------- duplicate spans


WINNOW_K = 8  # k-gram size (words) for winnowing
WINNOW_W = 4  # winnowing window: one fingerprint selected per w hashes


def winnow_fingerprints(docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """(doc_id, fp): MOSS winnowing (Schleimer, Wilkerson & Aiken, SIGMOD
    2003) — the position-robust document fingerprint. Hash every k-gram,
    slide a window of ``w`` consecutive hashes, keep the minimum of each
    window; the distinct selected hashes are the document's fingerprint set.
    Guarantee: any shared substring of ≥ k + w - 1 tokens yields at least one
    shared fingerprint, while storing ~1/w of the k-gram hashes.

    Scale shape: posexplode → row-wise hash63 (whole-stage codegen — NOT a
    higher-order-function lambda, whose body Spark evaluates interpreted per
    element: measured 10×+ slower) → ONE doc-partitioned sliding window-min
    (rows [pos, pos+w-1]) → distinct. One shuffle on doc_id; window state is
    w rows. Unlike minhash (fixed-size sketch, whole-doc similarity) this
    keys on exact shared substrings, so it is the candidate generator for
    partial overlap / quotation mining."""
    from pyspark.sql import Window

    sh = docs.select(
        "doc_id", F.posexplode(G.shingles_col(F.col("text"), k)).alias("pos", "s")
    ).select("doc_id", "pos", G.hash63_col(F.col("s")).alias("h"))
    byd = Window.partitionBy("doc_id")
    win = byd.orderBy("pos").rowsBetween(0, w - 1)
    fps = sh.select(
        "doc_id",
        "pos",
        F.min("h").over(win).alias("fp"),
        F.count("*").over(byd).alias("m"),
    ).where(F.col("pos") <= F.greatest(F.col("m") - F.lit(w), F.lit(0)))
    return fps.select("doc_id", "fp").distinct()


def winnow_fingerprints_sql(docs_sql: str, k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`."""
    sh = G.shingles_sql("text", k)
    return f"""
WITH sh AS (
  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, {G.hash63_sql("unnest(l)")} AS h
  FROM (SELECT doc_id, {sh} AS l FROM ({docs_sql}))),
wmin AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS m
  FROM sh)
SELECT DISTINCT doc_id, fp FROM wmin
WHERE pos <= greatest(m - {w}, 0)
"""


def winnow_matches(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
    max_fp_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """(doc_a, doc_b, shared): document pairs sharing ≥ ``min_shared``
    winnowed fingerprints — the MOSS match step. Same skew discipline as the
    other pair generators: fingerprints in more than ``max_fp_df`` documents
    are boilerplate and are dropped before the inverted-index self-join, so
    no hot fingerprint can go quadratic."""
    fps = winnow_fingerprints(docs, k, w).localCheckpoint(eager=True)
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_fp_df))
        .select("fp")
    )
    idx = fps.join(rare, "fp")
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def winnow_matches_sql(
    docs_sql: str,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
    max_fp_df: int = MAX_SHINGLE_DF,
) -> str:
    """DuckDB twin of :func:`winnow_matches`."""
    return f"""
WITH fps AS ({winnow_fingerprints_sql(docs_sql, k, w)}),
rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) >= 2 AND count(*) <= {max_fp_df}),
idx AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
"""


def duplicate_spans(docs: DataFrame, w: int = 8) -> DataFrame:
    """(doc_id, start_pos, end_pos, n_tokens, n_windows): maximal duplicated
    token spans — the exact-substring dedup of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), windowed:
    every ``w``-token window whose hash occurs in MORE THAN ONE document is
    flagged, and overlapping flagged windows merge into maximal spans via the
    gaps-and-islands window trick. Downstream, a pipeline cuts these spans
    out of the text rather than dropping whole near-duplicate documents.

    Scale shape: windows shuffle as fixed-width md5 keys; the cross-doc
    frequency table comes from distinct(doc_id, hash) with map-side combine.
    Unlike the pair generators, hot windows (mass boilerplate) need no cap:
    flagging joins each window to a 1-row df verdict, never doc×doc, so the
    operator is linear in corpus size by construction. The island merge is
    one per-doc window function over flagged positions only.
    """
    sh = docs.select(
        "doc_id", F.posexplode(G.shingles_col(F.col("text"), w)).alias("pos", "s")
    ).select("doc_id", "pos", F.md5("s").alias("h"))
    # materialize the window table ONCE: both consumers below (the frequency
    # table and the flagging join) would otherwise each re-run the
    # shingle+md5 explosion — the single most expensive map of the operator.
    # The checkpoint is the same order of magnitude as the shuffle the join
    # performs anyway (fixed-width rows, linear in corpus tokens).
    sh = sh.localCheckpoint(eager=True)
    dfreq = (
        sh.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") > 1)
    )
    flagged = sh.join(dfreq, "h").select("doc_id", "pos")
    from pyspark.sql import Window

    ordw = Window.partitionBy("doc_id").orderBy("pos")
    isl = flagged.withColumn(
        "new_isl",
        F.when(F.col("pos") - F.lag("pos").over(ordw) <= w, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn(
        "island",
        F.sum("new_isl").over(ordw.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + F.lit(w - 1)).alias("end_pos"),
            F.count("*").alias("n_windows"),
        )
        .select(
            "doc_id",
            "start_pos",
            "end_pos",
            (F.col("end_pos") - F.col("start_pos") + 1).alias("n_tokens"),
            "n_windows",
        )
    )


def duplicate_spans_sql(docs_sql: str, w: int = 8) -> str:
    """DuckDB twin of :func:`duplicate_spans`."""
    shingles = G.shingles_sql("text", w)
    return f"""
WITH sh AS (
  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, md5(unnest(l)) AS h
  FROM (SELECT doc_id, {shingles} AS l FROM ({docs_sql}))),
dfreq AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM sh) GROUP BY h HAVING count(*) > 1),
flagged AS (SELECT s.doc_id, s.pos FROM sh s JOIN dfreq USING (h)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {w}
              THEN 0 ELSE 1 END AS new_isl
  FROM flagged),
grp AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
  FROM isl)
SELECT doc_id, CAST(min(pos) AS INT) AS start_pos,
       CAST(max(pos) + {w - 1} AS INT) AS end_pos,
       CAST(max(pos) + {w - 1} - min(pos) + 1 AS INT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_windows
FROM grp GROUP BY doc_id, island
"""


def simhash_near_pairs(
    docs: DataFrame, bits: int = 16, max_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """(doc_a, doc_b, hamming): EXACT set of document pairs whose simhash
    fingerprints differ in at most one bit — multi-probe LSH: each doc emits
    its fingerprint plus all ``bits`` single-bit flips (17 probe keys at 16
    bits), so any hamming≤1 pair collides on at least one key; the equi-join
    on probe keys is then verified with an exact popcount. Completeness is
    by construction (probes cover every ≤1-bit neighborhood), so unlike
    plain simhash equality this catches near-misses without an all-pairs
    scan.

    Same skew cap as the other generators: probe buckets above
    ``max_bucket`` docs are dropped before the self-join (mass-duplicated
    content is exact_dedup's job), mirrored in the twin."""
    sigs = simhash_fingerprints(docs, bits).localCheckpoint(eager=True)
    probe_arr = F.array(
        F.col("simhash"),
        *[F.col("simhash").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(bits)],
    )
    probes = sigs.select("doc_id", "simhash", F.explode(probe_arr).alias("probe"))
    rare = (
        probes.groupBy("probe")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
        .select("probe")
    )
    idx = probes.join(rare, "probe")
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (
        a.join(b, (F.col("a.probe") == F.col("b.probe")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= 1)
        .distinct()
    )
    return pairs


def simhash_near_sql(sigs_sql: str, bits: int = 16, max_bucket: int = MAX_BAND_BUCKET) -> str:
    """DuckDB twin of :func:`simhash_near_pairs`; ``sigs_sql`` yields
    (doc_id, simhash)."""
    flips = ", ".join(f"xor(simhash, {1 << i})" for i in range(bits))
    return f"""
WITH sigs AS ({sigs_sql}),
probes AS (
  SELECT doc_id, simhash, unnest([simhash, {flips}]) AS probe FROM sigs),
rare AS (
  SELECT probe FROM probes GROUP BY probe HAVING count(*) >= 2 AND count(*) <= {max_bucket}),
idx AS (SELECT doc_id, simhash, probe FROM probes JOIN rare USING (probe))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM idx a JOIN idx b ON a.probe = b.probe AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
"""


CDC_GRAM = 4  # rolling-gram width for boundary detection
CDC_MOD = 16  # expected chunk length in tokens (boundary prob 1/mod)


def cdc_chunks(docs: DataFrame, gram: int = CDC_GRAM, mod: int = CDC_MOD) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk_hash): content-defined chunking —
    the text splits AFTER every position whose ``gram``-token rolling hash is
    ≡ 0 (mod ``mod``), so chunk boundaries are a pure function of LOCAL
    content: insert a sentence and only the surrounding chunks change,
    unlike fixed-size chunking where every later chunk shifts. The rsync /
    CDC trick, applied to token streams for chunk-granular dedup.

    Scale shape: posexplode → codegen rolling-gram hash → one doc-partitioned
    window (cumulative boundary count = chunk index) → one groupBy(doc,
    chunk) assembling the chunk hash from position-ordered tokens. Two
    shuffles, both keyed by doc_id."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(G.words_col(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.withColumn(
        "gram",
        F.concat_ws(
            " ", F.collect_list("tok").over(w.rowsBetween(-(gram - 1), 0))
        ),
    )
    # boundary AFTER pos i when the gram ending at i hashes to 0 (mod m) and
    # a full gram exists (pos >= gram-1)
    bdry = grams.withColumn(
        "is_bdry",
        ((F.col("pos") >= gram - 1) & (F.pmod(G.hash63_col(F.col("gram")), F.lit(mod)) == 0)).cast(
            "long"
        ),
    )
    chunked = bdry.withColumn(
        "chunk_idx",
        (
            F.sum("is_bdry").over(w.rowsBetween(Window.unboundedPreceding, 0))
            - F.col("is_bdry")
        ).cast("long"),
    )
    return (
        chunked.groupBy("doc_id", "chunk_idx")
        .agg(
            F.count("*").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("chunk_hash"),
        )
    )


def cdc_chunks_sql(docs_sql: str, gram: int = CDC_GRAM, mod: int = CDC_MOD) -> str:
    """DuckDB twin of :func:`cdc_chunks`."""
    words = G.words_sql("text")
    return f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok
  FROM (SELECT doc_id, {words} AS l FROM ({docs_sql}))),
grams AS (
  SELECT doc_id, pos, tok,
         string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN {gram - 1} PRECEDING AND CURRENT ROW) AS gram
  FROM toks),
bdry AS (
  SELECT doc_id, pos, tok,
         CASE WHEN pos >= {gram - 1} AND ({G.hash63_sql("gram")}) % {mod} = 0
              THEN 1 ELSE 0 END AS is_bdry
  FROM grams),
chunked AS (
  SELECT doc_id, pos, tok,
         CAST(sum(is_bdry) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) - is_bdry AS BIGINT) AS chunk_idx
  FROM bdry)
SELECT doc_id, chunk_idx, count(*)::BIGINT AS n_tokens,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
FROM chunked GROUP BY doc_id, chunk_idx
"""


def cdc_dup_stats(docs: DataFrame, gram: int = CDC_GRAM, mod: int = CDC_MOD) -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, dup_frac): per-document fraction of
    tokens living in chunks that also appear (by content hash) in at least
    one OTHER document — the chunk-granular dedup decision signal sitting
    between whole-doc near-dup and token-level dup_spans."""
    ch = cdc_chunks(docs, gram, mod).localCheckpoint(eager=True)
    shared = (
        ch.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("chunk_hash")
    )
    flagged = ch.join(shared, "chunk_hash").select(
        "doc_id", F.col("n_tokens").alias("dup_t")
    )
    per = flagged.groupBy("doc_id").agg(F.sum("dup_t").alias("dup_tokens"))
    totals = ch.groupBy("doc_id").agg(F.sum("n_tokens").alias("n_tokens"))
    return (
        totals.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            (
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_frac"),
        )
    )


def cdc_dup_stats_sql(docs_sql: str, gram: int = CDC_GRAM, mod: int = CDC_MOD) -> str:
    """DuckDB twin of :func:`cdc_dup_stats`."""
    return f"""
WITH ch AS ({cdc_chunks_sql(docs_sql, gram, mod)}),
shared AS (
  SELECT chunk_hash FROM ch GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2),
per AS (
  SELECT doc_id, CAST(sum(n_tokens) AS BIGINT) AS dup_tokens
  FROM ch JOIN shared USING (chunk_hash) GROUP BY doc_id),
totals AS (SELECT doc_id, CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM ch GROUP BY doc_id)
SELECT t.doc_id, t.n_tokens, coalesce(p.dup_tokens, 0) AS dup_tokens,
       CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS dup_frac
FROM totals t LEFT JOIN per p USING (doc_id)
"""
