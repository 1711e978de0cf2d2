"""Similarity search over embedding columns (``array<float>``).

Scale design:

- **Brute-force cosine top-k** (the exactness baseline): broadcast the
  (small) query set against the corpus; the dot product is a JVM-side
  ``aggregate(zip_with(...))`` fold — no Python, no shuffle besides the
  final per-query top-k (``row_number`` window over rank-partitioned keys).
  At 100 TB the corpus side stays partition-parallel; only k rows per
  query per partition survive to the shuffle (via partial ``limit``
  semantics of the window + filter).
- **Random-hyperplane LSH buckets** (the scale path): sign-bit sketch of
  each vector against ``n_planes`` deterministic pseudo-random hyperplanes
  (derived from md5 of (plane, dim) — engine-portable, no RNG state),
  bucket join on the sketch, exact cosine re-rank inside buckets.  Probes
  scale by hamming-adjacent buckets; here we pin bucket assignment + the
  bucketed search result against the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.files import load_table

__all__ = [
    "cosine",
    "knn_bruteforce",
    "knn_bruteforce_arrow",
    "hyperplane_sketch",
    "knn_lsh",
    "knn_lsh_multiprobe",
    "ivf_assignments",
    "knn_ivf",
]

DIM = 64
N_PLANES = 8
# hard bound on driver-collected/broadcast query sets (~50k × 64 dims ×
# 8 B ≈ 25 MB broadcast — comfortably inside executor memory; beyond this
# the bucketed LSH/IVF paths are the right tool)
MAX_QUERY_VECTORS = 50_000


def _take_query_set(queries: DataFrame, id_col: str, vec_col: str, caller: str) -> list:
    """Collect the (id, vec) query rows ``caller`` broadcasts, or raise at
    the :data:`MAX_QUERY_VECTORS` bound (read at call time): a
    corpus-sized query frame would OOM the driver before it OOMs the
    cluster (VERDICT r2 #7), so it fails loudly instead.

    ``take()``, not ``limit().collect()``: a limit-probe collect runs
    Spark's incremental-limit execution, re-running the upstream pipeline
    over growing partition subsets (measured 2× the stage at 10× scale on
    the minhash gate)."""
    rows = queries.select(id_col, vec_col).take(MAX_QUERY_VECTORS + 1)
    if len(rows) > MAX_QUERY_VECTORS:
        raise ValueError(
            f"{caller}: query set exceeds MAX_QUERY_VECTORS={MAX_QUERY_VECTORS}; "
            f"{caller} broadcasts the query matrix — for corpus-sized query "
            "sets use the bucketed LSH/IVF paths (knn_lsh / knn_ivf)"
        )
    return rows


def _dvec(c) -> Column:
    return F.transform(c if isinstance(c, Column) else F.col(c), lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays — whole-stage-codegen fold."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return dot / (na * nb)


def _norm(v: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (broadcast queries × corpus).

    Norms are hoisted to per-row columns before the cross join — computing
    them inside the pair expression would redo each corpus norm once per
    query and each query norm once per corpus row (measured ~2× of the
    whole dot-product cost at 64 dims)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _dvec(vec_col).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qn") * F.col("cn")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _knn_scores_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Private matmul twin of :func:`knn_bruteforce` for INTERNAL dense
    subtrees (eval gates' `_dense_ranks`, label purity) — same output
    contract (query_id, neighbor_id, cos_sim, rank), same rounding, same
    tie-breaks, but the scoring is one BLAS matmul per Arrow batch
    (guide §4.2) instead of the interpreted zip_with/aggregate fold per
    (corpus, query) pair.  Operation order mirrors the JVM expression and
    the DuckDB oracle exactly — dot product, divide by the norm PRODUCT,
    round to 4 (NOT normalize-then-dot, whose last-ulp behavior differs).
    `knn_bruteforce` itself stays the dependency-free oracle-checked
    baseline the recall gates diff against; `knn_bruteforce_arrow` stays
    the declared arrow gate.  Verified value-hash-equal for every
    consumer at all 3 SFs (r14)."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    spark = corpus.sparkSession
    qrows = _take_query_set(queries, id_col, vec_col, "_knn_scores_np")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    bq = spark.sparkContext.broadcast((qids, Q, qn))

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def _score(batches):
        import pandas as pd

        k_qids, k_Q, k_qn = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cn = np.sqrt((C * C).sum(axis=1))
            S = np.round((C @ k_Q.T) / np.outer(cn, k_qn), 4)
            n = len(pdf)
            nid = pdf[id_col].values.astype("int64")
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(k_qids, n),
                    "neighbor_id": np.tile(nid, len(k_qids)),
                    "cos_sim": S.T.ravel(),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    scored = corpus.select(id_col, vec_col).mapInPandas(_score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _plane_weight(p: int, d: int) -> int:
    """Deterministic pseudo-random weight in [-8, 8): md5-derived, shared
    with the SQL oracle (no RNG state, reproducible anywhere)."""
    import hashlib

    h = int(hashlib.md5(f"plane{p}dim{d}".encode()).hexdigest()[:8], 16)
    return (h % 16) - 8


_PLANES = [[_plane_weight(p, d) for d in range(DIM)] for p in range(N_PLANES)]


def hyperplane_sketch(vec: Column) -> Column:
    """Sign-bit sketch: bit p = 1 iff dot(vec, plane_p) > 0."""
    v = _dvec(vec)
    sketch = F.lit(0)
    for p in range(N_PLANES):
        dot = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(float(w)) for w in _PLANES[p]]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        sketch = sketch + F.when(dot > 0, F.lit(1 << p)).otherwise(0)
    return sketch


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed ANN: join query and corpus on the hyperplane sketch, exact
    cosine re-rank within the bucket.  Recall < 1 by design (single-probe);
    the oracle recomputes the same buckets so results still value-match."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dvec(vec_col).alias("cv"),
        hyperplane_sketch(F.col(vec_col)).alias("bucket"),
    ).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _dvec(vec_col).alias("qv"),
        hyperplane_sketch(F.col(vec_col)).alias("bucket"),
    ).withColumn("qn", _norm(F.col("qv")))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qn") * F.col("cn")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# correctness-gate queries
# ---------------------------------------------------------------------------


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce(e, e.filter(F.col("vec_id") < 10), k=5)


_DUCK_COS = (
    "round(list_dot_product(a.ev, b.ev) / (sqrt(list_dot_product(a.ev, a.ev))"
    " * sqrt(list_dot_product(b.ev, b.ev))), 4)"
)

SQL_KNN_BRUTEFORCE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         {_DUCK_COS} AS cos_sim,
         row_number() OVER (PARTITION BY b.vec_id
                            ORDER BY {_DUCK_COS} DESC, a.vec_id ASC) AS rank
  FROM e a JOIN e b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
) WHERE rank <= 5
"""


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket assignment for every vector — pins the sketch function."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", hyperplane_sketch(F.col("embedding")).alias("bucket"))


def _sql_lsh_buckets() -> str:
    terms = []
    for p in range(N_PLANES):
        arr = ", ".join(str(float(w)) for w in _PLANES[p])
        terms.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], [{arr}]) > 0"
            f" THEN {1 << p} ELSE 0 END"
        )
    return f"SELECT vec_id, {' + '.join(terms)} AS bucket FROM embeddings"


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return knn_lsh(e, e.filter(F.col("vec_id") < 10), k=5)


def _sql_knn_lsh() -> str:
    buckets = _sql_lsh_buckets()
    return f"""
WITH bk AS ({buckets}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS ev, bk.bucket
      FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         {_DUCK_COS} AS cos_sim,
         row_number() OVER (PARTITION BY b.vec_id
                            ORDER BY {_DUCK_COS} DESC, a.vec_id ASC) AS rank
  FROM e a JOIN e b ON b.vec_id < 10 AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
) WHERE rank <= 5
"""


QUERIES = {
    "embedding_knn": (q_knn_bruteforce, SQL_KNN_BRUTEFORCE),
    "embedding_lsh_buckets": (q_lsh_buckets, _sql_lsh_buckets()),
    "embedding_knn_lsh": (q_knn_lsh, _sql_knn_lsh()),
}


def q_embedding_neardup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.25
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH bucket join (corpus vs
    corpus), exact cosine inside buckets — the embedding flavor of
    near-dup detection (dedup.py has the lexical flavors).

    Production near-dup runs at cosine ≥ ~0.9; the driver's synthetic
    embeddings are near-orthogonal (max in-bucket cosine ≈ 0.42), so the
    GATE pins the machinery at 0.25 where the result is non-trivial
    (~40 pairs) instead of vacuously empty."""
    e = load_table(spark, sf_dir, "embeddings")
    return _bucket_neardup_pairs(
        e.select(
            "vec_id",
            _dvec("embedding").alias("v"),
            hyperplane_sketch(F.col("embedding")).alias("bucket"),
        ),
        threshold,
    )


# row-block width for the chunked in-bucket gram matrix: bounds Python
# memory at O(block × bucket) doubles per task however large a hot LSH
# bucket grows (the full n×n gram would be quadratic in the bucket size)
_NEARDUP_GRAM_BLOCK = 4096


def _bucket_neardup_pairs(base: DataFrame, threshold: float) -> DataFrame:
    """All in-bucket pairs (id_a < id_b) at cosine ≥ threshold.

    r14 (guide §4.2 / §8): ONE shuffle of (id, vec) by bucket feeds a
    per-bucket BLAS gram matrix — the old shape self-joined the sketch
    frame (every vector crossed the exchange twice, once per join side)
    and scored each candidate pair with an interpreted
    ``zip_with``/``aggregate`` fold.  Operation order matches the old
    expression and the DuckDB oracle exactly: dot, divide by the norm
    PRODUCT, round 4, then the ≥ threshold filter (verified
    value-hash-equal at all 3 SFs).  The sketch stays the shared JVM
    expression — bucket assignment is part of the declared semantics and
    must not move off the fold that the oracle mirrors.  Ids are sorted
    per bucket so the upper triangle IS the id_a < id_b pair set."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        if n < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        nrm = np.sqrt((V * V).sum(axis=1))
        outs = []
        for s in range(0, n, _NEARDUP_GRAM_BLOCK):
            t = min(s + _NEARDUP_GRAM_BLOCK, n)
            S = V[s:t] @ V[s:].T  # rows s..t against cols s..n (j >= s)
            cos = np.round(S / np.outer(nrm[s:t], nrm[s:]), 4)
            li, lj = np.nonzero(cos >= thr)
            keep = (lj + s) > (li + s)  # strict upper triangle: id_a < id_b
            li, lj = li[keep], lj[keep]
            if len(li):
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[li + s],
                            "id_b": ids[lj + s],
                            "cos_sim": cos[li, lj],
                        }
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return base.groupBy("bucket").applyInPandas(
        _pairs, "id_a long, id_b long, cos_sim double"
    )


def q_embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning sweep for embedding near-dup: in-bucket pair
    counts at a ladder of cosine thresholds in ONE pass (the pair stream
    is computed once; each pair increments every rung it clears via a
    conditional-sum aggregate, no per-threshold re-scan).  This is the
    dial-setting artifact run before committing a corpus-wide near-dup
    threshold."""
    pairs = q_embedding_neardup(spark, sf_dir, threshold=0.0)
    rungs = [0.10, 0.15, 0.20, 0.25, 0.30, 0.35]
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        *[
            F.count(F.when(F.col("cos_sim") >= t, 1)).alias(
                f"ge_{str(t).replace('0.', '')}"
            )
            for t in rungs
        ],
    )


def _sql_embedding_threshold_sweep() -> str:
    rungs = [0.10, 0.15, 0.20, 0.25, 0.30, 0.35]
    conds = ",\n       ".join(
        f"count(CASE WHEN cos_sim >= {t} THEN 1 END) AS ge_{str(t).replace('0.', '')}"
        for t in rungs
    )
    return f"""
WITH pairs AS ({_sql_embedding_neardup(threshold=0.0)})
SELECT count(*) AS n_pairs,
       {conds}
FROM pairs
"""


def _sql_embedding_neardup(threshold: float = 0.25) -> str:
    buckets = _sql_lsh_buckets()
    return f"""
WITH bk AS ({buckets}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS ev, bk.bucket
      FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_DUCK_COS} AS cos_sim
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_DUCK_COS} >= {threshold}
"""


QUERIES["embedding_neardup"] = (q_embedding_neardup, _sql_embedding_neardup())
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality QA: per-label vector-norm distribution (n, dim,
    min/max/discrete-median norm) — catches unnormalized or degenerate
    vectors before they poison cosine pipelines.  One scan, one tiny
    per-label agg; the norm is a codegen HOF fold (no UDF)."""
    e = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        e.select("label", F.size("embedding").alias("dim"), norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("dim").alias("dim"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
            F.round(
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY nrm)"), 4
            ).alias("median_norm"),
        )
    )


SQL_EMBEDDING_NORM_STATS = """
WITH t AS (
  SELECT label, len(embedding) AS dim,
         sqrt(list_aggregate(list_transform(embedding,
                x -> x::DOUBLE * x::DOUBLE), 'sum')) AS nrm
  FROM embeddings
)
SELECT label,
       count(*) AS n_vecs,
       min(dim) AS dim,
       round(min(nrm), 4) AS min_norm,
       round(max(nrm), 4) AS max_norm,
       round(percentile_disc(0.5) WITHIN GROUP (ORDER BY nrm), 4)
         AS median_norm
FROM t
GROUP BY label
"""

QUERIES["embedding_norm_stats"] = (
    q_embedding_norm_stats,
    SQL_EMBEDDING_NORM_STATS,
)


QUERIES["embedding_threshold_sweep"] = (
    q_embedding_threshold_sweep,
    _sql_embedding_threshold_sweep(),
)


def q_embedding_neardup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup keep/drop decision: cosine-verified pairs →
    converged connected components (the shared pointer-jumping fixpoint,
    via neardup_components) → one keep_id per vector — the same linear
    consumer of a quadratic pair stream as the lexical
    `dedup_neardup_keep` (see docs/SCALE.md)."""
    from .dedup import neardup_components  # shared CC consumer

    e = load_table(spark, sf_dir, "embeddings")
    # eager localCheckpoint, not a bare persist: the CC loop references
    # the pair stream every round and the returned DataFrame keeps the
    # lineage — a persist() here has no caller-side handle to unpersist
    # and pins the cache entry for the rest of the session (the same
    # leak q_dedup_minhash_lsh's fallback branch fixes)
    cached = q_embedding_neardup(spark, sf_dir).select("id_a", "id_b").persist()
    pairs = cached.localCheckpoint(eager=True)
    cached.unpersist()
    comp = neardup_components(pairs, e, id_col="vec_id")
    return comp.filter(F.col("keep_id") != F.col("vec_id")).select(
        "vec_id", "keep_id"
    )


def _sql_embedding_neardup_keep() -> str:
    # CONVERGED oracle (r8): the Spark side now wraps the pointer-jumping
    # connected-components fixpoint, and the sf0.1 cosine near-dup graph
    # really does have components deeper than the old 5-round bound
    # (measured: vec 1473 reaches component minimum 112 converged vs 592
    # under bounded-5) — so the oracle is the same recursive-CTE
    # min-reachability closure as graph_connected_components, no round
    # constant to keep in sync.
    neardup = _sql_embedding_neardup()
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (SELECT id_a, id_b FROM ({neardup})),
nb AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM nb
  UNION
  SELECT e.dst, r.label FROM reach r JOIN nb e ON e.src = r.node
  WHERE r.label < e.dst
),
comp AS (SELECT node AS vec_id, min(label) AS keep_id FROM reach GROUP BY node)
SELECT vec_id, keep_id FROM comp WHERE keep_id <> vec_id
"""


QUERIES["embedding_neardup_keep"] = (
    q_embedding_neardup_keep,
    _sql_embedding_neardup_keep(),
)


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer cells + multi-probe search
# ---------------------------------------------------------------------------

N_CENTROIDS = 16
N_PROBE = 4


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """Deterministic coarse codebook: the ``n_centroids`` lowest-id corpus
    vectors — a stand-in for a trained k-means codebook that both engines
    can reproduce; swap in real centroids without changing the plan."""
    return (
        corpus.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), _dvec(vec_col).alias("cv"))
        .withColumn("cn", _norm(F.col("cv")))
    )


def ivf_assignments(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = N_CENTROIDS,
    centroids: DataFrame = None,
) -> DataFrame:
    """Rank every vector against the coarse centroids (cosine, ties by
    centroid id).  ``centroids`` defaults to :func:`ivf_centroids` of the
    input frame — callers assigning a DIFFERENT frame (e.g. queries
    probing corpus cells) MUST pass the corpus codebook explicitly, or
    the two sides rank against different centroid sets.  The assignment
    is one broadcast nested-loop over n_centroids rows (the standard IVF
    coarse-quantization cost, n_centroids × corpus dot products, fully
    partition-parallel)."""
    cent = (
        ivf_centroids(corpus, id_col, vec_col, n_centroids)
        if centroids is None
        else centroids
    )
    # hoist the vector norm: computing it inside the pair expression would
    # redo it once per centroid (n_centroids× the whole corpus)
    v = corpus.select(F.col(id_col), _dvec(vec_col).alias("vv")).withColumn(
        "vn", _norm(F.col("vv"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("vv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("c_sim"), F.asc("cid"))
    return (
        v.crossJoin(F.broadcast(cent))
        .select(
            id_col,
            "cid",
            F.round(dot / (F.col("vn") * F.col("cn")), 6).alias("c_sim"),
        )
        .withColumn("crank", F.row_number().over(w))
    )


def ivf_assignments_arrow(
    frame: DataFrame,
    codebook_rows,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BLAS coarse quantization: same output contract as
    :func:`ivf_assignments` (cosine rounded to 6, crank ties by cid) but
    scored as one ``batch @ centroids.T`` matmul per Arrow batch instead
    of n_centroids interpreted array-folds per vector — the HOF fold is
    the assignment's whole cost at scale.  ``codebook_rows`` is the
    COLLECTED centroid set (bounded: n_centroids rows — same precedent as
    the broadcast query set in :func:`knn_bruteforce_arrow`); vectors
    never leave their partitions."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    spark = frame.sparkSession
    cids = np.array([r[0] for r in codebook_rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in codebook_rows], dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    bc = spark.sparkContext.broadcast((cids, C, cn))

    schema = StructType(
        [
            frame.schema[id_col],
            StructField("cid", LongType()),
            StructField("c_sim", DoubleType()),
            StructField("crank", IntegerType()),
        ]
    )

    def _assign(batches):
        import pandas as pd

        k_cids, k_C, k_cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            vn = np.sqrt((V * V).sum(axis=1))
            S = np.round((V @ k_C.T) / np.outer(vn, k_cn), 6)
            out = {id_col: [], "cid": [], "c_sim": [], "crank": []}
            for i, rid in enumerate(pdf[id_col]):
                order = np.lexsort((k_cids, -S[i]))
                for rank, j in enumerate(order, start=1):
                    out[id_col].append(rid)
                    out["cid"].append(int(k_cids[j]))
                    out["c_sim"].append(float(S[i][j]))
                    out["crank"].append(rank)
            yield pd.DataFrame(out)

    return frame.select(id_col, vec_col).mapInPandas(_assign, schema)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = N_PROBE,
    assign: str = "jvm",
) -> DataFrame:
    """IVF search: corpus vectors live in their nearest-centroid cell;
    each query probes its ``n_probe`` nearest cells and re-ranks exactly
    inside them.  The cell join keys on a small int, so the shuffle moves
    (cell, vector) rows once — at 100 TB the probed fraction
    (n_probe/n_centroids) bounds the scanned corpus share, which is the
    entire point of IVF vs brute force.

    ``assign="jvm"`` scores the coarse quantization with pure-JVM array
    folds (dependency-free); ``assign="arrow"`` uses the BLAS matmul path
    (:func:`ivf_assignments_arrow`) — identical rounded output
    (pinned by ``test_ivf_assignment_paths_agree``), ~2× faster wall on
    the 16× corpus pass that dominates this query."""
    codebook = ivf_centroids(corpus, id_col, vec_col)
    if assign == "arrow":
        codebook_rows = codebook.select("cid", "cv").collect()

        def _assigned(frame):
            return ivf_assignments_arrow(frame, codebook_rows, id_col, vec_col)

    else:

        def _assigned(frame):
            return ivf_assignments(frame, id_col, vec_col, centroids=codebook)

    cells = (
        _assigned(corpus)
        .filter(F.col("crank") == 1)
        .select(F.col(id_col).alias("neighbor_id"), "cid")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    corpus_cells = c.join(cells, "neighbor_id")
    probes = (
        # queries rank against the CORPUS codebook — assigning them against
        # their own low-id vectors silently probes the wrong cells
        _assigned(queries)
        .filter(F.col("crank") <= n_probe)
        .select(F.col(id_col).alias("query_id"), "cid")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    probe_q = probes.join(q, "query_id")
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        corpus_cells.join(F.broadcast(probe_q), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qn") * F.col("cn")), 4).alias("cos_sim"),
        )
        .distinct()  # a neighbor reachable via several probed cells counts once
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # arrow assignment: the scale path (and the bench path); the JVM fold
    # is pinned equal by test_ivf_assignment_paths_agree
    return knn_ivf(e, e.filter(F.col("vec_id") < 10), k=5, assign="arrow")


def _sql_knn_ivf() -> str:
    cos_ac = (
        "round(list_dot_product(a.ev, c.cv) / (sqrt(list_dot_product(a.ev, a.ev))"
        " * sqrt(list_dot_product(c.cv, c.cv))), 6)"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
cent AS (SELECT vec_id AS cid, ev AS cv FROM e WHERE vec_id < {N_CENTROIDS}),
assign AS (
  SELECT a.vec_id, c.cid,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {cos_ac} DESC, c.cid ASC) AS crank
  FROM e a CROSS JOIN cent c
),
cells AS (SELECT vec_id AS neighbor_id, cid FROM assign WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, cid FROM assign
           WHERE vec_id < 10 AND crank <= {N_PROBE}),
scored AS (
  SELECT DISTINCT p.query_id, cc.neighbor_id, {_DUCK_COS} AS cos_sim
  FROM cells cc
  JOIN probes p ON cc.cid = p.cid
  JOIN e a ON a.vec_id = cc.neighbor_id
  JOIN e b ON b.vec_id = p.query_id
  WHERE cc.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


QUERIES["embedding_knn_ivf"] = (q_knn_ivf, _sql_knn_ivf())


_EXACT_KNN_CACHE: dict = {}


def _recall_gate(spark, sf_dir, approx_fn) -> DataFrame:
    """Per-query recall@5 of an approximate ranking against the exact
    brute-force ranking — quantization/probe loss measured, not guessed
    (same sketch-accuracy-gate pattern as approx_distinct); shared by
    the int8 / IVF / LSH / PQ / IVFPQ recall gates so the semantics live
    in ONE place (round-4 review: three verbatim copies).  The exact
    ranking is the same 50-row frame for every recall gate in a session —
    memoized like the other derived artifacts."""
    import os

    from ..memo import stamped_memo

    exact = stamped_memo(
        _EXACT_KNN_CACHE,
        (spark.sparkContext.applicationId, sf_dir),
        os.path.join(sf_dir, "embeddings.parquet"),
        lambda: q_knn_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True),
    )
    approx = approx_fn(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hits = exact.join(
        approx,
        (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        (F.count("an") / 5.0).alias("recall_at_5")
    )


def _sql_recall(approx_sql: str) -> str:
    return f"""
WITH exact AS ({SQL_KNN_BRUTEFORCE}),
approx AS ({approx_sql})
SELECT e.query_id, count(a.neighbor_id) / 5.0 AS recall_at_5
FROM exact e
LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (multi-probe) recall@5 vs exact — the probe-count tuner."""
    return _recall_gate(spark, sf_dir, q_knn_ivf)


QUERIES["embedding_ivf_recall"] = (q_ivf_recall, _sql_recall(_sql_knn_ivf()))


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-PROBE hyperplane-LSH recall@5 vs exact — measures the
    recall loss the docstrings only assert, justifying multiprobe."""
    return _recall_gate(spark, sf_dir, q_knn_lsh)


QUERIES["embedding_lsh_recall"] = (q_lsh_recall, _sql_recall(_sql_knn_lsh()))


# ---------------------------------------------------------------------------
# Matryoshka truncation (Kusupati et al. 2022, "Matryoshka Representation
# Learning"): retrieval over only the FIRST d' dims of each embedding —
# the standard funnel trick where a cheap truncated pass shortlists and
# the full vector only rescores the shortlist.  The audit here measures
# what the shortlist pass gives up: exact top-k under truncated cosine,
# plus the paired recall gate against the full-dimension ranking.
# ---------------------------------------------------------------------------

MRL_DIM = 16  # truncation prefix (full vectors are 64-dim)


def q_knn_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k under FIRST-``MRL_DIM``-dims cosine.

    Scale design: identical to ``embedding_knn`` (broadcast queries ×
    corpus scan, group-limited window) but every distance touches 4×
    fewer floats — at 100 TB this is the cheap first pass of a
    truncate-then-rescore funnel, and the slice happens in the scan
    projection so the shuffle/broadcast never carries the full vector.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice(F.col("embedding"), 1, MRL_DIM).alias("embedding")
    )
    return knn_bruteforce(e, e.filter(F.col("vec_id") < 10), k=5)


def _sql_knn_mrl() -> str:
    return f"""
WITH e AS (SELECT vec_id, (embedding::DOUBLE[])[1:{MRL_DIM}] AS ev FROM embeddings)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         {_DUCK_COS} AS cos_sim,
         row_number() OVER (PARTITION BY b.vec_id
                            ORDER BY {_DUCK_COS} DESC, a.vec_id ASC) AS rank
  FROM e a JOIN e b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
) WHERE rank <= 5
"""


QUERIES["embedding_knn_mrl"] = (q_knn_mrl, _sql_knn_mrl())


def q_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the ``MRL_DIM``-dim truncated ranking vs the full
    64-dim exact ranking — the number that decides whether a truncated
    shortlist pass (with full-dim rescoring) is safe for this corpus."""
    return _recall_gate(spark, sf_dir, q_knn_mrl)


QUERIES["embedding_mrl_recall"] = (q_mrl_recall, _sql_recall(_sql_knn_mrl()))


# ---------------------------------------------------------------------------
# Arrow/BLAS scale path for brute-force scoring
# ---------------------------------------------------------------------------


def knn_bruteforce_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k as one BLAS matmul per Arrow batch.

    Same semantics as :func:`knn_bruteforce` (cos rounded to 4, identical
    tie-breaks) but the scoring is ``corpus_batch @ queries.T`` inside a
    ``mapInPandas`` — measured ~2× the JVM higher-order-fold at 64 dims ×
    10 queries and the gap grows linearly with query count and dimension
    (BLAS vs interpreted per-element fold).  The query matrix rides a
    broadcast variable; the corpus never shuffles before scoring; only
    (query, neighbor, score) rows reach the top-k window.  This is the
    path to take when the query set is hundreds+ of vectors; the JVM fold
    stays as the dependency-free oracle-checked baseline.
    """
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    spark = corpus.sparkSession
    qrows = _take_query_set(queries, id_col, vec_col, "knn_bruteforce_arrow")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((qids, Qn))

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def _score(batches):
        import pandas as pd

        qid, qn = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ qn.T  # (batch, queries)
            n = len(pdf)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qid, n),
                    "neighbor_id": np.tile(
                        pdf[id_col].values.astype("int64"), len(qid)
                    ),
                    "cos_sim": np.round(S.T.ravel(), 4),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    scored = corpus.select(id_col, vec_col).mapInPandas(_score, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def knn_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH ANN: each query probes its own bucket plus every
    hamming-1 neighbor bucket (flip one sketch bit → ``n_planes`` extra
    probes).  Recall rises steeply — a near-neighbor differing in one
    hyperplane sign is recovered — for (n_planes+1)× the *query-side*
    join fan-out only; the corpus side is untouched, so at 100 TB the
    added cost is proportional to the (tiny) query set, not the corpus."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dvec(vec_col).alias("cv"),
        hyperplane_sketch(F.col(vec_col)).alias("bucket"),
    ).withColumn("cn", _norm(F.col("cv")))
    base = queries.select(
        F.col(id_col).alias("query_id"),
        _dvec(vec_col).alias("qv"),
        hyperplane_sketch(F.col(vec_col)).alias("b0"),
    ).withColumn("qn", _norm(F.col("qv")))
    probes = F.array_distinct(
        F.array(
            F.col("b0"),
            *[F.col("b0").bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)],
        )
    )
    q = base.select(
        "query_id", "qv", "qn", F.explode(probes).alias("bucket")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qn") * F.col("cn")), 4).alias("cos_sim"),
        )
        .distinct()  # a neighbor can surface via several probed buckets
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def q_knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return knn_lsh_multiprobe(e, e.filter(F.col("vec_id") < 10), k=5)


def _sql_knn_lsh_multiprobe() -> str:
    buckets = _sql_lsh_buckets()
    flips = ", ".join(f"xor(b0, {1 << p})" for p in range(N_PLANES))
    return f"""
WITH bk AS ({buckets}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS ev, bk.bucket
      FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id),
probes AS (
  SELECT vec_id AS query_id,
         unnest(list_distinct([CAST(b0 AS BIGINT), {flips}])) AS bucket
  FROM (SELECT vec_id, bucket AS b0 FROM bk WHERE vec_id < 10)
),
scored AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id, {_DUCK_COS} AS cos_sim
  FROM probes p
  JOIN e a ON a.bucket = p.bucket
  JOIN e b ON b.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


QUERIES["embedding_knn_lsh_multiprobe"] = (
    q_knn_lsh_multiprobe,
    _sql_knn_lsh_multiprobe(),
)


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8): 4× smaller vectors, integer-exact scoring
# ---------------------------------------------------------------------------


def int8_quantize(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization: q_i = floor(x_i/scale + .5)
    with scale = max|x|/127 — the FAISS-SQ8-style compression that cuts
    vector bytes 4× (the scan-dominant cost of a 100 TB ANN pass).

    Returns ``struct<q: array<long>, scale: double>``.  The codes are
    integer-valued, so downstream dot products and norms are EXACT integer
    arithmetic — the quantized score is bit-identical in any engine (no
    float-summation-order drift at all), which is why the gate can hash
    the full quantized ranking rather than a recall boolean.
    floor(x + 0.5), not round(): a code boundary tie must not depend on
    the engine's rounding mode (same lesson as tpch_rest.q2).
    """
    v = _dvec(vec)
    mx = F.aggregate(
        F.transform(v, F.abs), F.lit(0.0), lambda s, x: F.greatest(s, x)
    )
    scale = F.when(mx > 0.0, mx / 127.0).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.floor(x / scale + 0.5).cast("long"))
    return F.struct(q.alias("q"), scale.alias("scale"))


def knn_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k on int8-quantized vectors, scored in Arrow batches.

    The quantized codes are integer-valued, so the ``codes @ codes.T`` dot
    products are EXACT int64 arithmetic — bit-identical ranking in any
    engine — and the final cosine is one double division + floor per pair,
    the same operation order as the SQL oracle.  Scoring runs as a numpy
    integer matmul inside ``mapInPandas`` (the r3 interpreted
    ``F.aggregate``/``zip_with`` fold was the only bench regression —
    interpreted HOFs are ~2× codegen and this path is ~5× the fold);
    per-batch partial top-k under the global (cos desc, id asc) comparator
    means only batches × queries × k rows reach the final window."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    spark = corpus.sparkSession
    qrows = _take_query_set(queries, id_col, vec_col, "knn_int8")

    def _codes(mat: "np.ndarray") -> "np.ndarray":
        # identical double ops to int8_quantize: scale = max|x|/127,
        # q = floor(x/scale + 0.5) — IEEE754 gives the same codes
        mx = np.abs(mat).max(axis=1, keepdims=True)
        scale = np.where(mx > 0.0, mx / 127.0, 1.0)
        return np.floor(mat / scale + 0.5).astype(np.int64)

    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Qc = _codes(np.array([list(r[1]) for r in qrows], dtype=np.float64))
    qn = np.sqrt((Qc * Qc).sum(axis=1).astype(np.float64))
    bq = spark.sparkContext.broadcast((qids, Qc, qn))

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cos_q", DoubleType()),
        ]
    )
    kk = k

    def _score(batches):
        import pandas as pd

        qid, qc, qnorm = bq.value
        nq = len(qid)
        if nq == 0:
            # empty query set: (0,)-shaped Qc breaks the matmul and
            # np.concatenate([]) raises — yield nothing, matching the
            # empty result the old crossJoin(broadcast(q)) shape produced
            return
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Cc = _codes(C)
            cn = np.sqrt((Cc * Cc).sum(axis=1).astype(np.float64))
            dot = (Cc @ qc.T).astype(np.float64)  # exact int64 → double
            # same op order as the fold/oracle: dot/(sqrt*sqrt)*10000,
            # floor, /10000.0
            cos = np.floor(dot / (qnorm[None, :] * cn[:, None]) * 10000) / 10000.0
            nid = pdf[id_col].to_numpy(dtype=np.int64)
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                col = cos[:, j]
                mask = nid != qid[j]
                ids_j, cos_j = nid[mask], col[mask]
                if len(ids_j) > kk:
                    # partial top-k under the global comparator
                    # (cos desc, id asc): lexsort keys are last-primary
                    order = np.lexsort((ids_j, -cos_j))[:kk]
                else:
                    order = np.lexsort((ids_j, -cos_j))
                out_q.append(np.full(len(order), qid[j], dtype=np.int64))
                out_n.append(ids_j[order])
                out_c.append(cos_j[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos_q": np.concatenate(out_c),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(_score, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_q", "rank")
    )


def q_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return knn_int8(e, e.filter(F.col("vec_id") < 10), k=5)


_DUCK_Q8 = (
    "list_transform(ev, x -> CAST(floor(x / (CASE WHEN mx > 0 THEN mx / 127.0"
    " ELSE 1.0 END) + 0.5) AS BIGINT))"
)

SQL_KNN_INT8 = f"""
WITH e AS (
  SELECT vec_id, {_DUCK_Q8} AS q
  FROM (SELECT vec_id, embedding::DOUBLE[] AS ev,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
        FROM embeddings)
), n AS (
  SELECT vec_id, q,
         list_sum(list_transform(q, x -> x * x)) AS n2
  FROM e
)
SELECT query_id, neighbor_id, cos_q, rank FROM (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         floor(list_dot_product(b.q, a.q)
               / (sqrt(b.n2) * sqrt(a.n2)) * 10000) / 10000.0 AS cos_q,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY floor(list_dot_product(b.q, a.q)
                          / (sqrt(b.n2) * sqrt(a.n2)) * 10000) / 10000.0 DESC,
                    a.vec_id ASC) AS rank
  FROM n a JOIN n b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
) WHERE rank <= 5
"""

QUERIES["embedding_knn_int8"] = (q_knn_int8, SQL_KNN_INT8)


def q_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantization recall@5 vs exact float ranking."""
    return _recall_gate(spark, sf_dir, q_knn_int8)


QUERIES["embedding_int8_recall"] = (q_int8_recall, _sql_recall(SQL_KNN_INT8))


def q_knn_bruteforce_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAS scale path of the brute-force knn.  Shares the JVM fold's
    oracle: both round cos to 4 decimals before ranking, so numpy's
    pairwise summation would have to land within ~1e-12 of a 5e-5
    rounding boundary to diverge from the sequential SQL fold — verified
    hash-identical at sf0.001/0.01/0.1 on the fixed testdata (plus the
    pytest equivalence test against the oracle-checked JVM fold)."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce_arrow(e, e.filter(F.col("vec_id") < 10), k=5)


QUERIES["embedding_knn_arrow"] = (q_knn_bruteforce_arrow, SQL_KNN_BRUTEFORCE)


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding statistics (mean, variance, extremes) — the
    complement of the per-vector norm QA: a dimension whose mean drifts
    from 0 or whose variance collapses flags a broken encoder/projection
    long before cosine recall degrades.  One posexplode + one map-combined
    aggregate keyed on the dimension index (64 groups); variance via the
    Σx²/n − mean² identity computed with the SAME op order on both
    engines, round(4) absorbing reassociation noise."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    x = F.col("x").cast("double")
    d = e.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).alias("dim"), x.alias("xd")
    )
    mean = F.sum("xd") / F.count(F.lit(1))
    meansq = F.sum(F.col("xd") * F.col("xd")) / F.count(F.lit(1))
    # + 0.0 normalizes IEEE negative zero: a mean rounding to zero from
    # below renders -0.0 in DuckDB but 0.0 in Spark and the hash differs
    return d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(mean, 4) + F.lit(0.0)).alias("mean"),
        (F.round(meansq - mean * mean, 4) + F.lit(0.0)).alias("variance"),
        (F.round(F.min("xd"), 4) + F.lit(0.0)).alias("min_x"),
        (F.round(F.max("xd"), 4) + F.lit(0.0)).alias("max_x"),
    )


SQL_EMBEDDING_DIM_STATS = f"""
WITH d AS (
  SELECT t.i AS dim, embedding[t.i]::DOUBLE AS xd
  FROM embeddings CROSS JOIN range(1, {DIM + 1}) t(i)
  WHERE embedding IS NOT NULL
)
SELECT CAST(dim AS INT) AS dim,
       count(*) AS n,
       round(sum(xd) / count(*), 4) + 0.0 AS mean,
       round(sum(xd * xd) / count(*)
             - (sum(xd) / count(*)) * (sum(xd) / count(*)), 4) + 0.0 AS variance,
       round(min(xd), 4) + 0.0 AS min_x,
       round(max(xd), 4) + 0.0 AS max_x
FROM d
GROUP BY dim
"""

QUERIES["embedding_dim_stats"] = (q_embedding_dim_stats, SQL_EMBEDDING_DIM_STATS)


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain search
# ---------------------------------------------------------------------------

PQ_M = 8                    # subspaces
PQ_SUB = DIM // PQ_M        # 8 dims per subspace
PQ_K = 16                   # centroids per subspace -> 4-bit codes, 8 B/vector


def pq_codes(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: (id, m, code) — per subspace, the nearest sub-centroid
    by L2 (rounded to 6, ties to the lower centroid id; the same pinned
    tie-break as the k-means/IVF assignments).

    This is the operator that makes 100 TB of embeddings searchable in
    RAM: 64 float32 dims (256 B) compress to M=8 nibbles (~8 B here, 4 B
    packed).  Like IVF, the codebook is the deterministic lowest-id
    stand-in for a trained one — the plan shape (broadcast M*K
    sub-centroids, one argmin per subspace per vector, NO shuffle of the
    corpus) is exactly the trained-codebook plan.
    """
    subarr = F.array(
        *[F.slice(_dvec(vec_col), m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
    )
    exploded = corpus.select(
        F.col(id_col), F.posexplode(subarr).alias("m", "xv")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("xv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
        6,
    )
    w = Window.partitionBy(id_col, "m").orderBy(F.asc("d2"), F.asc("cid"))
    return (
        exploded.join(F.broadcast(codebook), "m")
        .select(id_col, "m", "cid", d2.alias("d2"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(id_col, "m", F.col("cid").alias("code"))
    )


def pq_codebook(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(m, cid, cv): sub-vectors of the PQ_K lowest-id corpus vectors —
    deterministic stand-in for per-subspace k-means, as in IVF."""
    base = corpus.filter(F.col(id_col) < PQ_K).select(
        F.col(id_col).alias("cid"), _dvec(vec_col).alias("v")
    )
    parts = [
        base.select(
            F.lit(m).alias("m"),
            "cid",
            F.slice(F.col("v"), m * PQ_SUB + 1, PQ_SUB).alias("cv"),
        )
        for m in range(PQ_M)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_reconstruct(
    codes: DataFrame, cb: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """(id, rv): PQ reconstruction — each vector's selected sub-centroids
    re-assembled in subspace order (sort_array over (m, cv) structs keeps
    the concat deterministic).  Shared by the flat-PQ and IVF+PQ search
    paths so a tie-break or rounding change cannot desynchronize them."""
    return (
        codes.join(F.broadcast(cb), (codes.m == cb.m) & (codes.code == cb.cid))
        .select(F.col(id_col), codes.m.alias("sm"), "cv")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct(F.col("sm"), F.col("cv")))),
                    lambda s: s["cv"],
                )
            ).alias("rv")
        )
    )


# The PQ reconstruction of the gate corpus, memoized per (session,
# sf_dir, embeddings stamp) — the encode+reconstruct pipeline (subspace
# explode × codebook argmin × sorted reassembly) is the expensive half
# of the PQ family and is consumed VERBATIM by four gates
# (embedding_knn_pq / _ivfpq and both recall gates, which re-invoke the
# query functions).  Same published-artifact pattern as the graph edge
# and Lloyd-centroid memos: at 100 TB the PQ code table is maintained
# as an index artifact, never re-encoded per query.
_PQ_RECON_CACHE: dict = {}


def _pq_recon_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..memo import stamped_memo

    def build():
        e = load_table(spark, sf_dir, "embeddings")
        cb = pq_codebook(e)
        return pq_reconstruct(pq_codes(e, cb), cb).localCheckpoint(eager=True)

    return stamped_memo(
        _PQ_RECON_CACHE,
        (spark.sparkContext.applicationId, sf_dir),
        os.path.join(sf_dir, "embeddings.parquet"),
        build,
    )


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recon: DataFrame = None,
) -> DataFrame:
    """Top-k by cosine in the COMPRESSED domain: each corpus vector is
    replaced by its PQ reconstruction (concat of its selected
    sub-centroids) and ranked against the query exactly.

    Production ADC evaluates the same value through an M×K distance
    lookup table instead of materializing the reconstruction — a runtime
    optimization of an identical quantity; the reconstruction form keeps
    the whole query inside the proven codegen-fold + round-6/round-4
    parity envelope.  Scale shape: codes + reconstruction are one
    broadcast join + one sorted re-assembly per vector (no corpus
    shuffle); scoring is the brute-force broadcast pattern over the
    reconstructed corpus.  ``recon`` injects a prebuilt reconstruction
    artifact (see :func:`_pq_recon_for`); when None it is built inline."""
    if recon is None:
        cb = pq_codebook(corpus, id_col, vec_col)
        codes = pq_codes(corpus, cb, id_col, vec_col)
        recon = pq_reconstruct(codes, cb, id_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    r = recon.select(F.col(id_col).alias("neighbor_id"), "rv").withColumn(
        "rn", _norm(F.col("rv"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("rv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        r.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qn") * F.col("rn")), 4).alias("pq_cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("pq_cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_cos_sim", "rank")
    )


def _sql_pq_fragments() -> dict:
    """Shared DuckDB fragments for the PQ family: sub-vector arms, the
    per-subspace codebook arms, and the rounded sub-distance — ONE
    definition consumed by both _sql_knn_pq and _sql_knn_ivfpq."""
    subd = (
        f"round(list_sum(list_transform(range(1, {PQ_SUB + 1}), "
        "i -> (xv[i] - cv[i]) * (xv[i] - cv[i]))), 6)"
    )
    sub_arms = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, ev[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}] AS xv FROM e"
        for m in range(PQ_M)
    )
    cb_arms = " UNION ALL ".join(
        f"SELECT {m} AS m, vec_id AS cid, ev[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}] AS cv "
        f"FROM e WHERE vec_id < {PQ_K}"
        for m in range(PQ_M)
    )
    return {"subd": subd, "sub_arms": sub_arms, "cb_arms": cb_arms}


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return knn_pq(
        e, e.filter(F.col("vec_id") < 10), k=5, recon=_pq_recon_for(spark, sf_dir)
    )


def _sql_knn_pq() -> str:
    f = _sql_pq_fragments()
    subd, sub_arms, cb_arms = f["subd"], f["sub_arms"], f["cb_arms"]
    cos = (
        "round(list_dot_product(q.qv, r.rv) / (sqrt(list_dot_product(q.qv, q.qv))"
        " * sqrt(list_dot_product(r.rv, r.rv))), 4)"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
subs AS ({sub_arms}),
cb AS MATERIALIZED ({cb_arms}),
assign AS (
  SELECT s.vec_id, s.m, c.cid,
         row_number() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY {subd} ASC, c.cid ASC) AS r
  FROM subs s JOIN cb c USING (m)
),
codes AS (SELECT vec_id, m, cid AS code FROM assign WHERE r = 1),
recon AS (
  SELECT k.vec_id, flatten(list(c.cv ORDER BY k.m)) AS rv
  FROM codes k JOIN cb c ON c.m = k.m AND c.cid = k.code
  GROUP BY k.vec_id
),
q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id < 10),
r AS (SELECT vec_id AS neighbor_id, rv FROM recon),
scored AS (
  SELECT q.query_id, r.neighbor_id, {cos} AS pq_cos_sim
  FROM r CROSS JOIN q
  WHERE r.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, pq_cos_sim, rank FROM (
  SELECT query_id, neighbor_id, pq_cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY pq_cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


QUERIES["embedding_knn_pq"] = (q_knn_pq, _sql_knn_pq())


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall@5 vs exact — the compression-loss tuner (M, K)."""
    return _recall_gate(spark, sf_dir, q_knn_pq)


QUERIES["embedding_pq_recall"] = (q_pq_recall, _sql_recall(_sql_knn_pq()))


# ---------------------------------------------------------------------------
# IVF+PQ composed search: the billion-scale ANN index architecture
# ---------------------------------------------------------------------------


def knn_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = N_PROBE,
    recon: DataFrame = None,
) -> DataFrame:
    """IVF cell pruning + PQ compressed-domain ranking — the two-level
    index (FAISS ``IVFx,PQy``) that serves billion-vector corpora: the
    coarse quantizer bounds WHICH vectors are scored (n_probe/n_centroids
    of the corpus), PQ bounds WHAT is stored per vector (codes, not
    floats).  Composition of the gated building blocks: cell routing from
    :func:`ivf_assignments`, ranking against PQ reconstructions from
    :func:`pq_codes`/:func:`pq_codebook`.  At 100 TB the residual
    encoding (PQ over vector minus cell centroid) is the production
    refinement — same plan, one extra zip_with subtraction before
    encoding."""
    codebook = ivf_centroids(corpus, id_col, vec_col)
    cells = (
        ivf_assignments(corpus, id_col, vec_col, centroids=codebook)
        .filter(F.col("crank") == 1)
        .select(F.col(id_col).alias("neighbor_id"), "cid")
    )
    if recon is None:
        cb = pq_codebook(corpus, id_col, vec_col)
        codes = pq_codes(corpus, cb, id_col, vec_col)
        recon = pq_reconstruct(codes, cb, id_col)
    corpus_side = (
        recon.select(F.col(id_col).alias("neighbor_id"), "rv")
        .join(cells, "neighbor_id")
        .withColumn("rn", _norm(F.col("rv")))
    )
    probes = (
        ivf_assignments(queries, id_col, vec_col, centroids=codebook)
        .filter(F.col("crank") <= n_probe)
        .select(F.col(id_col).alias("query_id"), "cid")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    probe_q = probes.join(q, "query_id")
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("rv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        corpus_side.join(F.broadcast(probe_q), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qn") * F.col("rn")), 4).alias("pq_cos_sim"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("pq_cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_cos_sim", "rank")
    )


def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return knn_ivfpq(
        e, e.filter(F.col("vec_id") < 10), k=5, recon=_pq_recon_for(spark, sf_dir)
    )


def _sql_knn_ivfpq() -> str:
    cos_ac = (
        "round(list_dot_product(a.ev, c.cv) / (sqrt(list_dot_product(a.ev, a.ev))"
        " * sqrt(list_dot_product(c.cv, c.cv))), 6)"
    )
    f = _sql_pq_fragments()
    subd, sub_arms, cb_arms = f["subd"], f["sub_arms"], f["cb_arms"]
    cos_qr = (
        "round(list_dot_product(q.qv, r.rv) / (sqrt(list_dot_product(q.qv, q.qv))"
        " * sqrt(list_dot_product(r.rv, r.rv))), 4)"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
cent AS (SELECT vec_id AS ccid, ev AS cv FROM e WHERE vec_id < {N_CENTROIDS}),
assign AS (
  SELECT a.vec_id, c.ccid,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round(list_dot_product(a.ev, c.cv)
                              / (sqrt(list_dot_product(a.ev, a.ev))
                                 * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                            c.ccid ASC) AS crank
  FROM e a CROSS JOIN cent c
),
cells AS (SELECT vec_id AS neighbor_id, ccid FROM assign WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, ccid FROM assign
           WHERE vec_id < 10 AND crank <= {N_PROBE}),
subs AS ({sub_arms}),
pqcb AS MATERIALIZED ({cb_arms}),
passign AS (
  SELECT s.vec_id, s.m, c.cid,
         row_number() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY {subd} ASC, c.cid ASC) AS r
  FROM subs s JOIN pqcb c USING (m)
),
codes AS (SELECT vec_id, m, cid AS code FROM passign WHERE r = 1),
recon AS (
  SELECT k.vec_id, flatten(list(c.cv ORDER BY k.m)) AS rv
  FROM codes k JOIN pqcb c ON c.m = k.m AND c.cid = k.code
  GROUP BY k.vec_id
),
q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id < 10),
r AS (SELECT vec_id AS neighbor_id, rv FROM recon),
scored AS (
  SELECT DISTINCT p.query_id, cc.neighbor_id, {cos_qr} AS pq_cos_sim
  FROM cells cc
  JOIN probes p ON cc.ccid = p.ccid
  JOIN r ON r.neighbor_id = cc.neighbor_id
  JOIN q ON q.query_id = p.query_id
  WHERE cc.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, pq_cos_sim, rank FROM (
  SELECT query_id, neighbor_id, pq_cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY pq_cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


QUERIES["embedding_knn_ivfpq"] = (q_knn_ivfpq, _sql_knn_ivfpq())


def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ recall@5 vs exact — probe loss × quantization loss, the
    number a two-level index deployment is tuned against."""
    return _recall_gate(spark, sf_dir, q_knn_ivfpq)


QUERIES["embedding_ivfpq_recall"] = (q_ivfpq_recall, _sql_recall(_sql_knn_ivfpq()))


# ---------------------------------------------------------------------------
# Hard-negative mining: the contrastive-training data generator
# ---------------------------------------------------------------------------


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most-similar vectors with a DIFFERENT label per anchor —
    hard negatives for contrastive training (easy negatives teach
    nothing; the highest-similarity wrong-label examples carry the
    gradient).  Same broadcast brute-force scoring as the exact kNN
    baseline with one extra label-inequality predicate pushed into the
    pair filter — at 100 TB the anchor set is the bounded side and the
    corpus never shuffles; the bucketed LSH/IVF paths mine approximate
    hard negatives with the identical predicate."""
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 10)
    q = anchors.select(
        F.col("vec_id").alias("query_id"),
        _dvec("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        _dvec("embedding").alias("cv"),
        F.col("label").alias("n_label"),
    ).withColumn("cn", _norm(F.col("cv")))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_label") != F.col("q_label"))
        .select(
            "query_id",
            F.col("q_label").cast("long").alias("q_label"),
            "neighbor_id",
            F.col("n_label").cast("long").alias("n_label"),
            F.round(dot / (F.col("qn") * F.col("cn")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "q_label", "neighbor_id", "n_label", "cos_sim", "rank")
    )


_SQL_HARD_NEGATIVES = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings),
q AS (SELECT vec_id AS query_id, ev AS qv, label AS q_label FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, CAST(q.q_label AS BIGINT) AS q_label,
         c.vec_id AS neighbor_id, CAST(c.label AS BIGINT) AS n_label,
         round(list_dot_product(q.qv, c.ev)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.ev, c.ev))), 4) AS cos_sim
  FROM e c CROSS JOIN q
  WHERE c.label <> q.q_label
)
SELECT query_id, q_label, neighbor_id, n_label, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

QUERIES["embedding_hard_negatives"] = (q_hard_negatives, _SQL_HARD_NEGATIVES)


# ---------------------------------------------------------------------------
# IVF index balance: the maintenance trigger
# ---------------------------------------------------------------------------


def q_index_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-occupancy report for the IVF index: per-cell vector counts
    plus the imbalance summary (max_cell * n_cells * 1e6 / total — 1e6 =
    perfectly balanced).  This is the metric that triggers re-training
    the coarse quantizer: probe cost is bounded by the LARGEST probed
    cell, so a skewed index silently loses the n_probe/n_centroids
    speedup IVF exists for.  Same artifact family as
    quality_partition_balance, aimed at the index instead of the
    shuffle.  Empty cells MUST appear as zero rows (a dead centroid is
    exactly the pathology this trigger exists to expose — round-4
    review), so occupied-cell counts join a full centroid spine."""
    e = load_table(spark, sf_dir, "embeddings")
    spine = e.sparkSession.range(N_CENTROIDS).select(
        F.col("id").cast("long").alias("cid")
    )
    occupied = (
        ivf_assignments(e)
        .filter(F.col("crank") == 1)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    cells = spine.join(F.broadcast(occupied), "cid", "left").select(
        "cid", F.coalesce("n_vectors", F.lit(0)).alias("n_vectors")
    )
    summary = cells.agg(
        F.lit(N_CENTROIDS).alias("n_cells"),
        F.min("n_vectors").alias("min_cell"),
        F.max("n_vectors").alias("max_cell"),
        F.expr(
            f"(max(n_vectors) * {N_CENTROIDS} * 1000000) DIV sum(n_vectors)"
        ).alias("imbalance_ppm"),
    )
    return summary


_SQL_INDEX_BALANCE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
cent AS (SELECT vec_id AS cid, ev AS cv FROM e WHERE vec_id < {N_CENTROIDS}),
assign AS (
  SELECT a.vec_id, c.cid,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round(list_dot_product(a.ev, c.cv)
                              / (sqrt(list_dot_product(a.ev, a.ev))
                                 * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                            c.cid ASC) AS crank
  FROM e a CROSS JOIN cent c
),
occupied AS (
  SELECT cid, count(*) AS n_vectors FROM assign WHERE crank = 1 GROUP BY cid
),
cells AS (
  SELECT s.cid, CAST(coalesce(o.n_vectors, 0) AS BIGINT) AS n_vectors
  FROM (SELECT unnest(range(0, {N_CENTROIDS})) AS cid) s
  LEFT JOIN occupied o USING (cid)
)
SELECT {N_CENTROIDS} AS n_cells,
       min(n_vectors) AS min_cell,
       max(n_vectors) AS max_cell,
       CAST((max(n_vectors) * {N_CENTROIDS} * 1000000) // sum(n_vectors)
            AS BIGINT) AS imbalance_ppm
FROM cells
"""

QUERIES["embedding_index_balance"] = (q_index_balance, _SQL_INDEX_BALANCE)


# ---------------------------------------------------------------------------
# kNN label-agreement audit: dataset/label-quality evaluation over the
# embedding space — for each audited vector, the fraction of its k nearest
# neighbors sharing its label.  Low purity = candidate labeling error or a
# class-boundary region; the per-label report is the standard first look a
# training-data pipeline takes at a labeled corpus before training.
#
# Scale shape: the audit runs over a FIXED sample of query vectors (the
# same broadcast-queries x corpus plan as `knn_bruteforce` — corpus-side
# partition-parallel, nothing corpus-shaped shuffles), and the label joins
# broadcast the bounded (sample x k)-row neighbor frame against the corpus
# label scan.  Purity means are exact-integer ratios (one division per
# label), so there is no float-accumulation order to pin across engines.
# ---------------------------------------------------------------------------

PURITY_SAMPLE = 100  # audited query vectors: vec_id < PURITY_SAMPLE
PURITY_K = 5


def label_knn_purity(
    emb: DataFrame,
    k: int = PURITY_K,
    sample: int = PURITY_SAMPLE,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-label kNN purity report: (label, n_queries, mean_purity,
    n_low_purity) where mean_purity = matching-neighbor share across the
    label's audited queries and n_low_purity counts queries with <= k/2
    matching neighbors (majority-vote disagreement — the mislabel
    candidates)."""
    # r14: the matmul twin — 100 query vectors × the corpus ran the
    # interpreted fold per pair; results pinned identical (guide §4.2)
    nn = _knn_scores_np(
        emb, emb.filter(F.col(id_col) < sample), k=k, id_col=id_col
    )
    qlab = emb.filter(F.col(id_col) < sample).select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("q_label")
    )
    nlab = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")
    )
    # nn and qlab are bounded (sample*k / sample rows); the corpus-sized
    # side is nlab's label scan, which streams against the broadcast
    joined = (
        nlab.join(F.broadcast(nn), "neighbor_id")
        .join(F.broadcast(qlab), "query_id")
    )
    per_query = joined.groupBy("query_id", "q_label").agg(
        F.sum((F.col("n_label") == F.col("q_label")).cast("long")).alias(
            "matches"
        )
    )
    return (
        per_query.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("matches").alias("m"),
            F.sum((F.col("matches") * 2 <= F.lit(k)).cast("long")).alias(
                "n_low_purity"
            ),
        )
        .select(
            "label",
            "n_queries",
            (
                F.floor(
                    (F.lit(1.0) * F.col("m"))
                    / (F.lit(k) * F.col("n_queries"))
                    * 1000000
                )
                / 1000000.0
            ).alias("mean_purity"),
            "n_low_purity",
        )
    )


def q_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return label_knn_purity(e)


_SQL_LABEL_PURITY = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings
), nn AS (
  SELECT query_id, q_label, neighbor_id FROM (
    SELECT b.vec_id AS query_id, b.label AS q_label,
           a.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {_DUCK_COS} DESC, a.vec_id ASC) AS rank
    FROM e a JOIN e b ON b.vec_id < {PURITY_SAMPLE} AND a.vec_id <> b.vec_id
  ) WHERE rank <= {PURITY_K}
), per AS (
  SELECT query_id, q_label,
         CAST(sum(CASE WHEN nl.label = q_label THEN 1 ELSE 0 END) AS BIGINT)
           AS matches
  FROM nn JOIN e nl ON nl.vec_id = nn.neighbor_id
  GROUP BY query_id, q_label
)
SELECT q_label AS label,
       count(*) AS n_queries,
       floor((1.0::DOUBLE * sum(matches))
             / ({PURITY_K} * count(*)) * 1000000) / 1000000.0 AS mean_purity,
       CAST(sum(CASE WHEN matches * 2 <= {PURITY_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low_purity
FROM per GROUP BY q_label
"""

QUERIES["embedding_label_purity"] = (q_label_purity, _SQL_LABEL_PURITY)
