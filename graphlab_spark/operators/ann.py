"""Approximate-nearest-neighbor search over the ``embeddings`` table.

Three tiers:
- brute-force cosine top-k — the exactness baseline. The query set is the
  SMALL side: broadcast it, compute dot products JVM-side with
  ``zip_with``/``aggregate`` (no Python in the loop), rank with a window.
  Cost is |queries| × |corpus| — fine for |queries| in the thousands.
- LSH-bucketed top-k — the 10^12-row path: sign-random-projection bucket
  key (deterministic hyperplanes), candidates = same-bucket rows in any
  of B hash tables, exact cosine re-rank of candidates only. The shuffle
  key is (table, bucket); no cross join anywhere.
- IVF top-k — candidates = the rows of a query's probed centroid cells.
  The float (here, ann_index.py) and IVF-PQ (ann_pq.py) searches share
  this module's probe UDF, probed-cell read and candidate tail.

Math is done in DOUBLE so scores agree bit-for-bit-enough with the
DuckDB oracle after rounding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphlab_spark.operators.scratch import materialize, spread

DIM = 64
N_TABLES = 8
N_PLANES = 12  # bits per bucket key


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def hoisted_cols(id_col: str, vec_col: str, side: str) -> list:
    """(id, vec, norm) projections of one search side: ``side="q"`` gives
    (query_id, qvec, _qn), ``"n"`` gives (neighbor_id, nvec, _nn)."""
    ident = "query_id" if side == "q" else "neighbor_id"
    v = F.col(vec_col)
    return [F.col(id_col).alias(ident), v.alias(f"{side}vec"), _norm(v).alias(f"_{side}n")]


def hoisted_cosine():
    """Cosine of ``qvec`` and ``nvec`` from the per-side norms ``_qn`` and
    ``_nn``. Hoisting sqrt(dot(v, v)) into per-side projections (r6)
    evaluates it once per row instead of once per (query × corpus) pair;
    the same expression over the same array yields the same double and
    dot/(qn*nn) divides in the same order, so scores equal cosine_col's."""
    return _dot(F.col("qvec"), F.col("nvec")) / (F.col("_qn") * F.col("_nn"))


def top_rows(scored: DataFrame, k: int, rank_col: str = "rank") -> DataFrame:
    """Rows ranked ``<= k`` per query_id by score DESC, neighbor_id ASC."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail → (query_id, neighbor_id, rank, score). Rank by
    the ROUNDED score: raw doubles differ across engines at ~1e-9 and
    would flip near-tie orderings vs the oracle."""
    return top_rows(scored, k).select("query_id", "neighbor_id", "rank", "score")


def batch_matrix(vecs: pd.Series, dtype=np.float64) -> np.ndarray:
    """One Arrow batch of arrays → an (n, d) ``dtype`` matrix."""
    return np.stack(vecs.map(lambda v: np.asarray(v, dtype=dtype)).to_numpy())


def cell_assign_udf(bc):
    """argmax cell assignment against broadcast centroids. Shared by the
    one-shot IVF path and the persisted index (ann_index.py) so the
    assignment rule can never drift from the probe rule below."""

    @F.pandas_udf(T.IntegerType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        return pd.Series(np.argmax(batch_matrix(vecs) @ bc.value.T, axis=1).astype(np.int32))

    return cell_udf


def probe_cells_udf(bc, n_probe: int, to_matrix=batch_matrix):
    """n_probe nearest cells per query vector by ``to_matrix(vecs) @
    centroids.T``: float64 for IVF, ann_pq's exact-int64 quantization for
    IVF-PQ. STABLE sort: ties resolve to the lowest cell index, exactly
    like the assignment argmax (cell_assign_udf, ann_pq's encode) — so a
    vector's own assigned cell is always probe[0] and the exact-duplicate
    recall guarantee holds even for vectors tied with > n_probe
    centroids."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes_udf(vecs: pd.Series) -> pd.Series:
        sims = to_matrix(vecs) @ bc.value.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype(int).tolist() for row in order])

    return probes_udf


def probe_topk(
    corpus: DataFrame, qprobes: DataFrame, score, k: int,
    rank=rank_topk, exclude_self: bool = True, dedup: bool = False,
) -> DataFrame:
    """The IVF candidate tail: join ``corpus`` (neighbor_id, cell, ...)
    with the broadcast ``qprobes`` (query_id, cell, ...) on ``cell``, drop
    self-matches, round the caller's ``score`` column to 4 dp, then
    ``rank(scored, k)``.

    PRECONDITION: corpus ids are unique. Each corpus vector then sits in
    exactly ONE cell and a query's probes are distinct cells, so a
    (query, neighbor) pair matches at most once and the one-shot searches
    skip ``dropDuplicates`` — a provable no-op costing a full exchange
    (r6). It is not checked at run time, which would add a job to every
    call. The persisted searches pass ``dedup=True`` (their docstrings
    say why)."""
    cand = corpus.join(F.broadcast(qprobes), "cell")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    if dedup:
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    return rank(cand.withColumn("score", F.round(score, 4)), k)


def probed_cells(
    spark: SparkSession, table: str, queries: DataFrame, probes,
    query_id_col: str, query_vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The persisted searches' probed-cell read → (qprobes, cells).

    The query probes are PINNED once, so the ``probes`` UDF and the query
    source run once per search: the driver collects the distinct probe
    cells (n_queries × n_probe, driver-small) from the pin, and they
    become a static ``cell IN (...)`` partition filter on the
    cell-partitioned ``table`` — un-probed cells are never read."""
    qprobes = materialize(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
            F.explode(probes(F.col(query_vec_col))).alias("cell"),
        ),
        "ivf_probes",
    )
    probe_cells = sorted({r.cell for r in qprobes.select("cell").distinct().collect()})
    return qprobes, spark.read.parquet(table).filter(F.col("cell").isin(probe_cells))


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query id (excluding self).

    → (query_id, neighbor_id, rank, score) with score rounded to 4 dp.
    """
    # The corpus side is spread across the cores first: the O(N·Q)
    # scoring loop is the cost centre and a single-row-group input would
    # run it on one core.
    embeddings = spread(embeddings)
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        *hoisted_cols(id_col, vec_col, "q")
    )
    corpus = embeddings.select(*hoisted_cols(id_col, vec_col, "n"))
    scored = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("score", F.round(hoisted_cosine(), 4))
    return rank_topk(scored, k)


def _planes(seed: int = 11) -> np.ndarray:
    """Deterministic hyperplanes (fixed seed): (N_TABLES, N_PLANES, DIM)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((N_TABLES, N_PLANES, DIM)).astype(np.float64)


@F.pandas_udf(T.ArrayType(T.StructType([
    T.StructField("table", T.IntegerType()),
    T.StructField("bucket", T.LongType()),
])))
def lsh_buckets_udf(vecs: pd.Series) -> pd.Series:
    """Sign-random-projection bucket per hash table, vectorized per batch."""
    P = _planes()
    M = batch_matrix(vecs)  # (n, d)
    out = []
    # (n, T, B) sign bits → (n, T) integer bucket keys
    proj = np.einsum("nd,tbd->ntb", M, P) > 0
    keys = (proj.astype(np.int64) << np.arange(N_PLANES, dtype=np.int64)[None, None, :]).sum(
        axis=2
    )
    for i in range(M.shape[0]):
        out.append([{"table": t, "bucket": int(keys[i, t])} for t in range(N_TABLES)])
    return pd.Series(out)


def _centroids(embeddings: DataFrame, n_centroids: int, id_col: str, vec_col: str) -> np.ndarray:
    """Deterministic coarse quantizer: the L2-normalized vectors of the
    ``n_centroids`` smallest ids serve as Voronoi seeds — a deterministic
    stand-in for k-means (at 10^12 rows you'd train centroids offline on
    a sample and broadcast them exactly like this)."""
    rows = (
        embeddings.orderBy(F.col(id_col).asc()).limit(n_centroids)
        .select(id_col, vec_col).collect()
    )
    C = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(C, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return C / norms


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN — the second scale path beside sign-LSH.

    Corpus vectors are assigned to their nearest centroid cell (one cell
    per vector — the inverted file); a query probes its ``n_probe``
    nearest cells and exact-reranks only those candidates. The shuffle
    key is the cell id; candidate fan-out is corpus/n_centroids×n_probe
    in expectation — no cross join. Recall: a query's exact duplicate is
    ALWAYS found (identical vector → identical nearest cell ⊆ probes);
    weaker neighbors follow the cell-overlap probability (pytest pins
    measured floors).
    """
    bc = embeddings.sparkSession.sparkContext.broadcast(
        _centroids(embeddings, n_centroids, id_col, vec_col)
    )
    # spread an under-parallel corpus before the per-row cell-assign UDF
    embeddings = spread(embeddings)
    corpus = embeddings.select(
        *hoisted_cols(id_col, vec_col, "n"), cell_assign_udf(bc)(F.col(vec_col)).alias("cell")
    )
    qside = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        *hoisted_cols(id_col, vec_col, "q"),
        F.explode(probe_cells_udf(bc, n_probe)(F.col(vec_col))).alias("cell"),
    )
    return probe_topk(corpus, qside, hoisted_cosine(), k)


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: same-bucket candidates in any table, exact
    cosine re-rank. Recall < 1 by design; bounded candidate fan-out."""
    embeddings = spread(embeddings)  # per-row bucket UDF is the cost centre
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("_n"),
        F.explode(lsh_buckets_udf(F.col(vec_col))).alias("tb"),
    ).select(
        "vid", "vec", "_n", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )
    qside = base.filter(F.col("vid").isin(query_ids)).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("_n").alias("_qn"),
        "table",
        "bucket",
    )
    # dropDuplicates: unlike IVF, one id pair can collide in several tables
    cand = (
        base.join(F.broadcast(qside), ["table", "bucket"])
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            F.col("query_id"),
            F.col("vid").alias("neighbor_id"),
            "qvec",
            F.col("vec").alias("nvec"),
            "_qn",
            F.col("_n").alias("_nn"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return rank_topk(cand.withColumn("score", F.round(hoisted_cosine(), 4)), k)
