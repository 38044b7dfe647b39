"""IVF-PQ: product-quantized residual ANN — the 100-TB serving path.

IVF with full float vectors keeps the index at O(N·d) floats; PQ
compresses each vector to M small integer codes (here M=16 codes over
64 dims = 16× smaller than float32) and scores queries against the
codes' reconstructions (asymmetric distance, Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search"). The model
(coarse quantizer + per-subspace codebooks) is trained OFFLINE and
frozen (``fixtures/freeze_pq.py`` — the LM/BPE/SemDeDup fixture
pattern).

EXACT-INTEGER contract (the t28 integer-quantization precedent): the
frozen model is integer-quantized at SCALE, queries/corpus quantize
with ``floor(x*SCALE + 0.5)``, and cell assignment, probe ranking,
residuals, and code argmin are all int64 arithmetic — bit-identical in
Spark numpy and the DuckDB oracle regardless of summation order
(integers are exact in double far below 2^53). Only the final cosine
performs non-integer ops (sqrt, divide — single correctly-rounded IEEE
ops), so the rounded score matches across engines exactly.

Scale shape: the encoded corpus is (vec_id, cell, codes) — M=16 small
ints per vector (≈16 bytes vs 256 for float32: 16×); searches probe
``n_probe`` cells and the persisted index reads ONLY the probed
``cell=`` partitions (static partition filter, same as
ann_index.ivf_search). Candidate scoring is a vectorized numpy gather
per Arrow batch (reconstruct = centroid[cell] + codebook[m, code_m]) —
no per-row Python, no cross join anywhere.

``refine=R`` adds the production two-stage read (Faiss
IndexRefineFlat): the PQ codes produce a deterministic top-R shortlist
per query, full vectors are fetched for ONLY those Q×R rows, and the
final top-k is exact cosine over the shortlist — recall returns to the
uncompressed-IVF level while the corpus-sized scan stays codes-only.

Reference parity: the reference's pipeline has a ``vector_embed`` job
type feeding its KG upserts (`backend/app/models/processing_job.py:17`);
this is the compressed-index serving form of that embedding store that
survives 10^12 vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphlab_spark.operators.ann import (
    batch_matrix,
    cosine_col,
    probe_cells_udf,
    probe_topk,
    probed_cells,
    rank_topk,
    top_rows,
)
from graphlab_spark.operators.scratch import spread

SCALE = 100_000
REPO_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
)


def load_pq_model(
    spark: SparkSession, model_dir: str | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(CQ (n_cells, dim) int64, CB (M, K, SUB) int64) from the frozen
    parquet model (or a copy inside a persisted index dir)."""
    d = model_dir or REPO_FIXTURES
    crows = spark.read.parquet(f"{d}/pq_centroids.parquet").orderBy("cell").collect()
    CQ = np.stack([np.asarray(r.centroid_q, dtype=np.int64) for r in crows])
    brows = spark.read.parquet(f"{d}/pq_codebook.parquet").orderBy("m", "j").collect()
    m_n = max(r.m for r in brows) + 1
    k = max(r.j for r in brows) + 1
    CB = np.zeros((m_n, k, len(brows[0].code)), dtype=np.int64)
    for r in brows:
        CB[r.m, r.j] = np.asarray(r.code, dtype=np.int64)
    return CQ, CB


def _quantize_batch(vecs: pd.Series) -> np.ndarray:
    return np.floor(batch_matrix(vecs) * SCALE + 0.5).astype(np.int64)


def _broadcast_model(spark: SparkSession, model: tuple[np.ndarray, np.ndarray]) -> tuple:
    """(bc_cq, bc_cb): the frozen model, broadcast once per call and
    shared by that call's encode, probe and score UDFs."""
    return spark.sparkContext.broadcast(model[0]), spark.sparkContext.broadcast(model[1])


def encode_udf(bc_cq, bc_cb):
    """(cell, codes) per vector: exact-int64 coarse argmax (first-max =
    lowest cell) + per-subspace residual L2 argmin (first-min = lowest
    j) — the same tie-breaks the oracle's ``row_number`` uses."""

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        )
    )
    def enc(vecs: pd.Series) -> pd.DataFrame:
        CQ, CB = bc_cq.value, bc_cb.value
        m_n, _, sub = CB.shape
        vq = _quantize_batch(vecs)  # (n, dim) int64
        cells = np.argmax(vq @ CQ.T, axis=1)  # exact int64 dot
        resid = vq - CQ[cells]  # (n, dim)
        n = vq.shape[0]
        codes = np.empty((n, m_n), dtype=np.int64)
        for m in range(m_n):
            r = resid[:, m * sub : (m + 1) * sub]  # (n, sub)
            d2 = ((r[:, None, :] - CB[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {
                "cell": cells.astype(np.int32),
                "codes": [row.astype(int).tolist() for row in codes],
            }
        )

    return enc


def score_udf(bc_cq, bc_cb):
    """Asymmetric-distance scoring: reconstruct = centroid_q[cell] +
    concat(codebook[m, code_m]), score = cos(quantized query, recon).
    Integer dots (exact), one sqrt·sqrt division at the end."""

    @F.pandas_udf(T.DoubleType())
    def score(qvecs: pd.Series, cells: pd.Series, codes: pd.Series) -> pd.Series:
        CQ, CB = bc_cq.value, bc_cb.value
        m_n = CB.shape[0]
        qv = _quantize_batch(qvecs)  # (n, dim)
        cl = cells.to_numpy(dtype=np.int64)
        cd = batch_matrix(codes, np.int64)
        recon = CQ[cl] + CB[np.arange(m_n)[None, :], cd].reshape(len(cl), -1)
        num = (qv * recon).sum(axis=1)  # exact int64
        den = np.sqrt((qv * qv).sum(axis=1).astype(np.float64)) * np.sqrt(
            (recon * recon).sum(axis=1).astype(np.float64)
        )
        return pd.Series(num / den)

    return score


def ivfpq_encode(
    embeddings: DataFrame,
    model: tuple[np.ndarray, np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (neighbor_id, cell, codes): the compressed corpus — M small
    int codes/vector instead of 64 floats (16× vs float32 at M=16, the
    reason the index fits memory at 10^12 vectors)."""
    bcs = _broadcast_model(embeddings.sparkSession, model)
    return _encoded(embeddings, bcs, id_col, vec_col)


def _encoded(embeddings: DataFrame, bcs: tuple, id_col: str, vec_col: str) -> DataFrame:
    # the per-row encode UDF is the cost centre — spread an
    # under-parallel corpus scan across the cores (no-op at scale)
    embeddings = spread(embeddings)
    return embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        encode_udf(*bcs)(F.col(vec_col)).alias("e"),
    ).select("neighbor_id", F.col("e.cell").alias("cell"), F.col("e.codes").alias("codes"))


def _pq_probes(bcs: tuple, n_probe: int):
    """Probe UDF over the quantized query (exact-int64 dot)."""
    return probe_cells_udf(bcs[0], n_probe, _quantize_batch)


def _refine_topk(
    scored: DataFrame,
    embeddings: DataFrame,
    k: int,
    refine: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Two-stage read: deterministic PQ top-``refine`` shortlist
    (rounded PQ score DESC, neighbor_id ASC), then EXACT cosine over
    only the shortlisted full vectors — Q×refine point reads, never a
    corpus scan."""
    shortlist = top_rows(scored, refine, "_r").select("query_id", "qvec", "neighbor_id")
    full = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    exact = shortlist.join(full, "neighbor_id").withColumn(
        "score", F.round(cosine_col(F.col("qvec"), F.col("nvec")), 4)
    )
    return rank_topk(exact, k)


def _ranker(refine: int, embeddings: DataFrame | None, id_col: str, vec_col: str):
    """rank_topk, or with ``refine`` the exact-cosine re-rank of the PQ
    top-``refine`` over ``embeddings``."""
    if not refine:
        return rank_topk
    if embeddings is None:
        raise ValueError("refine requires refine_embeddings (the full-vector table)")
    return lambda scored, k: _refine_topk(scored, embeddings, k, refine, id_col, vec_col)


def ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 8,
    refine: int = 0,
    model: tuple[np.ndarray, np.ndarray] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-shot IVF-PQ top-k → (query_id, neighbor_id, rank, score):
    probe n_probe cells, score ONLY the probed cells' codes. Exact
    duplicates always land in probe[0]; weaker neighbors follow
    cell-overlap + PQ distortion (recall floor pinned in pytest).
    ``refine=R`` re-ranks the PQ top-R with exact cosine (recall ≈
    uncompressed IVF, pinned in pytest)."""
    spark = embeddings.sparkSession
    bcs = _broadcast_model(spark, model if model is not None else load_pq_model(spark))
    qside = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(_pq_probes(bcs, n_probe)(F.col(vec_col))).alias("cell"),
    )
    return probe_topk(
        _encoded(embeddings, bcs, id_col, vec_col), qside, score_udf(*bcs)(F.col("qvec"), F.col("cell"), F.col("codes")), k,
        rank=_ranker(refine, embeddings, id_col, vec_col),
    )


def _write_codes(
    embeddings: DataFrame, model: tuple, index_dir: str, mode: str, id_col: str, vec_col: str
) -> None:
    """Encode under the frozen ``model``; write the codes PARTITIONED BY cell."""
    ivfpq_encode(embeddings, model, id_col, vec_col).write.mode(mode).partitionBy(
        "cell"
    ).parquet(f"{index_dir}/codes")


def ivfpq_build(
    spark: SparkSession,
    embeddings: DataFrame,
    index_dir: str,
    model_dir: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the compressed index: codes PARTITIONED BY cell (searches
    read only probed partitions) + the frozen model copied alongside so
    the index is self-contained."""
    model = load_pq_model(spark, model_dir)
    _write_codes(embeddings, model, index_dir, "overwrite", id_col, vec_col)
    src = model_dir or REPO_FIXTURES
    for part in ("pq_centroids.parquet", "pq_codebook.parquet"):
        spark.read.parquet(f"{src}/{part}").coalesce(1).write.mode("overwrite").parquet(
            f"{index_dir}/{part}"
        )


def ivfpq_add(
    spark: SparkSession,
    index_dir: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors under the FROZEN model — only touched cell
    partitions grow; increments never retrain or rebuild."""
    model = load_pq_model(spark, index_dir)
    _write_codes(new_embeddings, model, index_dir, "append", id_col, vec_col)


def ivfpq_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 8,
    refine: int = 0,
    refine_embeddings: DataFrame | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    exclude_self: bool = True,
) -> DataFrame:
    """Search the persisted compressed index. Probe cells become a
    static ``cell IN (...)`` partition filter — un-probed cells are
    never read (plan-tested). Results are IDENTICAL to ivfpq_topk on
    the same corpus/model (pinned by test).

    Unlike ivfpq_topk the candidates keep ``dropDuplicates``: the index
    grows via ivfpq_add, whose "ids are new" append contract is not
    enforced by a clash guard, and a replayed add would leave duplicate
    (neighbor_id, cell) rows that the dedup masks from top-k."""
    model = load_pq_model(spark, index_dir)
    bcs = _broadcast_model(spark, model)
    n_probe = min(n_probe, model[0].shape[0])
    qprobes, codes = probed_cells(
        spark, f"{index_dir}/codes", queries, _pq_probes(bcs, n_probe),
        query_id_col, query_vec_col,
    )
    return probe_topk(
        codes, qprobes, score_udf(*bcs)(F.col("qvec"), F.col("cell"), F.col("codes")), k,
        rank=_ranker(refine, refine_embeddings, "vec_id", "embedding"),
        exclude_self=exclude_self, dedup=True,
    )
