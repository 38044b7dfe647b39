"""SemDeDup: semantic deduplication over an embedding column.

SemDeDup (Abbas et al., 2023) removes *semantic* duplicates — documents
whose embeddings are nearly identical even when their text is not — by
(1) clustering the embedding space with k-means, (2) comparing pairs
ONLY within a cluster, and (3) keeping one representative per group of
mutually-similar points. Clustering is what makes the quadratic step
tractable: at corpus scale the all-pairs cosine join is impossible
(10^22 pairs at 10^11 docs), but within-cell pairs are (N/K)² per cell,
and K grows with the corpus (K ≈ √N keeps per-cell work flat). The
cells are the shuffle key, so the pair join is cell-local.

The centroids are trained OFFLINE (``fixtures/freeze_semdedup.py``,
deterministic Lloyd iterations, seeded init) and committed — the LM /
BPE fixture pattern — so both Spark and the DuckDB oracle score the
identical model.

Reference parity: the reference dedups entities on normalized surface
forms before writes (`backend/app/services/research_keyword.py:98-128`,
duplicate detection + skip/merge modes over normalized terms); this is
the embedding-space analog of that normalization over the corpus.

Plan shape: centroid assignment is a BROADCAST cross join (K rows) +
one partial-aggregated ``max_by`` per vec (pure JVM). Within-cell pair
scoring ships each cell's vectors ONCE over Arrow (``applyInPandas``
keyed on cell_id — shuffle volume O(N·d), never O(pairs·d)) and finds
similar pairs with a row-blocked normalized GEMM — the same per-cluster
matrix multiply the SemDeDup reference implementation uses, with block
size bounding task memory at O(block × cell). Keeper resolution reuses
the size-adaptive
:func:`~graphlab_spark.operators.canonicalize.connected_components`.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlab_spark.operators.ann import cosine_col


def train_centroids(
    vecs: np.ndarray, k: int = 8, n_iter: int = 10, seed: int = 7
) -> np.ndarray:
    """Deterministic Lloyd k-means (float64, seeded k-means++-style
    init, fixed iteration count) — the offline trainer behind
    fixtures/freeze_semdedup.py. Empty clusters keep their previous
    centroid so the output shape is always (k, dim)."""
    x = np.asarray(vecs, dtype=np.float64)
    rng = np.random.RandomState(seed)
    init = x[rng.choice(len(x), size=k, replace=False)].copy()
    return lloyd_local(x, init, n_iter)


def lloyd_local(x: np.ndarray, init: np.ndarray, n_iter: int) -> np.ndarray:
    """Lloyd iterations from explicit initial centroids (float64,
    ties to the lowest cell, empty cells keep their previous centroid).
    The exact local reference :func:`kmeans_fit` is equality-pinned to."""
    cent = np.asarray(init, dtype=np.float64).copy()
    for _ in range(n_iter):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def kmeans_init(
    embeddings: DataFrame,
    k: int,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic distributed init: the k vectors whose seeded
    ``md5(seed‖id)`` sorts lowest — a uniform hash-order sample that
    never materializes the corpus on the driver (top-k over a scan,
    exactly the stratified-sample key discipline in sampling.py)."""
    rows = (
        embeddings.select(
            F.md5(F.concat(F.lit(f"km{seed}_"), F.col(id_col).cast("string"))).alias(
                "_hk"
            ),
            F.col(vec_col).alias("_v"),
        )
        .orderBy("_hk")
        .limit(k)
        .collect()
    )
    return [[float(v) for v in r._v] for r in rows]


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 10,
    init: list[list[float]] | None = None,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DISTRIBUTED Lloyd k-means → (cell_id, centroid): the trainer that
    replaces the driver-side fixture path when the corpus no longer fits
    in memory (at 10^11 docs × 1k-dim embeddings the vectors are ~400 TB;
    `train_centroids` collects them, this never does).

    Scale shape per iteration:
    - ASSIGN: broadcast the k centroids (k·d floats — model-sized), one
      JVM ``zip_with``/``aggregate`` squared-L2 per (vec, centroid), and
      a partial-aggregated ``min_by`` per vec. No data-sized shuffle
      beyond the one groupBy on the vec id; ties to the lowest cell.
    - UPDATE: ``pyspark.ml.stat.Summarizer.mean`` grouped by cell — the
      elementwise vector mean with MAP-SIDE partial aggregation, so the
      shuffle carries ≤ k·partitions summarizer states, never the N·d
      vectors (an applyInPandas update would ship every vector).
    - Driver state per iteration is the k centroids only (the BPE
      merge-loop posture: vocabulary-sized syncs, never data-sized).

    Equality-pinned to :func:`lloyd_local` (1e-9, same init) by test;
    empty cells keep their previous centroid, matching the local loop.
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    spark = embeddings.sparkSession
    if init is None:
        init = kmeans_init(embeddings, k, seed, id_col, vec_col)
    cent: list[list[float]] = [[float(x) for x in c] for c in init]
    vecs = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cent)],
            "cell_id int, centroid array<double>",
        )
        d2 = F.aggregate(
            F.zip_with("_v", "centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        asg = (
            vecs.crossJoin(F.broadcast(cdf))
            .select("_id", "_v", "cell_id", d2.alias("_d2"))
            .groupBy("_id")
            .agg(
                F.expr("min_by(cell_id, struct(_d2, cell_id))").alias("cell_id"),
                F.first("_v").alias("_v"),
            )
        )
        means = (
            asg.select("cell_id", array_to_vector("_v").alias("_mv"))
            .groupBy("cell_id")
            .agg(vector_to_array(Summarizer.mean(F.col("_mv"))).alias("mean"))
            .collect()
        )
        for r in means:
            cent[r.cell_id] = [float(x) for x in r.mean]
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cent)], "cell_id int, centroid array<double>"
    )


def kmeans_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell_id) under squared-L2 — the Lloyd metric (assign_cells
    is the cosine twin used by SemDeDup). Broadcast k centroids +
    partial-aggregated ``min_by``; ties to the lowest cell_id."""
    d2 = F.aggregate(
        F.zip_with("_v", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        embeddings.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        )
        .crossJoin(F.broadcast(centroids))
        .select(id_col, "cell_id", d2.alias("_d2"))
        .groupBy(id_col)
        .agg(F.expr("min_by(cell_id, struct(_d2, cell_id))").alias("cell_id"))
    )


def assign_cells(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding) × (cell_id, centroid) → (vec_id, cell_id):
    each vector goes to its max-cosine centroid, ties to the lowest
    cell_id. Broadcast cross join (K rows) + partial-aggregated
    ``max_by`` — one shuffle on vec_id carrying K scores per vec."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cell_id",
        cosine_col(F.col("embedding"), F.col("centroid")).alias("cos"),
    )
    return scored.groupBy("vec_id").agg(
        F.expr("max_by(cell_id, struct(cos, -cell_id))").alias("cell_id")
    )


def _cell_pairs(tau: float, block: int = 2048):
    """Per-cell similar-pair finder: normalized row-blocked GEMM.
    Each Arrow batch is one cell's (vec_id, embedding) rows; peak task
    memory is O(block × cell_size) floats, not cell_size², so a skewed
    hot cell degrades gracefully instead of OOMing the executor."""
    import pandas as pd

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        n = m / np.where(norms == 0.0, 1.0, norms)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        for s in range(0, len(ids), block):
            sims = n[s : s + block] @ n.T
            bi, bj = np.nonzero(sims >= tau)
            gi = bi + s
            keep = gi < bj  # strict upper triangle in row order
            lo = np.minimum(ids[gi[keep]], ids[bj[keep]])
            hi = np.maximum(ids[gi[keep]], ids[bj[keep]])
            out_a.append(lo)
            out_b.append(hi)
        return pd.DataFrame(
            {
                "a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
            }
        )

    return f


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    tau: float = 0.45,
) -> DataFrame:
    """SemDeDup retention map → (vec_id, cell_id, keeper): keeper is the
    min vec_id of the vector's within-cell similarity component
    (cosine ≥ ``tau``); vectors similar to nothing keep themselves.
    Pairs crossing a cell boundary are NOT compared — that is the
    SemDeDup contract, and what bounds the quadratic step."""
    from graphlab_spark.operators.canonicalize import connected_components
    from graphlab_spark.operators.scratch import materialize, spread

    # K cosines per vector in assign_cells run pre-exchange — spread an
    # under-parallel embedding scan across the cores (no-op at scale).
    embeddings = spread(embeddings)
    # asg is consumed twice (the cell join feeding the pair scan AND the
    # final retention output) — pin it so the broadcast-centroid scoring
    # scan + max_by aggregation run once, not once per consumer (r6).
    asg = materialize(assign_cells(embeddings, centroids), "semdedup_asg")
    vec = embeddings.join(asg, "vec_id").select("vec_id", "cell_id", "embedding")
    pairs = vec.groupBy("cell_id").applyInPandas(
        _cell_pairs(tau), "a long, b long"
    )
    comp = connected_components(pairs)
    return (
        asg.join(
            comp.select(
                F.col("item_id").alias("vec_id"),
                F.col("component_id").alias("keeper"),
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "cell_id",
            F.coalesce(F.col("keeper"), F.col("vec_id")).alias("keeper"),
        )
    )
