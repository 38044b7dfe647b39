"""Persisted IVF (inverted-file) ANN index: build once, search forever.

``ann.ivf_topk`` re-derives centroids and cell assignments on every
call — fine for a one-shot query, absurd at 10^12 vectors. This module
persists the index:

- ``centroids/`` — (cell, centroid array<double>): tiny, read to the
  driver and broadcast at search time (the coarse quantizer).
- ``cells/``     — (neighbor_id, nvec) PARTITIONED BY cell: the
  inverted file. A search collects its probe cells (n_queries × n_probe
  distinct ids, driver-small) and filters with ``cell IN (...)`` — a
  STATIC partition filter, so the scan reads only the probed cells'
  files and the un-probed corpus is never touched (asserted by plan
  test).

``ivf_add`` assigns NEW vectors to the EXISTING centroids (no
re-train) and appends their cell partitions — increments never rebuild
the index. Centroid drift under distribution shift is the operator's
documented trade: re-run ``ivf_build`` offline when recall degrades.

Search results are IDENTICAL to ``ann.ivf_topk`` given the same corpus
and parameters (pinned by test): same deterministic centroids, same
stable probe ordering, same rounded-score ranking.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphlab_spark.operators.ann import (
    _centroids,
    cell_assign_udf,
    cosine_col,
    probe_cells_udf,
    probe_topk,
    probed_cells,
)


def _load_centroids(spark: SparkSession, index_dir: str) -> np.ndarray:
    rows = spark.read.parquet(f"{index_dir}/centroids").orderBy("cell").collect()
    return np.stack([np.asarray(r.centroid, dtype=np.float64) for r in rows])


def ivf_build(
    spark: SparkSession,
    embeddings: DataFrame,
    index_dir: str,
    n_centroids: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the (deterministic) coarse quantizer and write the index."""
    C = _centroids(embeddings, n_centroids, id_col, vec_col)
    spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(C.shape[0])],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    _write_cells(embeddings, C, index_dir, "overwrite", id_col, vec_col)


def _write_cells(
    embeddings: DataFrame, C: np.ndarray, index_dir: str, mode: str, id_col: str, vec_col: str
) -> None:
    """Assign each vector its argmax cell under centroids ``C`` and write
    the inverted file PARTITIONED BY cell."""
    bc = embeddings.sparkSession.sparkContext.broadcast(C)
    (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("nvec"),
            cell_assign_udf(bc)(F.col(vec_col)).alias("cell"),
        )
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(f"{index_dir}/cells")
    )


def ivf_add(
    spark: SparkSession,
    index_dir: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors under the EXISTING centroids (no re-train) —
    the incremental path: only the touched cell partitions grow."""
    _write_cells(
        new_embeddings, _load_centroids(spark, index_dir), index_dir, "append", id_col, vec_col
    )


def ivf_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 8,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k cosine neighbors for each query row against the persisted
    index → (query_id, neighbor_id, rank, score). Probe cells become a
    static ``cell IN (...)`` partition filter so only probed partitions
    are scanned.

    ``exclude_self=True`` (default) drops neighbors whose id EQUALS the
    query id — correct when queries are corpus members (``ivf_topk``
    parity). It assumes query ids share the corpus id space: an EXTERNAL
    query whose id happens to collide with a corpus ``vec_id`` would
    silently lose that one legitimate neighbor — pass
    ``exclude_self=False`` for external query frames.

    Unlike ``ivf_topk`` the candidates keep ``dropDuplicates``: the index
    grows via ``ivf_add``, whose "ids are new" append contract is not
    enforced by a clash guard, and a replayed add would leave duplicate
    (neighbor_id, cell) rows that the dedup masks from top-k."""
    C = _load_centroids(spark, index_dir)
    bc = spark.sparkContext.broadcast(C)
    qprobes, cells = probed_cells(
        spark, f"{index_dir}/cells", queries, probe_cells_udf(bc, min(n_probe, C.shape[0])),
        query_id_col, query_vec_col,
    )
    return probe_topk(
        cells, qprobes, cosine_col(F.col("qvec"), F.col("nvec")), k,
        exclude_self=exclude_self, dedup=True,
    )
