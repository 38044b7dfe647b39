"""Incremental SemDeDup against a persisted cell-partitioned index.

The one-shot :func:`~graphlab_spark.operators.semdedup.semantic_dedup`
recompares the whole corpus; a crawl pipeline receives INCREMENTS. The
index persists two tables under ``index_dir``:

- ``vecs``  (vec_id, cell_id, embedding) — cell-assigned vectors,
  bucketable/partitionable by cell_id at scale;
- ``pairs`` (a, b) — the ACCUMULATED within-cell similarity edges.

Per increment: assign cells to the new vectors (broadcast centroids),
then rescore ONLY the touched cells — new×old and new×new pairs inside
them (old×old pairs are already in the index, so each unordered pair is
computed exactly once, when its later vector arrives). Work is
O(increment × touched-cell occupancy), never a corpus rescan — the
same contract as ``dedup_incremental`` (MinHash), and the accumulated
pair set after any split into increments EQUALS the one-shot pair set,
so the retention map (components → min-id keeper) is EXACTLY the
one-shot answer (pinned by tests/test_semdedup_incremental.py).

Centroids are FROZEN (the fixture contract): cell assignment must be
stable across increments or old vectors would sit in cells the new
assignment never probes. Re-training centroids means rebuilding the
index — same posture as re-training the LM or BPE fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphlab_spark.operators.scratch import materialize, replace_table, table_exists
from graphlab_spark.operators.semdedup import _cell_pairs, assign_cells


def retention_frame(vecs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(vec_id, cell_id, keeper) from the accumulated index state —
    identical shape and semantics to ``semantic_dedup``'s output."""
    from graphlab_spark.operators.canonicalize import connected_components

    comp = connected_components(pairs)
    return (
        vecs.select("vec_id", "cell_id")
        .join(
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


def apply_increment(
    spark: SparkSession,
    index_dir: str,
    new_embeddings: DataFrame,
    centroids: DataFrame,
    tau: float = 0.45,
) -> dict:
    """Score one increment against the index WITHOUT writing. Returns::

        {"new_pairs": similarity edges with ≥1 new endpoint,
         "vecs":      full updated (vec_id, cell_id, embedding),
         "pairs":     full updated accumulated edge set,
         "retention": (vec_id, cell_id, keeper) over the updated state}

    An index whose ``vecs`` exist but cannot be read raises here; it is
    never treated as absent (which would rebuild it from the increment).
    """
    new_vecs = materialize(
        new_embeddings.join(
            assign_cells(new_embeddings, centroids), "vec_id"
        ).select("vec_id", "cell_id", "embedding"),
        "semdedup_inc_vecs",
    )
    n_rows = new_vecs.count()
    if new_vecs.select("vec_id").distinct().count() != n_rows:
        raise ValueError("increment contains duplicate vec_ids")

    if table_exists(spark, f"{index_dir}/vecs"):
        old_vecs = spark.read.parquet(f"{index_dir}/vecs")
        old_pairs = spark.read.parquet(f"{index_dir}/pairs")
        if new_vecs.join(old_vecs, "vec_id", "left_semi").limit(1).count():
            raise ValueError(
                "increment contains vec_ids already in the index at "
                f"{index_dir!r}; re-ingestion needs a delete+rebuild, "
                "not an append"
            )
        # only cells the increment touches get rescored
        touched = new_vecs.select("cell_id").distinct()
        members = old_vecs.join(touched, "cell_id", "left_semi").unionByName(
            new_vecs
        )
    else:
        old_vecs = old_pairs = None
        members = new_vecs

    scored = members.groupBy("cell_id").applyInPandas(
        _cell_pairs(tau), "a long, b long"
    )
    if old_vecs is not None:
        # drop old×old pairs (already indexed): keep pairs with ≥1 new id
        new_ids = new_vecs.select(F.col("vec_id").alias("a"))
        new_pairs = scored.join(new_ids, "a", "left_semi").unionByName(
            scored.join(new_ids.withColumnRenamed("a", "b"), "b", "left_semi")
        ).distinct()
        vecs = old_vecs.unionByName(new_vecs)
        pairs = old_pairs.unionByName(new_pairs)
    else:
        new_pairs = scored
        vecs, pairs = new_vecs, new_pairs

    return {
        "new_pairs": new_pairs,
        "vecs": vecs,
        "pairs": pairs,
        "retention": retention_frame(vecs, pairs),
    }


def semdedup_increment(
    spark: SparkSession,
    index_dir: str,
    new_embeddings: DataFrame,
    centroids: DataFrame,
    tau: float = 0.45,
) -> dict:
    """Batch convenience: score the increment, persist the updated
    index (``vecs``/``pairs`` under ``index_dir``), and return the
    materialized result frames. On Iceberg both writes are appends of
    increment-sized frames; the sandbox parquet emulation rewrites —
    the same documented posture as ``dedup_incremental``."""
    res = apply_increment(spark, index_dir, new_embeddings, centroids, tau)
    out = {"new_pairs": materialize(res["new_pairs"], "semdedup_inc_newpairs")}
    # pairs first: its plan scores against the old vecs, while the vecs
    # plan reads only the old vecs and the pinned increment
    out["pairs"] = replace_table(
        res["pairs"], f"{index_dir}/pairs", "semdedup_inc_allpairs"
    )
    out["vecs"] = replace_table(
        res["vecs"], f"{index_dir}/vecs", "semdedup_inc_allvecs"
    )
    out["retention"] = retention_frame(out["vecs"], out["pairs"])
    return out
