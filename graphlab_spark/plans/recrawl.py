"""Monthly re-crawl publication: one composed job that republishes the
graph, its delta report, and the entity-attribute history.

After ``run_pipeline`` builds crawl T+1's nodes/edges, a consumer wants
three artifacts, not one:

1. the NEW published graph — updated at O(delta) cost, not O(graph)
   (``crawldiff.graph_delta`` → ``materialize.apply_graph_delta``; on
   Iceberg this is the single ``merge_apply_delta_sql`` statement);
2. the DELTA REPORT — which facts appeared / disappeared / changed
   support (``graph_delta_summary``), published alongside the snapshot;
3. the SCD2 HISTORY — every entity attribute versioned by crawl id so
   "what did we believe about X at crawl T" stays answerable
   (``scd.scd2_apply``; the reference keeps only latest-state rows —
   `backend/app/models/lab.py:26-27` created_at/updated_at — so this
   longitudinal read is a beyond-reference capability).

Scale shape per publication: the edge delta is ONE hash full-outer
join on the composite edge key; applying it is one anti-join + union
over the touched keys; the node history is ONE full-outer join between
the OPEN history slice and the node snapshot. Nothing scans more than
the previous publication plus the new snapshot, and nothing is
driver-sized. Re-publishing the same crawl is a no-op end-to-end
(pinned): the delta comes out all-unchanged and SCD2 re-apply is
idempotent at the same crawl id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from graphlab_spark.operators.crawldiff import graph_delta, graph_delta_summary
from graphlab_spark.operators.materialize import apply_graph_delta
from graphlab_spark.operators.scd import scd2_apply, scd2_init
from graphlab_spark.operators.scratch import (
    cleanup_prefix,
    materialize,
    replace_table,
    table_exists,
)


def recrawl_publish(
    spark: SparkSession,
    out_dir: str,
    edges: DataFrame,
    nodes: DataFrame,
    crawl_id: int,
    edge_keys: tuple[str, ...] = ("src", "pred", "dst"),
    edge_weight: str = "n_docs",
    node_key: str = "id",
    node_attrs: tuple[str, ...] = ("n_mentions",),
) -> dict[str, DataFrame]:
    """Publish crawl ``crawl_id``'s graph snapshot against the previous
    publication under ``out_dir``. Returns ``edges`` (the published
    table, now equal to the snapshot), ``delta`` (per-edge status),
    ``summary`` (4-row report), ``history`` (full SCD2 node history).

    First publication initializes all three artifacts; later ones cost
    O(delta) on the edge table and O(open slice + snapshot) on the
    history."""
    edges_path = f"{out_dir}/pub_edges"
    hist_path = f"{out_dir}/node_history"
    ek = list(edge_keys)
    na = list(node_attrs)
    snap_edges = edges.select(*ek, edge_weight)
    snap_nodes = nodes.select(node_key, *na)

    if not table_exists(spark, edges_path):
        snap_edges.write.mode("overwrite").parquet(edges_path)
        published = spark.read.schema(snap_edges.schema).parquet(edges_path)
        delta = graph_delta(
            published.limit(0), snap_edges, keys=edge_keys, weight=edge_weight
        )
        history = scd2_init(snap_nodes, [node_key], na, crawl_id)
    else:
        published = spark.read.parquet(edges_path)
        # PIN the delta before applying it: apply_graph_delta rewrites
        # the published table the lazy delta plan reads, so an unpinned
        # delta re-evaluated afterwards would diff new-vs-new
        delta = materialize(
            graph_delta(published, snap_edges, keys=edge_keys, weight=edge_weight),
            f"recrawl_delta_{crawl_id}",
        )
        published = apply_graph_delta(
            spark, edges_path, delta, keys=edge_keys, weight=edge_weight
        )
        history = scd2_apply(
            spark.read.parquet(hist_path), snap_nodes, [node_key], na, crawl_id
        )
    history = replace_table(history, hist_path, f"recrawl_hist_{crawl_id}")
    cleanup_prefix(f"recrawl_hist_{crawl_id}")
    return {
        "edges": published,
        "delta": delta,
        "summary": graph_delta_summary(delta),
        "history": history,
    }
