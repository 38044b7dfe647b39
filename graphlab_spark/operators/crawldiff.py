"""Crawl-snapshot delta: classify each url across two crawl snapshots
as added / removed / changed / unchanged.

Every recurring web-scale ingest (Common-Crawl monthly dumps are the
canonical case) re-crawls mostly-unchanged pages; re-running extraction
and triple extraction over the full 10^12-doc snapshot is the single
biggest avoidable cost in the pipeline. The delta is the driver for
incremental runs: feed ``changed_or_added`` into the pipeline and the
manifest layer (plans/pipeline.py) re-fingerprints only those buckets.

Scale shape: content is hashed MAP-SIDE before the join, so the one
shuffle carries ``(url, 32-hex)`` rows — O(urls × ~50 B), never page
bodies — and the classifier is a single hash full-outer join on url.
No window, no sort, no driver sync.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def crawl_delta(
    old: DataFrame, new: DataFrame, key: str = "url", content: str = "text"
) -> DataFrame:
    """Per-``key`` status between two snapshots → ``(key, status)``.

    ``added``: key only in ``new``; ``removed``: only in ``old``;
    ``changed``/``unchanged``: in both, by md5(content) equality. NULL
    content hashes to NULL; two NULLs compare unchanged (the null-safe
    ``<=>``), NULL-vs-text compares changed.
    """
    # presence is tracked by side-specific marker columns, not the hash
    # (a NULL content in one side would otherwise read as absent)
    o = old.select(
        F.col(key), F.md5(F.col(content)).alias("_old_md5"), F.lit(1).alias("_in_old")
    )
    n = new.select(
        F.col(key), F.md5(F.col(content)).alias("_new_md5"), F.lit(1).alias("_in_new")
    )
    joined = o.join(n, key, "full_outer")
    return joined.select(
        key,
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_old_md5").eqNullSafe(F.col("_new_md5")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def graph_delta(
    old: DataFrame,
    new: DataFrame,
    keys: tuple[str, ...] = ("src", "pred", "dst"),
    weight: str = "n_docs",
) -> DataFrame:
    """The KG-level twin of :func:`crawl_delta`: classify each EDGE
    across two graph snapshots → ``(*keys, w_old, w_new, status)``.

    After each monthly re-crawl the pipeline republishes nodes/edges;
    the product a KG consumer actually wants alongside the new graph is
    its diff — which facts appeared, disappeared, or changed support.
    ``added``/``removed`` by edge-key presence; ``changed``/
    ``unchanged`` by the ``weight`` column (e.g. ``n_docs`` supporting
    the edge) under the null-safe ``<=>``.

    Scale shape: identical to crawl_delta — ONE hash full-outer join on
    the composite edge key carrying two small weight columns; no
    window, no sort, no driver sync. Works on any keyed snapshot pair
    (nodes too: ``keys=("id",), weight="n_mentions"``)."""
    ks = list(keys)
    o = old.select(
        *ks, F.col(weight).alias("w_old"), F.lit(1).alias("_in_old")
    )
    n = new.select(
        *ks, F.col(weight).alias("w_new"), F.lit(1).alias("_in_new")
    )
    return (
        o.join(n, ks, "full_outer")
        .select(
            *ks,
            "w_old",
            "w_new",
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(F.col("w_old").eqNullSafe(F.col("w_new")), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )


def graph_delta_summary(delta: DataFrame) -> DataFrame:
    """(status, n_edges) — the 4-row report a graph build publishes
    with each snapshot; one partial-aggregated groupBy on 4 keys."""
    return delta.groupBy("status").agg(F.count(F.lit(1)).alias("n_edges"))


def changed_or_added(
    old: DataFrame, new: DataFrame, key: str = "url", content: str = "text"
) -> DataFrame:
    """The incremental work-list: ``new`` restricted to keys whose
    status is added or changed — the only pages the next pipeline run
    must re-extract. Semi-join shaped (the delta frame never widens
    ``new``); unchanged and removed pages never reach the extractor."""
    delta = crawl_delta(old, new, key, content).filter(
        F.col("status").isin("added", "changed")
    )
    return new.join(delta.select(key), key, "left_semi")
