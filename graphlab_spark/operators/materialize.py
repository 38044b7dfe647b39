"""Stage C10 — graph materialization: nodes/edges tables, idempotent upsert.

Reference parity: Neo4j ``MERGE (n:Label {key: $k})`` idempotent-upsert
idiom (``backend/app/utils/neo4j_client.py:134-142``), one graph per lab
(``backend/README.md:18-20``), schema-validated nodes/relationships before
upsert (``backend/app/services/kg_schema.py:558-608``).

Spark-first: the "graph" is two columnar tables in a GraphFrames-compatible
layout — ``nodes(id, ...)`` and ``edges(src, dst, ...)``. MERGE semantics
on parquet are implemented as read-existing → anti-join → union →
deterministic overwrite (on Iceberg this is a literal ``MERGE INTO``; the
seam is kept in one function so the sink can swap). Writes are partitioned
by bucketed id so a 1000-executor run commits many files in parallel and
downstream joins on id are co-partitioned.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphlab_spark.operators.scratch import replace_table, table_exists

NODES_COLS = ["id", "canonical_name", "entity_type", "aliases", "n_mentions"]
EDGES_COLS = ["src", "pred", "dst", "n_evidence", "evidence", "weight"]

# B6 — output-name injection guard. Mirrors the reference's Neo4j database
# name validation regex ^[A-Za-z][A-Za-z0-9_]*$
# (backend/app/utils/neo4j_client.py:29-39): table / directory names that
# reach a SQL statement or a filesystem path must be plain identifiers.
_NAME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9_]*$")


def validate_output_name(name: str) -> str:
    """Reject table/path-component names that could inject into SQL or
    escape the output directory (ref neo4j_client.py:29-39)."""
    if not isinstance(name, str) or not _NAME_RE.match(name):
        raise ValueError(
            f"invalid output name {name!r}: must match ^[A-Za-z][A-Za-z0-9_]*$"
        )
    return name


def merge_into_sql(
    target_table: str,
    source_view: str,
    keys: list[str],
    columns: list[str],
    additive: bool = False,
) -> str:
    """Generate the Iceberg/Delta ``MERGE INTO`` statement equivalent to
    :func:`merge_upsert` (the production sink path; parquet tests use the
    anti-join emulation below). Names are validated (B6) before they are
    interpolated — this is the injection surface the reference guards.

    ``additive=True`` emits the cumulative-rollup form (``UPDATE SET
    t.c = t.c + s.c``) whose parquet plan is :func:`additive_frame`.
    """
    validate_output_name(source_view)
    for part in target_table.split("."):
        validate_output_name(part)
    for c in keys + columns:
        validate_output_name(c)
    if not keys:
        raise ValueError("merge requires at least one key column")
    # INSERT must always carry the merge keys, whatever `columns` lists —
    # a row inserted without its key could never match on a later merge.
    all_cols = keys + [c for c in columns if c not in keys]
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    cols = ", ".join(all_cols)
    vals = ", ".join(f"s.{c}" for c in all_cols)
    value_cols = [c for c in all_cols if c not in keys]
    insert = f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    if not value_cols:
        # key-only table: nothing to update on match — insert-if-absent
        return f"MERGE INTO {target_table} t USING {source_view} s ON {on} {insert}"
    sets = ", ".join(
        (f"t.{c} = t.{c} + s.{c}" if additive else f"t.{c} = s.{c}")
        for c in value_cols
    )
    return (
        f"MERGE INTO {target_table} t USING {source_view} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} {insert}"
    )


def merge_apply_delta_sql(
    target_table: str,
    source_view: str,
    keys: list[str],
    weight: str,
) -> str:
    """The Iceberg/Delta statement equivalent to :func:`apply_graph_delta`
    — ONE ``MERGE`` that applies a snapshot delta (crawldiff.graph_delta
    output: keys + w_new + status) to the published table: matched
    'removed' rows DELETE, other matches UPDATE to the new weight,
    unmatched 'added' rows INSERT. O(delta) under merge-on-read — the
    incremental-republication cost a monthly re-crawl pays."""
    validate_output_name(source_view)
    for part in target_table.split("."):
        validate_output_name(part)
    for c in keys + [weight]:
        validate_output_name(c)
    if not keys:
        raise ValueError("merge requires at least one key column")
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    cols = ", ".join(keys + [weight])
    vals = ", ".join(f"s.{c}" for c in keys) + ", s.w_new"
    return (
        f"MERGE INTO {target_table} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND s.status = 'removed' THEN DELETE "
        f"WHEN MATCHED AND s.status = 'changed' THEN UPDATE SET t.{weight} = s.w_new "
        f"WHEN NOT MATCHED AND s.status = 'added' THEN INSERT ({cols}) VALUES ({vals})"
    )


def apply_graph_delta(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    keys: tuple[str, ...] = ("src", "pred", "dst"),
    weight: str = "n_docs",
    scratch_name: str = "apply_delta",
) -> DataFrame:
    """Apply a snapshot delta (``crawldiff.graph_delta`` output) to the
    published edge table at ``path``: added/changed rows upsert with the
    new weight, removed rows delete, unchanged rows are never touched —
    so republishing after a re-crawl costs O(delta), not O(graph), on a
    row-level-op sink (the one Iceberg statement is
    :func:`merge_apply_delta_sql`; this parquet emulation rewrites the
    table like :func:`merge_upsert` and is pinned equal to the full new
    snapshot in tests). Table contract: exactly ``keys + [weight]``."""
    validate_output_name(os.path.basename(os.path.normpath(path)))
    ks = list(keys)
    touched = delta.filter(F.col("status") != "unchanged")
    upserts = touched.filter(F.col("status").isin("added", "changed")).select(
        *ks, F.col("w_new").alias(weight)
    )
    existing = spark.read.parquet(path)
    # one anti-join drops removed AND stale-changed rows; upserts re-add
    # the changed rows at their new weight
    kept = existing.join(touched.select(*ks), ks, "left_anti")
    return replace_table(kept.unionByName(upserts), path, scratch_name)


def build_nodes(linked_mentions: DataFrame) -> DataFrame:
    """linked mentions (canonical_id, surface, m_type) → nodes table.

    aliases = sorted collect_set of observed surfaces (deterministic);
    canonical_name = lexically-first primary surface.
    """
    m = linked_mentions.filter(F.col("canonical_id").isNotNull())
    return (
        m.groupBy(F.col("canonical_id").alias("id"))
        .agg(
            F.array_sort(F.collect_set("surface")).alias("aliases"),
            F.min("m_type").alias("entity_type"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
        .withColumn("canonical_name", F.element_at(F.col("aliases"), 1))
        .select(*NODES_COLS)
    )


def build_edges(canonical_triples: DataFrame, max_evidence: int = 3) -> DataFrame:
    """canonical triples (subj_id, pred, obj_id, url, conf) → edges table.

    weight = sum of confidences; evidence = bounded deterministic sample of
    source urls (slice of the sorted set — no unbounded collect per key).
    """
    return (
        canonical_triples.groupBy(
            F.col("subj_id").alias("src"), F.col("pred").alias("pred"), F.col("obj_id").alias("dst")
        )
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.slice(F.array_sort(F.collect_set("url")), 1, max_evidence).alias("evidence"),
            F.sum("conf").alias("weight"),
        )
        .select(*EDGES_COLS)
    )


# ---- surface-level stats: the DRIFT-FREE cumulative representation ----
#
# Entity ids are a function of the whole observed vocabulary (an UNK
# surface's canonical id can change when a later increment supplies a
# similarity bridge), so entity-keyed tables cannot be combined across
# increments without identity drift. SURFACE-keyed stats can: surfaces
# are literal strings, and every aggregate below is associative
# (counts/weights add, bounded evidence unions). The entity-level
# nodes/edges tables are then a deterministic REBUILD from the stats +
# an entity map over the accumulated vocabulary — vocabulary-sized work
# per increment, never a corpus rescan. Streaming ingest stages stats
# AND rebuilt tables in one atomic commit (streaming/ingest.py).

MENTION_STATS_COMBINE = {"n": lambda e, i: e + i}


def mention_stats_frame(mentions: DataFrame) -> DataFrame:
    """mentions → per-(surface, m_type) counts (the node-side stats)."""
    return mentions.groupBy("surface", "m_type").agg(F.count(F.lit(1)).alias("n"))


def triple_stats_frame(triples: DataFrame, max_evidence: int = 3) -> DataFrame:
    """triples → per-(subj, pred, obj) SURFACE-triple aggregates (the
    edge-side stats). Same algebra as :func:`build_edges`, pre-entity."""
    return triples.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("n_evidence"),
        F.slice(F.array_sort(F.collect_set("url")), 1, max_evidence).alias("evidence"),
        F.sum("conf").alias("weight"),
    )


def nodes_from_stats(mention_stats: DataFrame, entity_map: DataFrame) -> DataFrame:
    """Rebuild the nodes table from accumulated mention stats + the
    entity map over the accumulated vocabulary. Row-for-row equal to
    :func:`build_nodes` over the union of all increments' mentions:
    n_mentions = Σ per-surface counts, entity_type/aliases/canonical_name
    are set/min aggregates — all order-free."""
    m = mention_stats.join(entity_map, "surface")
    return (
        m.groupBy(F.col("entity_id").alias("id"))
        .agg(
            F.array_sort(F.collect_set("surface")).alias("aliases"),
            F.min("m_type").alias("entity_type"),
            F.sum("n").alias("n_mentions"),
        )
        .withColumn("canonical_name", F.element_at(F.col("aliases"), 1))
        .select(*NODES_COLS)
    )


def edges_from_stats(
    triple_stats: DataFrame, entity_map: DataFrame, max_evidence: int = 3
) -> DataFrame:
    """Rebuild the edges table from accumulated surface-triple stats +
    entity map. Equal to :func:`build_edges` over the union of inputs:
    the bounded evidence is exact because the ``max_evidence`` smallest
    urls of a union are always among the per-part ``max_evidence``
    smallest (same argument as ``edges_combine``)."""
    t = (
        triple_stats.join(entity_map.withColumnRenamed("surface", "subj"), "subj")
        .withColumnRenamed("entity_id", "subj_id")
        .join(entity_map.withColumnRenamed("surface", "obj"), "obj")
        .withColumnRenamed("entity_id", "obj_id")
    )
    return (
        t.groupBy(F.col("subj_id").alias("src"), "pred", F.col("obj_id").alias("dst"))
        .agg(
            F.sum("n_evidence").alias("n_evidence"),
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("evidence")))),
                1,
                max_evidence,
            ).alias("evidence"),
            F.sum("weight").alias("weight"),
        )
        .select(*EDGES_COLS)
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    scratch_name: str = "merge_upsert",
) -> DataFrame:
    """Idempotent MERGE-style upsert into a parquet table at ``path``.

    WHEN MATCHED → replace with the update row; WHEN NOT MATCHED → insert.
    Running the same updates twice yields a byte-identical table (the
    reference's MERGE idiom, neo4j_client.py:134-142). On Iceberg this
    function body becomes the one statement :func:`merge_into_sql`
    generates.

    The final path component is name-validated (B6 guard,
    ref neo4j_client.py:29-39) so a caller-supplied table name cannot
    escape the output directory or inject into a SQL sink.

    Only a genuinely-missing table selects the first-write path
    (``scratch.table_exists``); any other read failure (corrupt footer,
    permission error, fs hiccup) re-raises — silently treating it as
    first-write would overwrite the table with just the updates (data
    loss).

    ``scratch_name``: long-running callers that reclaim scratch between
    batches (streaming) pass a name unique to their query+batch so their
    ``cleanup_prefix`` can never delete ANOTHER concurrent query's
    in-flight merge scratch.
    """
    validate_output_name(os.path.basename(os.path.normpath(path)))
    if table_exists(spark, path):
        existing = spark.read.parquet(path)
        kept = existing.join(updates.select(*keys), keys, "left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates
    return replace_table(merged, path, scratch_name)


def additive_frame(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    add_cols: list[str],
) -> DataFrame:
    """Cumulative MERGE plan for a parquet rollup table: WHEN MATCHED →
    ``t.c = t.c + s.c`` for every ``add_cols`` column, WHEN NOT MATCHED →
    insert (the Iceberg statement is ``merge_into_sql(...,
    additive=True)``). Union + one hash aggregate on ``keys``: map-side
    partial aggregation collapses each partition to one row per key
    before the single exchange, so shuffle volume is O(distinct keys).
    Duplicate keys WITHIN ``updates`` fold additively too. Reads the
    live table lazily, so staged-commit callers
    (streaming/exactly_once.py) can write it to a staging path without
    touching the live table."""
    validate_output_name(os.path.basename(os.path.normpath(path)))
    for c in keys + add_cols:
        validate_output_name(c)
    updates = updates.select(*keys, *add_cols)
    if table_exists(spark, path):
        updates = spark.read.parquet(path).select(*keys, *add_cols).unionByName(updates)
    return updates.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in add_cols])


def merge_upsert_combine(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    combine: dict,
    scratch_name: str = "merge_upsert",
) -> DataFrame:
    """MERGE with per-column COMBINE semantics: WHEN MATCHED the new row
    is ``combine[col](existing_col, incoming_col)`` for every non-key
    column; WHEN NOT MATCHED (either side) the present side's row is
    kept. ``combine`` maps column name → ``f(e: Column, i: Column) ->
    Column`` and must cover every non-key column.

    This is the cross-batch aggregation form of the MERGE seam: additive
    counters (``lambda e, i: e + i``), set unions
    (``F.array_union``), running minima (``F.least``) — the combinators
    the streaming KG ingest uses to make incremental results EXACTLY
    equal a one-shot batch run. On Iceberg the same statement is
    ``MERGE INTO ... WHEN MATCHED THEN UPDATE SET c = <expr(t.c, s.c)>``.

    NOT replay-idempotent (applying a batch twice double-combines) —
    callers must gate replays and stage multi-table commits
    (streaming/exactly_once.py BatchCommitter is the provided harness).
    """
    merged = combined_frame(spark, path, updates, keys, combine)
    return replace_table(merged, path, scratch_name)


def combined_frame(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    combine: dict,
    check_unique: bool = True,
) -> DataFrame:
    """The merged-table PLAN behind :func:`merge_upsert_combine` (live
    table read lazily — safe to write to a staging path).

    Guards, both cheap relative to a merge and both protecting the
    combine algebra's preconditions:
    - schema drift: an existing-table column missing from ``updates``
      would be silently DROPPED by the select — raise instead;
    - duplicate keys in ``updates`` would fan out the full-outer join
      (each existing row combined once per duplicate, compounding every
      batch) — raise unless the caller disables the check because its
      updates are groupBy outputs (unique by construction).
    """
    validate_output_name(os.path.basename(os.path.normpath(path)))
    value_cols = [c for c in updates.columns if c not in keys]
    missing = [c for c in value_cols if c not in combine]
    if missing:
        raise ValueError(f"no combiner for columns {missing}")
    if check_unique:
        dup = updates.groupBy(*keys).count().filter(F.col("count") > 1)
        if dup.limit(1).count() > 0:
            raise ValueError(
                f"updates contain duplicate keys {keys}; pre-aggregate them "
                "(a duplicate would fan out the merge join and compound "
                "counts every batch)"
            )
    if table_exists(spark, path):
        existing = spark.read.parquet(path)
        extra = set(existing.columns) - set(updates.columns)
        if extra:
            raise ValueError(
                f"existing table {path!r} has columns {sorted(extra)} absent "
                "from updates; a combine merge would silently drop them"
            )
        e = existing.select(
            *keys,
            F.lit(True).alias("_e_present"),
            *[F.col(c).alias(f"_e_{c}") for c in value_cols],
        )
        i = updates.select(
            *keys,
            F.lit(True).alias("_i_present"),
            *[F.col(c).alias(f"_i_{c}") for c in value_cols],
        )
        j = e.join(i, keys, "full_outer")
        return j.select(
            *keys,
            *[
                F.when(
                    F.col("_e_present").isNotNull() & F.col("_i_present").isNotNull(),
                    combine[c](F.col(f"_e_{c}"), F.col(f"_i_{c}")),
                )
                .when(F.col("_i_present").isNotNull(), F.col(f"_i_{c}"))
                .otherwise(F.col(f"_e_{c}"))
                .alias(c)
                for c in value_cols
            ],
        )
    return updates.select(*keys, *value_cols)


# Combiners that make incremental edge MERGEs exactly reproduce the
# one-shot batch aggregation (build_edges over the full input), given
# per-url dedup keeps each url in exactly one batch:
#  - counts and weights are sums of disjoint per-batch partials;
#  - evidence sets are unions (and the k smallest of a union is
#    reachable from the per-side k smallest, so bounded evidence stays
#    exact).
def edges_combine(max_evidence: int = 3) -> dict:
    return {
        "n_evidence": lambda e, i: e + i,
        "evidence": lambda e, i: F.slice(
            F.array_sort(F.array_union(e, i)), 1, max_evidence
        ),
        "weight": lambda e, i: e + i,
    }


def compact_table(
    spark: SparkSession,
    path: str,
    files_per_partition: int = 1,
    sort_cols: list[str] | None = None,
    partition_col: str | None = None,
) -> DataFrame:
    """Small-files compaction — the parquet analog of the reference's
    ``index_rebuild`` job (B7, ref neo4j_connection.py:415-500) and of
    Iceberg's ``rewrite_data_files``: rewrite a table into
    ``files_per_partition`` files (per partition when ``partition_col``
    is given), optionally sorted within files so min/max footer stats
    prune point lookups.

    Long-running ingest accumulates one small file per micro-batch per
    partition; at 10^5+ files, task scheduling and footer reads dominate
    scan time. Content is byte-preserved (row set unchanged — pinned by
    test); the rewrite goes through scratch so the source is never read
    and overwritten in one plan.
    """
    validate_output_name(os.path.basename(os.path.normpath(path)))
    df = spark.read.parquet(path)
    if partition_col is not None:
        # hash-repartition on the partition column across ``n_tasks``
        # tasks: each partition VALUE lands in exactly one task (hash →
        # one bucket), so every partition dir gets exactly one file while
        # the rewrite stays parallel across values — never one task for
        # the whole table. files_per_partition > 1 would need a salt and
        # is not what compaction wants; reject it explicitly.
        if files_per_partition != 1:
            raise ValueError(
                "partitioned compaction writes one file per partition dir; "
                "files_per_partition must be 1 when partition_col is set"
            )
        n_tasks = spark.sparkContext.defaultParallelism
        df = df.repartition(n_tasks, partition_col)
    else:
        df = df.repartition(files_per_partition)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    return replace_table(df, path, "compact", partition_by=partition_col)
