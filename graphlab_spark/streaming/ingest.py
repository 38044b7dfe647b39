"""Structured-Streaming micro-batch ingest of new crawl increments.

The reference's job model is batch-with-retry (persisted job rows polled
by workers — ``backend/README.md:26-27``), which maps exactly onto
Structured Streaming's file source + ``foreachBatch``: each micro-batch
is a new crawl increment; per-doc stages run the SAME fused parse as the
batch pipeline.

Two merge modes for the nodes/edges tables:

- ``cumulative=True`` (default): drift-free incremental maintenance.
  Entity ids are a function of the WHOLE observed vocabulary (an UNK
  surface's canonical id can change when a later increment supplies a
  similarity bridge), so entity-keyed tables cannot be combined across
  increments directly. Instead each batch (a) COMBINE-merges
  SURFACE-keyed stats tables (``mention_stats``, ``triple_stats`` —
  counts add, bounded evidence unions; surfaces are literal strings, no
  identity to drift), then (b) recomputes the entity map over the
  ACCUMULATED vocabulary and REBUILDS nodes/edges from the merged
  stats — vocabulary-sized work, never a corpus rescan. All four tables
  go through one staged ``exactly_once.BatchCommitter`` commit, so
  after all increments nodes/edges EXACTLY equal one batch run over the
  union of inputs — including cross-increment UNK merges (pinned by
  test_streaming_ingest.py::test_bridge_surface_across_increments).
  PRECONDITION: each url appears in exactly one increment (per-url
  dedup only sees within a batch). A RE-CRAWLED url would have its
  counts added twice — re-crawl workloads need latest-wins:
- ``cumulative=False``: idempotent B1-style row replacement (latest
  increment wins per key, replays converge with no gating) — the mode
  for re-crawl streams, at the cost of cross-increment counts.

No watermarks/event-time aggregation here: crawl increments carry no
event-time semantics in the reference; the event-time surface lives in
``streaming/rollup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphlab_spark.operators import canonicalize as _canon
from graphlab_spark.operators import linking as _linking
from graphlab_spark.operators import materialize as _mat
from graphlab_spark.operators.mentions import build_alias_map
from graphlab_spark.operators.parse import PARSED_SCHEMA, parse_stage  # noqa: F401
from graphlab_spark.sources.corpus import PAGES_SCHEMA
from graphlab_spark.streaming.exactly_once import BatchCommitter


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of page increments (parquet drops into a dir —
    the streaming analog of 'a crawl job finished'). Tests pass
    ``max_files_per_trigger=1`` to force deterministic multi-batch runs
    that exercise the cross-batch combine path."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )


def start_ingest(
    spark: SparkSession,
    pages_stream: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    link_threshold: float = _linking.DEFAULT_THRESHOLD,
    jaccard_dist: float = _canon.DEFAULT_JACCARD_DIST,
    cumulative: bool = True,
):
    """pages stream → foreachBatch(fused parse → link → MERGE nodes/edges).

    Returns the StreamingQuery. Use ``trigger(availableNow)`` semantics by
    awaiting termination after files stop arriving, or keep it running for
    continuous ingest. Each batch is one manifest-equivalent unit: the
    streaming checkpoint records which files were processed.

    ``cumulative=True`` (default): SURFACE-keyed stats tables COMBINE
    across batches (counts add, bounded evidence unions —
    ``materialize.MENTION_STATS_COMBINE`` / ``edges_combine``), then the
    entity map is recomputed over the ACCUMULATED vocabulary and
    nodes/edges are REBUILT from the merged stats
    (``materialize.nodes_from_stats`` / ``edges_from_stats``), so after
    all increments the tables are EXACTLY what one batch run over the
    union of inputs produces — including n_mentions / n_evidence /
    weight / aliases AND cross-increment entity merges (a batch-local
    entity map would split an UNK entity whose similarity bridge lands
    in a different increment). Requires disjoint urls per increment —
    see module docstring. A combine merge applied twice double-counts,
    and the four tables must change together — both are handled by
    ``exactly_once.BatchCommitter``: each batch's merged stats AND
    rebuilt nodes/edges are staged, commit-flagged, promoted, then
    marked applied, so a crash at ANY point replays to exactly-once (a
    fresh checkpoint against populated tables is refused — double-count
    hazard). ``cumulative=False`` restores latest-wins row replacement
    (idempotent per batch without gating — B1's plain MERGE semantics).

    Built for continuous operation: the alias dictionary is broadcast
    ONCE per query (not per batch), each batch's scratch parquet is
    reclaimed after its MERGE commits, and the batch vocabulary uses the
    same size-adaptive switch as the batch pipeline (driver fast path up
    to the ceiling, distributed above or on clustered input).
    """
    from graphlab_spark.plans.pipeline import (
        _build_outputs,
        _vocab_driver_max,
        entity_map_adaptive,
    )

    import hashlib

    alias_rows = _linking.collect_alias_rows(aliases)
    alias_map = build_alias_map(iter(alias_rows))
    alias_bc = spark.sparkContext.broadcast(alias_map)
    vmax = _vocab_driver_max()
    # scratch names scoped to this query: per-batch reclamation must
    # never delete a CONCURRENT query's in-flight scratch (two queries
    # both at batch 0 would otherwise share 'stream_batch_0'/'merge_upsert')
    qtag = hashlib.md5(f"{out_dir}|{checkpoint_dir}".encode()).hexdigest()[:8]

    committer = (
        BatchCommitter(spark, checkpoint_dir, out_dir) if cumulative else None
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from graphlab_spark.operators.parse import (
            mentions_view,
            surfaces_view,
            triples_view,
        )
        from graphlab_spark.operators.scratch import cleanup_prefix, materialize

        if cumulative:
            if committer.already_applied(batch_id):
                return
            committer.guard_first_batch(
                batch_id, ["mention_stats", "triple_stats", "nodes", "edges"]
            )
            committer.guard_layout(
                batch_id, ["mention_stats", "triple_stats"], ["nodes", "edges"]
            )
        if batch_df.isEmpty():
            return
        btag = f"stream_{qtag}_b{batch_id}"
        try:
            parsed = materialize(
                parse_stage(spark, batch_df, alias_bc=alias_bc), btag
            )
            mentions = mentions_view(parsed)
            triples = triples_view(parsed)
            if cumulative:
                # (a) combine SURFACE-keyed stats (drift-free algebra),
                # (b) recompute the entity map over the ACCUMULATED
                #     vocabulary, (c) rebuild nodes/edges from the merged
                #     stats. One staged commit covers all four tables:
                # every frame is computed from the untouched live tables,
                # commit-flagged, then promoted — a crash between
                # promotions replays to promotion-only, never to a second
                # combine. ``_merged`` is lazy: a replay past the commit
                # point never recomputes (frame_fns aren't invoked).
                batch_mstats = _mat.mention_stats_frame(mentions)
                batch_tstats = _mat.triple_stats_frame(triples)
                state: dict = {}

                def _merged() -> dict:
                    if not state:
                        state["m"] = materialize(
                            _mat.combined_frame(
                                spark, f"{out_dir}/mention_stats", batch_mstats,
                                ["surface", "m_type"], _mat.MENTION_STATS_COMBINE,
                                check_unique=False,  # groupBy output: unique
                            ),
                            f"{btag}_mstats",
                        )
                        state["t"] = materialize(
                            _mat.combined_frame(
                                spark, f"{out_dir}/triple_stats", batch_tstats,
                                ["subj", "pred", "obj"], _mat.edges_combine(),
                                check_unique=False,
                            ),
                            f"{btag}_tstats",
                        )
                        surfaces_plan = (
                            state["m"].select("surface")
                            .unionByName(state["t"].select(F.col("subj").alias("surface")))
                            .unionByName(state["t"].select(F.col("obj").alias("surface")))
                            .distinct()
                        )
                        _, state["em"] = entity_map_adaptive(
                            spark, surfaces_plan, aliases, alias_rows,
                            link_threshold, jaccard_dist, vmax,
                            pin_prefix=f"{btag}_",
                        )
                    return state

                committer.run(
                    batch_id,
                    {
                        "mention_stats": lambda: _merged()["m"],
                        "triple_stats": lambda: _merged()["t"],
                        "nodes": lambda: _mat.nodes_from_stats(
                            _merged()["m"], _merged()["em"]
                        ),
                        "edges": lambda: _mat.edges_from_stats(
                            _merged()["t"], _merged()["em"]
                        ),
                    },
                )
            else:
                _, entity_map = entity_map_adaptive(
                    spark, surfaces_view(parsed), aliases, alias_rows,
                    link_threshold, jaccard_dist, vmax, pin_prefix=f"{btag}_",
                )
                nodes, edges = _build_outputs(mentions, triples, entity_map)
                # Idempotent MERGE (B1): a replayed batch rewrites the
                # same rows (latest-wins per key; no markers needed)
                _mat.merge_upsert(
                    spark, f"{out_dir}/nodes", nodes, ["id"],
                    scratch_name=f"{btag}_merge",
                )
                _mat.merge_upsert(
                    spark, f"{out_dir}/edges", edges, ["src", "pred", "dst"],
                    scratch_name=f"{btag}_merge",
                )
        finally:
            # reclaim this batch's scratch — a continuous query must not
            # accumulate tmpfs until interpreter exit
            cleanup_prefix(btag)

    return (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
