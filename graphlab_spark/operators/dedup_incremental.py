"""Incremental MinHash-LSH dedup against a persisted signature index.

At 100 TB you never re-dedup the corpus: a persisted index holds every
document's prehashed shingle set and banded LSH keys, and each new
increment is checked ONLY against the index plus itself —
O(increment × bucket-collisions), never O(corpus²) and never a rescan
of corpus text. This is the scale path behind d04's one-shot form.

Index layout under ``index_dir`` (two tables):
- ``sigs``  — (doc_id, shl array<long>, sig array<long>): prehashed
  shingles (for exact-Jaccard verification; ~8 bytes/shingle instead of
  the raw text) and the minhash signature.
- ``bands`` — (doc_id, band, bucket): the LSH blocking keys. At cluster
  scale this table is BUCKETED by (band, bucket) (sources/bucketed.py)
  so the increment⋈index candidate join is co-partitioned.

Equivalence contract (pinned by test_dedup_incremental.py): feeding a
corpus in any number of increments yields EXACTLY the pairs of the
one-shot ``minhash_lsh_pairs`` over the union — candidates are a pure
function of bucket keys, and verification uses exact Jaccard over the
shingle sets. Verification here compares PREHASHED shingle sets
(xxhash64): equal to string-set Jaccard unless two distinct shingles of
one document pair collide in 64 bits (~1e-11 per pair at 10^4
shingles) — the same trade the one-shot path makes for signatures.

Crash safety: ``apply_increment`` returns the pairs AND the updated
index frames without writing; callers choose the commit discipline.
Increment ids must be unique and previously unseen (guarded) — a
re-crawl workload needs delete+rebuild or a latest-wins upsert first.
``start_dedup_stream`` wires it into foreachBatch through
``exactly_once.BatchCommitter`` (stage → commit → promote → marker), so
replayed increments neither duplicate index rows nor re-emit pairs. On
Iceberg the index update is a single append transaction instead of the
committer's rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphlab_spark.operators.dedup import (
    band_candidates,
    bands_frame,
    minhash_hashes_udf,
    prehashed_col,
    shingled,
    verified_doc_pairs,
)
from graphlab_spark.operators.scratch import (
    _FS,
    materialize,
    replace_table,
    table_exists,
)


# r6: the minhash permutation family changed (exact 31-bit Mersenne —
# see dedup._permute_min31). Signatures from different families never
# share band buckets, so an increment signed with one family joined
# against an index signed with another would SILENTLY drop every
# cross candidate. The index therefore carries a family marker
# (a zero-byte Hadoop-FS path — existence check only, no Spark job);
# apply_increment refuses a mismatched or provably-legacy index.
SIG_FAMILY = "p31"


def _family_marker(index_dir: str) -> str:
    return f"{index_dir}/SIG_FAMILY_{SIG_FAMILY}"


def stamp_sig_family(spark: SparkSession, index_dir: str) -> None:
    """Idempotently mark ``index_dir`` as signed with the CURRENT
    family. Writers call this after promoting sigs/bands."""
    _FS(spark, index_dir).mkdirs(_family_marker(index_dir))


def _check_sig_family(spark: SparkSession, index_dir: str, old_sigs: DataFrame) -> None:
    """Refuse to dedup against an index signed with a different
    permutation family. Tagged index: one driver-side FS existence
    check, no job. Untagged (pre-tag or crash-before-stamp) index: look
    for any signature value ≥ 2^31 — the legacy 61-bit family's values
    exceed it with overwhelming probability, the current family's never
    do. The scan stops at the first hit; empty documents' all-zero
    signatures fit both families and cannot hide one."""
    if table_exists(spark, _family_marker(index_dir)):
        return
    if old_sigs.filter(F.exists("sig", lambda x: x >= (1 << 31))).limit(1).collect():
        raise ValueError(
            f"index at {index_dir!r} was built with a different minhash "
            f"permutation family (pre-{SIG_FAMILY} signatures detected); "
            "cross-family band buckets never collide, so incremental "
            "dedup against it would silently miss pairs — rebuild the "
            "index with the current family"
        )


def sig_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, shl, sig) index rows for ``docs`` — prehashed shingles
    only (no text, no string shingles). Bands derive from this via
    :func:`graphlab_spark.operators.dedup.bands_frame`."""
    from graphlab_spark.operators.scratch import spread

    docs = spread(docs)  # shingle + signature UDF are pre-exchange (r6)
    return (
        shingled(docs)
        .select("doc_id", prehashed_col("sh").alias("shl"))
        .withColumn("sig", minhash_hashes_udf("shl"))
    )


def apply_increment(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    threshold: float = 0.8,
    scratch_name: str = "dedup_inc_sigs",
) -> dict:
    """Dedup one increment against the index (and itself) WITHOUT
    writing anything. Returns::

        {"pairs":     verified near-dup pairs (new×index ∪ new×new),
         "new_sigs":  the increment's index rows to append,
         "new_bands": ...,
         "sigs":      full updated sigs frame  (existing ∪ new),
         "bands":     full updated bands frame (existing ∪ new)}

    ``pairs`` always orders (a, b) with a < b. The increment's own
    candidates come from the one-shot band self-join; candidates against
    the index come from one join on (band, bucket) — the increment side
    is small, so AQE broadcasts it against the bucketed index. Both
    verify with the one-shot tier's :func:`verified_doc_pairs`.
    """
    new_sigs = materialize(sig_frame(new_docs), scratch_name)
    new_bands = bands_frame(new_sigs)

    # PRECONDITION: ids are unique and new. Duplicates — within the
    # increment or against the index — would duplicate index rows and
    # fan out every later verify join; cheap guards beat silent
    # corruption (both probes run on the already-materialized sigs).
    # ONE aggregate job answers all three probes (row count, distinct
    # count, index-clash count ride the same scan + one id join)
    # instead of three separate jobs (r6). The join keeps the same
    # scale shape the old semi-probe had: the increment side is small,
    # the index side is only its id column, and AQE picks the strategy.
    # The clash is checked first: a duplicated index id fans the join
    # out, which would otherwise read as a duplicate in the increment.
    have_index = table_exists(spark, f"{index_dir}/sigs")
    probe = new_sigs.select("doc_id")
    if have_index:
        # the index rows share the increment's schemas: reading with them
        # skips one schema-inference job per table
        old_sigs = spark.read.schema(new_sigs.schema).parquet(f"{index_dir}/sigs")
        old_bands = spark.read.schema(new_bands.schema).parquet(f"{index_dir}/bands")
        _check_sig_family(spark, index_dir, old_sigs)
        probe = probe.join(
            old_sigs.select("doc_id").withColumn("_hit", F.lit(1)),
            "doc_id",
            "left",
        )
    else:
        old_sigs = old_bands = None
        probe = probe.withColumn("_hit", F.lit(None).cast("int"))
    guard = probe.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("doc_id").alias("d"),
        F.count("_hit").alias("clash"),
    ).head()
    if guard["clash"]:
        raise ValueError(
            "increment contains doc_ids already in the index at "
            f"{index_dir!r}; re-ingestion needs a delete+rebuild or "
            "latest-wins upsert, not an append"
        )
    if guard["d"] != guard["n"]:
        raise ValueError("increment contains duplicate doc_ids")
    cand = band_candidates(new_bands)
    if have_index:
        # plain union: self-pairs (both ids new) and cross-pairs (exactly
        # one id old — the clash guard above enforces new ∩ index = ∅)
        # are DISJOINT sets, each already distinct, so an outer
        # .distinct() would be a no-op costing one full exchange (r6)
        cand = cand.unionByName(
            new_bands.alias("n")
            .join(old_bands.alias("o"), ["band", "bucket"])
            .select(
                F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("a"),
                F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        all_sigs = old_sigs.unionByName(new_sigs)
    else:
        all_sigs = new_sigs
    return {
        "pairs": verified_doc_pairs(cand, all_sigs, threshold),
        "new_sigs": new_sigs,
        "new_bands": new_bands,
        "sigs": all_sigs,
        "bands": new_bands if old_bands is None else old_bands.unionByName(new_bands),
    }


def dedup_increment(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Batch convenience: verify the increment, append it to the index
    (full-rewrite emulation of the Iceberg append — small-scale sandbox
    path; NOT crash-atomic across the two tables, use
    :func:`start_dedup_stream` for that), return the verified pairs
    materialized (so callers can consume them after the index moved)."""
    r = apply_increment(spark, index_dir, new_docs, threshold)
    pairs = materialize(r["pairs"], "dedup_inc_pairs")
    for name in ("sigs", "bands"):
        replace_table(r[name], f"{index_dir}/{name}", f"dedup_inc_{name}")
    stamp_sig_family(spark, index_dir)
    return pairs


def start_dedup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
):
    """Continuous incremental dedup: each micro-batch of documents is
    checked against the index, verified pairs are APPENDED to
    ``{index_dir}/pairs``, and the index tables advance — all inside one
    staged commit (``BatchCommitter``), so a replayed batch neither
    duplicates index rows nor re-emits its pairs."""
    from graphlab_spark.streaming.exactly_once import BatchCommitter

    committer = BatchCommitter(spark, checkpoint_dir, index_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from graphlab_spark.operators.scratch import cleanup_prefix

        if committer.already_applied(batch_id):
            return
        if committer._committed(batch_id):
            # crash landed between promote and marker: finish promotion
            # WITHOUT recomputing — re-running apply_increment here
            # would see the already-promoted ids and trip the clash
            # guard, bricking the stream. frame_fns are never invoked
            # past the commit flag.
            def _never():
                raise AssertionError("recompute after commit flag")

            committer.run(batch_id, {"sigs": _never, "bands": _never, "pairs": _never})
            return
        # No fresh-checkpoint guard here (unlike the combine merges):
        # dedup pairs are not additive, and a genuine double-read of the
        # same documents is caught exactly by the doc_id clash guard —
        # while a fresh checkpoint over NEW input against a batch-built
        # index is a legitimate handoff.
        if batch_df.isEmpty():
            return
        btag = f"dedup_inc_{committer.ctag}_b{batch_id}"
        try:
            r = apply_increment(spark, index_dir, batch_df, threshold, scratch_name=btag)

            def _pairs():
                p = r["pairs"]
                if table_exists(spark, f"{index_dir}/pairs"):
                    p = spark.read.parquet(f"{index_dir}/pairs").unionByName(p)
                return p

            committer.run(
                batch_id,
                {"sigs": lambda: r["sigs"], "bands": lambda: r["bands"], "pairs": _pairs},
            )
            # stamp AFTER the commit promotes: idempotent; a crash
            # before this leaves an untagged new-family index, which
            # the signature probe classifies correctly (31-bit values),
            # and the next successful batch stamps it
            stamp_sig_family(spark, index_dir)
        finally:
            cleanup_prefix(btag)  # per-batch scratch, fully consumed by staging

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
