"""Incremental MinHash-LSH (operators/dedup_incremental.py): feeding a
corpus in increments must yield EXACTLY the one-shot pair set, batch and
streaming, with replay-safe index updates."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from graphlab_spark.operators import dedup as DD
from graphlab_spark.operators.dedup_incremental import (
    apply_increment,
    dedup_increment,
    start_dedup_stream,
)
from test_round2_fixes import _jobs_launched


def _docs(spark, n=500, sf="/root/testdata/sf0.01"):
    d = spark.read.parquet(f"{sf}/documents.parquet").filter(F.col("doc_id") < n)
    return DD.with_planted_near_dups(d)


def _pairset(df):
    return {(r.a, r.b, r.jaccard) for r in df.select("a", "b", "jaccard").collect()}


def test_incremental_equals_oneshot(spark, tmp_path):
    docs = _docs(spark)
    oneshot = _pairset(DD.minhash_lsh_pairs(docs, 0.8))

    idx = str(tmp_path / "idx")
    inc1 = docs.filter(F.col("doc_id") % 2 == 0)
    inc2 = docs.filter(F.col("doc_id") % 2 == 1)
    p1 = _pairset(dedup_increment(spark, idx, inc1, 0.8))
    p2 = _pairset(dedup_increment(spark, idx, inc2, 0.8))
    # increment pairs partition the one-shot set: inc1-internal pairs
    # first, then everything touching inc2
    assert p1 | p2 == oneshot
    assert p1.isdisjoint(p2)
    # index now covers the whole corpus: an empty-overlap re-increment
    # of brand-new ids finds its planted duplicate across the index
    probe = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 777_000_000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    p3 = _pairset(dedup_increment(spark, idx, probe, 0.8))
    assert any(a == 0 or b == 0 for a, b, _ in p3)  # matched old doc 0


def test_streaming_dedup_matches_oneshot_and_replays(spark, tmp_path):
    docs = _docs(spark)
    oneshot = _pairset(DD.minhash_lsh_pairs(docs, 0.8))

    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "sidx")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(in_dir)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = start_dedup_stream(spark, stream, idx, ckpt, 0.8)
    q.awaitTermination(300)
    assert sorted(os.listdir(os.path.join(ckpt, "applied_batches"))) == ["0", "1"]
    assert _pairset(spark.read.parquet(f"{idx}/pairs")) == oneshot

    # replay: same checkpoint → markers skip; pairs must not duplicate
    stream2 = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q2 = start_dedup_stream(spark, stream2, idx, ckpt, 0.8)
    q2.awaitTermination(120)
    assert _pairset(spark.read.parquet(f"{idx}/pairs")) == oneshot
    assert spark.read.parquet(f"{idx}/pairs").count() == len(oneshot)  # no dup rows


def test_reingested_id_is_rejected(spark, tmp_path):
    """Appending an id already in the index would duplicate index rows
    and fan out every later verify join — refused explicitly."""
    import pytest

    docs = _docs(spark)
    idx = str(tmp_path / "clash")
    dedup_increment(spark, idx, docs.filter(F.col("doc_id") < 100))
    with pytest.raises(ValueError, match="already in the index"):
        dedup_increment(spark, idx, docs.filter(F.col("doc_id") < 50))
    # a forged duplicate index row fans out the guard's id join; the
    # error must still blame the index clash, not the increment
    dup = spark.read.parquet(f"{idx}/sigs").filter(F.col("doc_id") == 0).collect()
    spark.createDataFrame(dup).write.mode("append").parquet(f"{idx}/sigs")
    with pytest.raises(ValueError, match="already in the index"):
        dedup_increment(spark, idx, docs.filter(F.col("doc_id") < 50))


def test_legacy_family_index_refused(spark, tmp_path):
    """r6: an index whose signatures come from a DIFFERENT permutation
    family must be refused — cross-family band buckets never collide,
    so deduping against it would silently drop every cross candidate."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from graphlab_spark.operators import dedup as DD
    from graphlab_spark.operators.dedup_incremental import (
        apply_increment,
        dedup_increment,
        sig_frame,
    )

    docs = _docs(spark).filter(F.col("doc_id") < 60)

    # forge a LEGACY index: same layout, signatures from the old 61-bit
    # family (values routinely >= 2^31), no family marker
    legacy = sig_frame(docs.filter(F.col("doc_id") < 40)).withColumn(
        "sig",
        F.expr("transform(sig, x -> x + 4294967296)"),  # push into 61-bit range
    )
    # the same index led by 8 empty-document rows, whose all-zero
    # signatures fit either family: one file, sorted so they come first
    empties = spark.range(8).select(
        (F.col("id") - 8).alias("doc_id"),
        F.expr("cast(array() AS array<bigint>)").alias("shl"),
        F.expr("array_repeat(cast(0 AS bigint), 64)").alias("sig"),
    )
    inc = docs.filter(F.col("doc_id") >= 40)
    for name, sigs in (("idx", legacy), ("idx_empty_first", empties.unionByName(legacy))):
        idx = str(tmp_path / name)
        sigs.repartition(1).sortWithinPartitions("doc_id").write.parquet(f"{idx}/sigs")
        DD.bands_frame(sigs).write.parquet(f"{idx}/bands")
        with pytest.raises(ValueError, match="permutation family"):
            apply_increment(spark, idx, inc)

    # a CURRENT-family index (written by dedup_increment, which stamps
    # the marker) keeps working — and so does one whose marker is
    # missing but whose signatures are classifiably current
    idx2 = str(tmp_path / "idx2")
    dedup_increment(spark, idx2, docs.filter(F.col("doc_id") < 40))
    pairs = apply_increment(spark, idx2, inc)["pairs"]
    assert pairs.count() >= 0  # no refusal


# Jobs of one incremental call against a small stamped index (40 indexed
# documents, an increment of 26) and of one one-shot call over the same
# 66 documents: the signature pin's write, then the pairs collect (plus
# the guard aggregate for the increment). The index tables are read with
# the increment's schemas, so no schema-inference job runs for them. A
# hidden extra action on the signatures moves them.
APPLY_INCREMENT_JOB_BUDGET = 12
MINHASH_PAIRS_JOB_BUDGET = 6


def test_lsh_kernel_job_budget(spark, tmp_path):
    docs = _docs(spark, 60)
    idx = str(tmp_path / "idx")
    dedup_increment(spark, idx, docs.filter(F.col("doc_id") < 40))
    inc = docs.filter(F.col("doc_id") >= 40)
    out = {}
    jobs = (
        _jobs_launched(
            spark, "test_apply_increment_jobs",
            lambda: out.update(inc=apply_increment(spark, idx, inc)["pairs"].collect()),
        ),
        _jobs_launched(
            spark, "test_minhash_pairs_jobs",
            lambda: out.update(oneshot=DD.minhash_lsh_pairs(docs, 0.8).collect()),
        ),
    )
    assert out["inc"] and {(r.a, r.b) for r in out["inc"]} <= {
        (r.a, r.b) for r in out["oneshot"]
    }
    assert jobs == (APPLY_INCREMENT_JOB_BUDGET, MINHASH_PAIRS_JOB_BUDGET)
