"""Right-to-be-forgotten over the resumable pipeline: forget_urls on an
existing out_dir equals a cold run over the corpus minus the urls, and
recomputes only the buckets the forgotten urls lived in (+ the global
vocabulary stages)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphlab_spark.operators.manifest import N_BUCKETS, bucket_of
from graphlab_spark.plans.pipeline import forget_urls, run_pipeline
from graphlab_spark.sources import corpus

N = 120


def _snap(df, cols=("src", "pred", "dst")):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_forget_urls_equals_cold_run_and_is_bounded(spark, tmp_path):
    pages = corpus.generate_pages(spark, N)
    aliases = corpus.alias_df(spark)
    out = str(tmp_path / "kg")

    full = run_pipeline(spark, pages, aliases, out)
    full_edges = _snap(full["edges"])

    # forget the urls of 3 docs that actually contributed triples
    victims = [
        r.url
        for r in full["triples"].select("url").distinct().limit(3).collect()
    ]
    assert len(victims) == 3
    rows_before = spark.read.parquet(f"{out}/manifest").count()

    got = forget_urls(spark, pages, aliases, out, victims)

    # equality: ≡ a cold run over pages minus the victims
    cold_out = str(tmp_path / "kg_cold")
    remaining = pages.filter(~F.col("url").isin(victims))
    cold = run_pipeline(spark, remaining, aliases, cold_out)
    assert _snap(got["edges"]) == _snap(cold["edges"])
    assert _snap(got["nodes"], ("id",)) == _snap(cold["nodes"], ("id",))
    # no forgotten url survives anywhere
    assert got["docs"].filter(F.col("url").isin(victims)).count() == 0
    assert got["triples"].filter(F.col("url").isin(victims)).count() == 0

    # recompute bound: new manifest rows cover only the victims' buckets
    # of the url-keyed extract stage (+ global vocabulary stages, which
    # carry a transitive fingerprint and must recompute)
    touched = (
        spark.createDataFrame([(u,) for u in victims], "url string")
        .select(bucket_of("url").alias("b"))
        .distinct()
        .count()
    )
    rows_after = spark.read.parquet(f"{out}/manifest").count()
    new_rows = rows_after - rows_before
    url_stages, global_stages = 1, 5
    assert new_rows <= url_stages * touched + global_stages + 2
    # and it genuinely resumed: far fewer rows than a full re-run writes
    assert new_rows < rows_before / 2


def test_forget_unknown_url_is_a_cheap_noop(spark, tmp_path):
    pages = corpus.generate_pages(spark, 60)
    aliases = corpus.alias_df(spark)
    out = str(tmp_path / "kg2")
    first = run_pipeline(spark, pages, aliases, out)
    before = _snap(first["edges"])
    rows_before = spark.read.parquet(f"{out}/manifest").count()

    got = forget_urls(spark, pages, aliases, out, ["https://nowhere.example/x"])
    assert _snap(got["edges"]) == before
    # nothing's fingerprint changed → only (at most) global-stage probes
    rows_after = spark.read.parquet(f"{out}/manifest").count()
    assert rows_after - rows_before <= 1
