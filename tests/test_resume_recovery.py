"""Regression: manifest says completed but stage output was deleted —
the stage must recompute, not crash with PATH_NOT_FOUND (found by an
end-to-end probe in round 1)."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from graphlab_spark.operators.extract import extract_stage
from graphlab_spark.operators.manifest import Manifest
from graphlab_spark.plans.pipeline import run_stage


def test_missing_output_recomputes(spark, tmp_path):
    out = str(tmp_path / "rr")
    pages = spark.createDataFrame(
        [(f"u{i}", i) for i in range(50)], "url string, warc_ts long"
    ).select("url", F.timestamp_seconds("warc_ts").alias("warc_ts"),
             F.encode(F.lit("<p>Hi there.</p>"), "UTF-8").alias("html"),
             F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"))
    manifest = Manifest(spark, f"{out}/manifest")
    fn = lambda d: extract_stage(d).select("url", "warc_ts", "lang", "text")  # noqa: E731
    r1 = run_stage(spark, manifest, "r", "extract", pages, "url", fn, f"{out}/docs")
    assert r1.count() == 50
    shutil.rmtree(f"{out}/docs")
    r2 = run_stage(spark, manifest, "r", "extract", pages, "url", fn, f"{out}/docs")
    assert r2.count() == 50
    assert r2.filter(F.col("text") == "Hi there.").count() == 50


def test_missing_global_outputs_recompute(spark, tmp_path):
    """The global stages' half of the same contract: ``links`` and
    ``edges`` deleted after a cold run_pipeline are recomputed on the
    re-run, and the graph equals the cold one."""
    from graphlab_spark.plans.pipeline import run_pipeline
    from graphlab_spark.sources import corpus

    pages = corpus.generate_pages(spark, 60)
    aliases = corpus.alias_df(spark)
    out = str(tmp_path / "kg")
    tables = ("links", "entity_map", "nodes", "edges")

    def graph(res):
        return {t: sorted(map(repr, map(tuple, res[t].collect()))) for t in tables}

    cold = graph(run_pipeline(spark, pages, aliases, out))
    for t in ("links", "edges"):
        shutil.rmtree(f"{out}/{t}")
    assert graph(run_pipeline(spark, pages, aliases, out)) == cold
