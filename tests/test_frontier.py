"""Sketch-family pipeline integration (VERDICT r4 task 7): the Bloom
seen-URL frontier is output-identical to the exact anti-join across
increments, and the manifest's HLL side table tracks distinct urls
across run snapshots with the exact count as its oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphlab_spark.operators.frontier import (
    frontier_add,
    frontier_init,
    frontier_new,
)


@pytest.fixture()
def urls(spark):
    return spark.createDataFrame(
        [(f"https://ex{i % 7}.org/p/{i}",) for i in range(400)], "url string"
    )


def test_frontier_equals_exact_antijoin(spark, urls, tmp_path):
    fdir = str(tmp_path / "f")
    seen = urls.filter(F.expr("substr(md5(url), 1, 1) < 'a'"))
    frontier_init(spark, fdir, seen)
    got = {r.url for r in frontier_new(spark, fdir, urls).collect()}
    want = {r.url for r in urls.join(seen, "url", "left_anti").collect()}
    assert got == want and 0 < len(got) < 400


def test_frontier_no_false_negatives_ever(spark, urls, tmp_path):
    """Every truly-new url is surfaced, even at a bloom sized to
    produce heavy false positives (fp only costs exact-join work)."""
    fdir = str(tmp_path / "f2")
    seen = urls.filter(F.col("url").contains("/p/1"))
    frontier_init(spark, fdir, seen, n_bits=64)  # absurdly small: fp-heavy
    got = {r.url for r in frontier_new(spark, fdir, urls, n_bits=64).collect()}
    want = {r.url for r in urls.join(seen, "url", "left_anti").collect()}
    assert got == want


def test_frontier_increments_equal_oneshot(spark, urls, tmp_path):
    """init(A) + add(B) answers exactly like init(A ∪ B): the bit sets
    OR together and the url table appends."""
    a = urls.filter(F.col("url").rlike("/p/[0-9]?[02468]$"))
    b = urls.filter(F.col("url").rlike("/p/1[0-9][0-9]$"))
    inc, one = str(tmp_path / "inc"), str(tmp_path / "one")
    frontier_init(spark, inc, a)
    frontier_add(spark, inc, b)
    frontier_init(spark, one, a.unionByName(b))
    got = {r.url for r in frontier_new(spark, inc, urls).collect()}
    want = {r.url for r in frontier_new(spark, one, urls).collect()}
    exact = {
        r.url for r in urls.join(a.unionByName(b), "url", "left_anti").collect()
    }
    assert got == want == exact


def test_manifest_hll_tracks_distinct_urls_across_runs(spark, tmp_path):
    """run_pipeline records extract-stage HLL registers; the merged
    estimate across two run snapshots approximates the exact distinct
    url count of the UNION without rescanning either run's data."""
    from graphlab_spark.operators.manifest import Manifest
    from graphlab_spark.plans.pipeline import run_pipeline
    from graphlab_spark.sources import corpus

    out = str(tmp_path / "out")
    pages = corpus.generate_pages(spark, 120)
    aliases = corpus.alias_df(spark)
    first = pages.filter(F.col("url").rlike("[0-9]*[02468]$"))
    second = pages  # overlaps first: distinct-union ≠ sum of counts
    run_pipeline(spark, first, aliases, out, run_id="run-a")
    run_pipeline(spark, second, aliases, out, run_id="run-b")
    manifest = Manifest(spark, f"{out}/manifest")
    est = manifest.approx_distinct_keys(stages=["extract"])
    exact = first.select("url").unionByName(second.select("url")).distinct().count()
    assert abs(est - exact) / exact < 0.15, (est, exact)
    # a no-op re-run writes no rows, so it appends no registers and the
    # estimate stays identical
    n_regs = spark.read.parquet(f"{out}/manifest_hll").count()
    run_pipeline(spark, second, aliases, out, run_id="run-b")
    assert spark.read.parquet(f"{out}/manifest_hll").count() == n_regs
    assert manifest.approx_distinct_keys(stages=["extract"]) == est


def test_reclaim_dead_roots_spares_live_sessions(tmp_path):
    """Cross-process scratch sweeps must only reclaim roots whose owner
    process is DEAD (r5: a blanket wipe destroyed a live session's
    pinned frames mid-query)."""
    import os

    from graphlab_spark.operators.scratch import reclaim_dead_roots

    base = str(tmp_path)
    live = tmp_path / "glpipe-live"
    dead = tmp_path / "glpipe-dead"
    unmarked = tmp_path / "glpipe-old"  # predates the .owner marker
    fresh = tmp_path / "glpipe-fresh"  # racing mkdtemp→marker-write window
    for d in (live, dead, unmarked, fresh):
        d.mkdir()
        (d / "stage-1").mkdir()
    (live / ".owner").write_text(str(os.getpid()))
    (dead / ".owner").write_text("999999999")
    # age the marker-less root past the grace window (r6: a root younger
    # than 60s may be racing between mkdtemp and its marker write —
    # reclaiming it immediately was the ADVICE-flagged data-loss window)
    old_ts = os.path.getmtime(unmarked) - 3600
    os.utime(unmarked, (old_ts, old_ts))
    removed = set(reclaim_dead_roots(base))
    assert str(dead) in removed and str(unmarked) in removed
    assert live.exists() and (live / "stage-1").exists()
    assert fresh.exists()  # young + marker-less → spared this sweep
    assert not dead.exists() and not unmarked.exists()
