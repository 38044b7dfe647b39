"""Steel-thread E2E (SURVEY.md §5.3): synth pages → full pipeline →
nodes/edges; P/R vs planted golden; idempotent resume."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphlab_spark.operators.extract import dedup_pages, extract_stage
from graphlab_spark.operators.manifest import Manifest
from graphlab_spark.operators.mentions import build_alias_map, mentions_stage
from graphlab_spark.operators.triples import triples_stage
from graphlab_spark.plans.pipeline import run_pipeline, run_pipeline_in_memory, run_stage
from graphlab_spark.sources import corpus

N = 150


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kg_e2e"))


@pytest.fixture(scope="module")
def result(spark, out_dir):
    pages = corpus.generate_pages(spark, N)
    aliases = corpus.alias_df(spark)
    return run_pipeline(spark, pages, aliases, out_dir)


def test_dedup_keeps_latest(spark):
    pages = corpus.generate_pages(spark, N)
    d = dedup_pages(pages)
    assert d.groupBy("url").count().filter("count > 1").count() == 0
    # hot url must resolve to the max warc_ts among its copies
    hot = d.filter(F.col("url") == "https://hot.example.org/h0").collect()
    if hot:
        all_ts = (
            pages.filter(F.col("url") == "https://hot.example.org/h0")
            .agg(F.max("warc_ts"))
            .first()[0]
        )
        assert hot[0].warc_ts == all_ts


def test_edge_level_pr_is_perfect(spark, result):
    golden = spark.createDataFrame(pd.DataFrame(corpus.golden_triples_local(N)))
    gt = golden.select(
        F.col("subj_id").alias("src"), "pred", F.col("obj_id").alias("dst")
    ).distinct()
    et = result["edges"].select("src", "pred", "dst").distinct()
    tp = et.join(gt, ["src", "pred", "dst"]).count()
    ng, ne = gt.count(), et.count()
    assert tp / ne >= 0.95, f"precision {tp / ne}"
    assert tp / ng >= 0.95, f"recall {tp / ng}"


def test_nodes_have_no_unk_survivors_for_planted_entities(result):
    # every typo/abbrev variant of a planted entity canonicalizes to a
    # known id → no unk: node should carry a planted entity's surface
    unk = result["nodes"].filter(F.col("id").startswith("unk:"))
    gaz_surfaces = set()
    for _, (_, _, variants) in corpus.gazetteer().items():
        gaz_surfaces.update(v.lower() for v in variants)
    for r in unk.select("aliases").collect():
        for a in r.aliases:
            assert a.lower() not in gaz_surfaces, f"planted surface leaked to unk node: {a}"


def test_manifest_rows_span_their_stage(spark, out_dir, result):
    """A cold run's manifest rows carry the stage's real start time, not
    a zero-length span at the moment the rows were written."""
    rows = Manifest(spark, f"{out_dir}/manifest").read().collect()
    assert {r.stage for r in rows} == {"extract", "linking", "canonicalize", "nodes", "edges"}
    for r in rows:
        assert r.started_at < r.finished_at, (r.stage, r.partition_id)


def test_resume_skips_completed_and_is_idempotent(spark, out_dir, result):
    before = {k: result[k].orderBy(result[k].columns).collect() for k in ["nodes", "edges"]}
    manifest = Manifest(spark, f"{out_dir}/manifest")
    n_manifest_rows = manifest.read().count()
    # rerun the whole pipeline against the same out_dir/run_id
    pages = corpus.generate_pages(spark, N)
    aliases = corpus.alias_df(spark)
    res2 = run_pipeline(spark, pages, aliases, out_dir)
    # no stage recomputed → no new manifest rows
    assert manifest.read().count() == n_manifest_rows
    after = {k: res2[k].orderBy(res2[k].columns).collect() for k in ["nodes", "edges"]}
    assert before == after


def test_partial_resume_recomputes_only_pending(spark, tmp_path):
    """Simulate a mid-run kill: extract runs for a subset of buckets, then
    the full input resumes — completed buckets must not be recomputed."""
    out = str(tmp_path / "partial")
    pages = corpus.generate_pages(spark, N)
    manifest = Manifest(spark, f"{out}/manifest")
    # phase 1: pretend the job died after processing buckets with even ids —
    # run the stage on the half of the input whose bucket is even
    from graphlab_spark.operators.manifest import bucket_of

    even = pages.withColumn("b", bucket_of("url")).filter(F.col("b") % 2 == 0).drop("b")
    run_stage(spark, manifest, "r1", "extract", even, "url", extract_stage, f"{out}/docs")
    done_phase1 = manifest.completed_partitions("r1", "extract").count()
    assert done_phase1 > 0
    calls = {"n": 0}

    def counting_extract(df):
        calls["n"] += 1
        return extract_stage(df)

    docs = run_stage(
        spark, manifest, "r1", "extract", pages, "url", counting_extract, f"{out}/docs"
    )
    # the compute fn ran (pending buckets existed) but only over pending rows
    assert calls["n"] == 1
    total_done = manifest.completed_partitions("r1", "extract").count()
    assert total_done > done_phase1
    # full output present: equals a fresh full run
    fresh = extract_stage(pages)
    assert docs.count() == fresh.count()


def test_parse_arrow_structs_match_spark_structs():
    """r6: parse_stage emits Arrow batches directly; its pyarrow struct
    types are DERIVED from the Spark structs (to_arrow_type), so sync
    holds by construction — this pins the expected field layout as a
    tripwire against either side changing shape."""
    import pyarrow as pa

    from graphlab_spark.operators.parse import MENTION_PA, TRIPLE_PA

    assert [(f.name, f.type) for f in MENTION_PA] == [
        ("surface", pa.string()),
        ("start", pa.int32()),
        ("end", pa.int32()),
        ("m_type", pa.string()),
        ("conf", pa.float64()),
    ]
    assert [(f.name, f.type) for f in TRIPLE_PA] == [
        ("subj", pa.string()),
        ("pred", pa.string()),
        ("obj", pa.string()),
        ("conf", pa.float64()),
        ("sent_no", pa.int32()),
    ]


def _graph(res) -> dict:
    """Sorted rows of the graph tables and the vocabulary tables they
    come from (floats rounded: sums depend on summation order)."""
    cols = {
        "nodes": ["*"],
        "edges": ["src", "pred", "dst", "n_evidence", "evidence", F.round("weight", 6)],
        "links": ["surface", "canonical_id", "entity_type", F.round("score", 9), "method"],
        "entity_map": ["*"],
    }
    return {k: sorted(tuple(r) for r in res[k].select(*c).collect()) for k, c in cols.items()}


@pytest.fixture(scope="module")
def small_run(spark, tmp_path_factory):
    """A cold run over 60 pages with the default config: (out_dir, graph)."""
    out = str(tmp_path_factory.mktemp("kg_small"))
    pages = corpus.generate_pages(spark, 60)
    return out, _graph(run_pipeline(spark, pages, corpus.alias_df(spark), out))


@pytest.mark.parametrize("change", ["alias_row_removed", "higher_link_threshold"])
def test_config_change_never_serves_stale_output(spark, tmp_path, small_run, change):
    """Re-running on the same out_dir/run_id with a changed alias
    dictionary or link threshold equals a cold run with the new config:
    the alias dictionary is part of every parse bucket's fingerprint and
    the thresholds are part of every global stage's. (At 0.9 the fuzzy
    typo links below it drop out; canonicalization still merges those
    typos, so here the threshold moves links, not the graph.)"""
    pages = corpus.generate_pages(spark, 60)
    aliases = corpus.alias_df(spark)
    out = str(tmp_path / "kg")
    shutil.copytree(small_run[0], out)
    before = small_run[1]

    kwargs = {}
    if change == "alias_row_removed":
        aliases = aliases.filter(
            ~((F.col("canonical_id") == "org:acme-systems") & F.col("is_primary"))
        )
        assert aliases.count() == corpus.alias_df(spark).count() - 1
    else:
        kwargs["link_threshold"] = 0.9
    got = _graph(run_pipeline(spark, pages, aliases, out, **kwargs))
    cold = _graph(run_pipeline_in_memory(spark, pages, aliases, **kwargs))
    assert cold != before, "the config change must matter for this test to mean anything"
    assert got == cold


def test_old_stage_layout_recomputes_every_bucket(spark, tmp_path, result):
    """An out_dir written by the unfused layout (an ``extract`` stage of
    text-only docs under ``{out}/docs``, then ``mentions`` and
    ``triples`` stages, with their manifest rows) must not be resumed
    from: every bucket recomputes, the graph equals a cold run, and the
    old layout's tables are deleted."""
    import os

    out = str(tmp_path / "old_layout")
    pages = corpus.generate_pages(spark, N)
    aliases = corpus.alias_df(spark)
    alias_map = build_alias_map(r.asDict() for r in aliases.collect())
    manifest = Manifest(spark, f"{out}/manifest")
    docs = run_stage(
        spark, manifest, "run-1", "extract", pages, "url",
        lambda d: extract_stage(d).select("url", "warc_ts", "lang", "text"),
        f"{out}/docs", fp_cols=["url", "warc_ts"],
    )
    run_stage(
        spark, manifest, "run-1", "mentions", docs.select("url", "text"), "url",
        lambda d: mentions_stage(spark, d, alias_map), f"{out}/mentions",
    )
    run_stage(
        spark, manifest, "run-1", "triples", docs.select("url", "text", "lang"), "url",
        triples_stage, f"{out}/triples",
    )
    old_tables = ["docs", "mentions", "triples"]
    assert all(os.path.isdir(f"{out}/{t}") for t in old_tables)
    old_buckets = {
        r.partition_id for r in manifest.completed_partitions("run-1", "extract").collect()
    }
    assert old_buckets

    def extract_rows():
        m = Manifest(spark, f"{out}/manifest").read()
        return m.filter((F.col("stage") == "extract") & (F.col("input_fp") != -1)).count()

    n_old = extract_rows()
    got = run_pipeline(spark, pages, aliases, out)
    assert extract_rows() - n_old == len(old_buckets)
    assert _graph(got) == _graph(result)
    assert not any(os.path.exists(f"{out}/{t}") for t in old_tables)
