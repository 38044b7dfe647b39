"""Capture ``.explain("formatted")`` output of named queries.

Usage, from the root of the tree whose plans you want::

    python tools/capture_plans.py --out plans/rNN --suffix before|after name...

Writes ``<out>/<name>_<suffix>.txt`` per name. Names are registry
entries (by registry name), the bench operator paths built the way
bench.py builds them (dedup_minhash, ann_ivf, ...), ``kg_edges``:
the ``edges`` frame of ``run_pipeline_in_memory`` over kg_build's
10,000 heavy pages, ``dedup_inc``: corpus_ops' ``apply_increment`` pairs
(the planted corpus outside one 10% slice indexed into a temporary
directory, that slice as the increment) and ``canon_pairs``:
``similarity_pairs`` over the alias dictionary's surfaces, shaped as
``canonicalize_stage`` calls it. Scan and scratch paths differ per run;
strip them with the ``#<id>`` expression ids before comparing. For a before/after pair, run the same command in a
checkout of the parent commit (``--suffix before``) and in this tree
(``--suffix after``); copy this script into the parent checkout if it
predates it. Workers import the package from the working directory, so
run from the root of the tree.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from graphlab_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# kg_build's input size (perfbench/workloads.py BUILD_PAGES)
KG_PAGES = 10_000


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def build(spark, name):
    from graphlab_spark.operators import ann as ANN
    from graphlab_spark.operators import dedup as DD
    from graphlab_spark.plans import event_queries  # noqa: F401
    from graphlab_spark.plans import training_queries  # noqa: F401
    from graphlab_spark.plans.relational import REGISTRY

    if name in REGISTRY:
        return REGISTRY[name].fn(spark, SF_DIR)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    planted = DD.with_planted_near_dups(docs)
    if name == "kg_edges":
        from graphlab_spark.plans.pipeline import run_pipeline_in_memory
        from graphlab_spark.sources import corpus

        pages = corpus.generate_pages(spark, KG_PAGES, heavy=True)
        return run_pipeline_in_memory(spark, pages, corpus.alias_df(spark))["edges"]
    fixdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
    )
    if name == "dedup_inc":
        import atexit
        import shutil
        import tempfile

        from graphlab_spark.operators.dedup_incremental import (
            apply_increment,
            dedup_increment,
        )

        work = tempfile.mkdtemp(prefix="plan_dedup_inc_")
        atexit.register(shutil.rmtree, work, True)
        index_dir = os.path.join(work, "index")
        in_slice = F.col("doc_id") % 10 == 0
        dedup_increment(spark, index_dir, planted.filter(~in_slice))
        return apply_increment(spark, index_dir, planted.filter(in_slice))["pairs"]
    if name == "canon_pairs":
        from graphlab_spark.operators.canonicalize import similarity_pairs
        from graphlab_spark.sources import corpus

        items = corpus.alias_df(spark).select(
            F.concat_ws("|", "canonical_id", "alias").alias("entity_id"),
            F.col("alias").alias("surface"),
        )
        return similarity_pairs(spark, items.repartition("entity_id"), id_col="entity_id")
    if name == "dedup_minhash":
        return DD.minhash_lsh_pairs(planted, 0.8)
    if name == "dedup_exact":
        return DD.exact_dup_groups(planted)
    if name == "dup_spans":
        return DD.duplicate_spans(planted, k=8, hash_grams=True)
    if name == "ann_bruteforce":
        return ANN.brute_force_topk(embs, list(range(50)), k=10)
    if name == "ann_ivf":
        return ANN.ivf_topk(embs, list(range(50)), k=10)
    if name == "ann_lsh":
        return ANN.lsh_topk(embs, list(range(50)), k=10)
    if name == "ann_ivfpq_refine":
        from graphlab_spark.operators.ann_pq import ivfpq_topk, load_pq_model

        model = load_pq_model(spark)
        return ivfpq_topk(embs, list(range(50)), k=10, refine=50, model=model)
    if name == "semantic_dedup":
        from graphlab_spark.operators.semdedup import semantic_dedup

        cent = spark.read.parquet(f"{fixdir}/semdedup_centroids.parquet")
        return semantic_dedup(embs, cent)
    if name == "lm_perplexity":
        from graphlab_spark.functions.lm import perplexity_frame

        return perplexity_frame(
            docs,
            f"{fixdir}/lm_unigrams.parquet",
            f"{fixdir}/lm_bigrams.parquet",
        )
    if name == "curation_funnel":
        from graphlab_spark.operators.curation import curation_funnel

        return curation_funnel(docs)
    if name == "quality_classifier":
        from graphlab_spark.operators.qclassify import classifier_scores

        return classifier_scores(spark, docs, f"{fixdir}/qc_weights.parquet")
    if name == "text_stats":
        from graphlab_spark.functions import textstats as TS

        return docs.select(
            "doc_id",
            TS.token_count_col().alias("n_tokens"),
            TS.quality_score_col().alias("quality"),
            TS.lang_id_col().alias("lang_pred"),
            TS.fingerprint_col().alias("fp"),
        ).filter(F.col("n_tokens") >= 0)
    raise SystemExit(f"unknown query name: {name}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="output directory, e.g. plans/r08")
    ap.add_argument("--suffix", required=True, help="file suffix, e.g. before or after")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("plan-capture")
    for name in args.names:
        df = build(spark, name)
        with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as fh:
            fh.write(plan_text(df))
        print(f"captured {name}_{args.suffix}")


if __name__ == "__main__":
    main()
