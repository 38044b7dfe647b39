"""spark-submit entrypoint for the full KG-construction pipeline (the
north rule's required invocation mode):

    zip -qr /tmp/graphlab_spark.zip graphlab_spark
    spark-submit --py-files /tmp/graphlab_spark.zip \
        tools/drive_kg.py <out_dir> <n_pages> <cores>

Generates the deterministic synthetic corpus, runs the resumable
pipeline (`plans.pipeline.run_pipeline` with an out_dir: the fused parse
as one url-bucketed `extract` stage under a per-bucket lineage manifest,
then the `linking`, `canonicalize`, `nodes` and `edges` global stages),
compares the materialized edges against the frozen-rule golden triple
set, and prints one `VERIFY P=... R=...` line. Re-running against the
same out_dir must skip all work (resume), including at a DIFFERENT core
count (buckets are keyed by url hash, not physical partition).
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    out_dir, n, cores = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("drive_kg")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from graphlab_spark.plans.pipeline import run_pipeline
    from graphlab_spark.sources import corpus

    t0 = time.time()
    res = run_pipeline(
        spark, corpus.generate_pages(spark, n), corpus.alias_df(spark), out_dir
    )
    # DRIVER-FREE P/R (operators/evaluate.triple_pr): distinct + one
    # left-semi per side, counts as 1-row broadcast aggregates — the
    # edge set never reaches the driver, so the same gate runs at
    # 10^12 edges. (The golden side is generated locally here because
    # it is rule-derived and test-sized; at scale it is a table too.)
    from graphlab_spark.operators.evaluate import triple_pr

    golden_df = spark.createDataFrame(
        [
            (g["subj_id"], g["pred"], g["obj_id"])
            for g in corpus.golden_triples_local(n)
        ],
        "src string, pred string, dst string",
    )
    pr_row = triple_pr(
        res["edges"].select("src", "pred", "dst"), golden_df
    ).collect()[0]
    p, r = pr_row.precision, pr_row.recall
    print(
        f"VERIFY P={p:.4f} R={r:.4f} docs={res['docs'].count()} "
        f"triples={res['triples'].count()} edges={res['edges'].count()} "
        f"manifest_rows={res['manifest'].count()} wall={time.time() - t0:.1f}s"
    )


if __name__ == "__main__":
    main()
