"""Physical-plan audit: verify that the plans Catalyst produces are the
plans we want at scale — filters pushed into the parquet scan, column
pruning effective, dimension joins broadcast, no accidental cartesian.

Prints a PASS/WARN line per check plus the offending plan snippet.
Run: python tools/explain_audit.py [sf_dir]

``--sweep`` instead plans every registry entry and prints one line per
entry: its shuffle-Exchange count and smells (row-at-a-time Python UDFs,
CartesianProduct, many Arrow evals or shuffles). Informational; exits 0.
Run: python tools/explain_audit.py --sweep [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from graphlab_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def check(name: str, ok: bool, detail: str = "") -> bool:
    print(f"{'PASS' if ok else 'WARN'}  {name}" + (f" — {detail}" if detail and not ok else ""))
    return ok


def sweep(spark, sf_dir: str, registry) -> None:
    """One line per registry entry: shuffle Exchange count and smells."""
    for name, entry in registry.items():
        try:
            p = plan_of(entry.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"{name:35s} ex=-1  PLAN-ERROR {type(e).__name__}: {e}")
            continue
        n_ex = p.count("Exchange") - p.count("BroadcastExchange") - p.count("ReusedExchange")
        smells = []
        if "BatchEvalPython" in p:
            smells.append("BatchEvalPython(pickled-row UDF)")
        if "CartesianProduct" in p:
            smells.append("CartesianProduct")
        if p.count("ArrowEvalPython") > 3:
            smells.append(f"ArrowEvalPython x{p.count('ArrowEvalPython')}")
        if n_ex > 6:
            smells.append(f"shuffle Exchange x{n_ex}")
        print(f"{name:35s} ex={n_ex:2d}  {'; '.join(smells) or 'ok'}")


def main() -> None:
    sweep_mode = "--sweep" in sys.argv
    if sweep_mode:
        sys.argv.remove("--sweep")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit", shuffle_partitions=8)
    from graphlab_spark.plans.relational import REGISTRY
    import graphlab_spark.plans.event_queries  # noqa: F401
    import graphlab_spark.plans.training_queries  # noqa: F401

    if sweep_mode:
        sweep(spark, sf_dir, REGISTRY)
        return

    ok_all = True

    # 1. filter pushdown reaches the scan (a01)
    p = plan_of(REGISTRY["a01_filter_eq"].fn(spark, sf_dir))
    ok_all &= check(
        "a01 predicate pushed to parquet scan",
        "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]" in p
        or "EqualTo(c_mktsegment,BUILDING)" in p,
        p[:600],
    )

    # 2. column pruning: q1 scan reads only needed columns
    p = plan_of(REGISTRY["tpch_q1_pricing_summary"].fn(spark, sf_dir))
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    pruned = read_schema and "l_partkey" not in read_schema[0] and "l_orderkey" not in read_schema[0]
    ok_all &= check("q1 column pruning (no l_partkey/l_orderkey in ReadSchema)", bool(pruned),
                    read_schema[0] if read_schema else "no ReadSchema found")

    # 3. broadcast joins on dims (q3, q5, a25)
    for name in ["tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume", "a25_joined_load"]:
        p = plan_of(REGISTRY[name].fn(spark, sf_dir))
        ok_all &= check(f"{name} uses BroadcastHashJoin", "BroadcastHashJoin" in p)
        ok_all &= check(f"{name} no CartesianProduct", "CartesianProduct" not in p)

    # 4. q1 partial aggregation (map-side combine before shuffle)
    p = plan_of(REGISTRY["tpch_q1_pricing_summary"].fn(spark, sf_dir))
    ok_all &= check("q1 partial_ aggregate before exchange", "partial_" in p.lower() or "HashAggregate" in p)

    # 5. whole-stage codegen in the EXECUTED plan (pre-execution AQE plans
    # hide codegen annotations behind isFinalPlan=false)
    q1df = REGISTRY["tpch_q1_pricing_summary"].fn(spark, sf_dir)
    q1df.collect()
    executed = q1df._jdf.queryExecution().executedPlan().toString()
    # Spark 4 renders codegen'd operators with a "*(N)" stage prefix
    ok_all &= check(
        "q1 whole-stage codegen (executed plan)",
        "WholeStageCodegen" in executed or "*(1)" in executed,
    )

    # 6. dedup slim path: winners join is AQE-DECIDED (not forced) — at
    # this size the runtime plan must still pick a broadcast, while the
    # logical plan carries no broadcast hint (so 10^9 urls won't OOM the
    # driver at scale). Executed plan needed: AQE finalizes at runtime.
    from graphlab_spark.operators.extract import dedup_pages
    from graphlab_spark.sources import corpus
    pages = corpus.generate_pages(spark, 100)
    ddf = dedup_pages(pages)
    logical = plan_of(ddf)
    ok_all &= check(
        "dedup winners join carries no forced broadcast hint",
        "ResolvedHint" not in logical and "broadcast" not in logical.split("== Physical Plan ==")[0].lower(),
    )
    ddf.collect()
    executed = ddf._jdf.queryExecution().executedPlan().toString()
    ok_all &= check(
        "dedup winners join broadcast AT THIS SIZE via AQE",
        "BroadcastHashJoin" in executed, executed[:800],
    )

    # 6b. vocabulary-derived frames are never force-broadcast in source
    # (VERDICT r1 item 1): entity_map / links / winners joins must rely
    # on AQE. Static source check — the regression this guards is a
    # reintroduced F.broadcast() around a vocabulary-sized frame.
    import re as _re
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bad = []
    for rel in ["graphlab_spark/plans/pipeline.py", "graphlab_spark/operators/linking.py",
                "graphlab_spark/operators/extract.py", "graphlab_spark/operators/canonicalize.py"]:
        src = open(f"{root}/{rel}").read()
        for m in _re.finditer(r"F\.broadcast\(\s*(\w+)", src):
            if m.group(1) in {"entity_map", "links", "winners", "em", "known", "kb", "surfaces"}:
                bad.append(f"{rel}: F.broadcast({m.group(1)})")
    ok_all &= check("no forced broadcast of vocabulary-sized frames", not bad, "; ".join(bad))

    # 6c. salted join spreads the big side on (key, _salt)
    from graphlab_spark.operators.skew import salted_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "event_id")
    dim = ev.select("user_id").distinct().withColumn("seg", F.pmod(F.col("user_id"), F.lit(5)))
    sj = salted_join(ev, dim, "user_id")
    p = plan_of(sj)
    ok_all &= check(
        "salted_join shuffles on (key, _salt)",
        "_salt" in p and "xxhash64" in p, p[:800],
    )

    # 6c2. IVF ANN: query probes broadcast, no cartesian anywhere
    from graphlab_spark.operators import ann as ANN
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(ANN.ivf_topk(embs, [0, 1, 2], k=3))
    ok_all &= check("ivf_topk broadcasts the probe side", "BroadcastHashJoin" in p or "broadcast" in p.lower())
    ok_all &= check("ivf_topk no CartesianProduct", "CartesianProduct" not in p)

    # 6d. AQE skew-join handling is on (hot urls/surfaces split at runtime)
    ok_all &= check(
        "AQE + skew-join enabled",
        spark.conf.get("spark.sql.adaptive.enabled") == "true"
        and spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true",
    )

    # 6e. e01 event rollup: map-side partial agg, single agg exchange
    p = plan_of(REGISTRY["e01_windowed_event_counts"].fn(spark, sf_dir))
    ok_all &= check(
        "e01 windowed rollup partial-aggregates map-side",
        "partial_" in p.lower() or "HashAggregate" in p,
    )
    ok_all &= check(
        "e01 windowed rollup single agg exchange",
        p.count("Exchange") <= 2, p[:600],  # agg exchange (+AQE read)
    )

    # 6f. t05 stratified sample: pure scan-stage filter, zero shuffle
    p = plan_of(REGISTRY["t05_stratified_sample"].fn(spark, sf_dir))
    ok_all &= check("t05 stratified sample has no Exchange", "Exchange" not in p, p[:600])

    # 6g. t06 packing: window runs per hash bucket, never one global sort
    p = plan_of(REGISTRY["t06_token_budget_packing"].fn(spark, sf_dir))
    win = [l for l in p.splitlines() if "Window" in l or "partition" in l.lower()]
    ok_all &= check(
        "t06 packing window is partitioned (no global single-partition sort)",
        "bucket" in p, "\n".join(win)[:400],
    )

    # 6h. incremental dedup: increment-vs-index candidate join is a
    # key join on (band, bucket), never cartesian
    from graphlab_spark.operators.dedup_incremental import apply_increment, dedup_increment
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 200)
        dedup_increment(spark, f"{td}/idx", docs.filter(F.col("doc_id") < 100))
        r = apply_increment(spark, f"{td}/idx", docs.filter(F.col("doc_id") >= 100))
        p = plan_of(r["pairs"])
        ok_all &= check("incremental dedup no CartesianProduct", "CartesianProduct" not in p)
        ok_all &= check("incremental dedup joins on band/bucket keys", "band" in p and "bucket" in p)

    # 7. lineitem filter + projection scan for a05
    p = plan_of(REGISTRY["a05_conjunction"].fn(spark, sf_dir))
    ok_all &= check(
        "a05 multi-predicate pushdown",
        "EqualTo(l_returnflag,R)" in p and "GreaterThan(l_quantity,25" in p,
        p[:600],
    )

    # 8. e04 sliding rollup: map-side partial aggregation, one exchange —
    # the overlap explode must not defeat the partial combine
    p = plan_of(REGISTRY["e04_sliding_window_counts"].fn(spark, sf_dir))
    ok_all &= check(
        "e04 sliding rollup partial-aggregates map-side", "partial_" in p.lower()
    )
    ok_all &= check(
        "e04 sliding rollup single agg exchange", p.count("Exchange hashpartitioning") <= 1
    )

    # 9. streaming stats-rebuild plans (drift-free ingest): entity join +
    # re-aggregate carries no forced broadcast and no cartesian — the
    # entity map is vocabulary-sized, strategy is AQE's call
    from graphlab_spark.operators import materialize as M

    mstats = spark.createDataFrame(
        [(f"S{i}", "ORG", i + 1) for i in range(50)], "surface string, m_type string, n long"
    )
    tstats = spark.createDataFrame(
        [(f"S{i}", "p", f"S{(i + 1) % 50}", 2, [f"u{i}"], 0.5) for i in range(50)],
        "subj string, pred string, obj string, n_evidence long, "
        "evidence array<string>, weight double",
    )
    emap = spark.createDataFrame(
        [(f"S{i}", f"e{i % 9}") for i in range(50)], "surface string, entity_id string"
    )
    for nm, df in [
        ("nodes_from_stats", M.nodes_from_stats(mstats, emap)),
        ("edges_from_stats", M.edges_from_stats(tstats, emap)),
    ]:
        p = plan_of(df)
        ok_all &= check(f"{nm} no CartesianProduct", "CartesianProduct" not in p)
        ok_all &= check(
            f"{nm} no forced broadcast hint",
            "ResolvedHint" not in p and "broadcast" not in plan_of(df).split("== Physical")[0],
        )

    # 10. PageRank iteration: the four PageRank operators share one
    # distributed loop (graph_query._power_loop) over one pinned
    # transition table; the dangling-mass scalar enters the rank update
    # as a broadcast 1-row frame (no mid-loop driver collect — the loop
    # body is AST-checked and its jobs per iteration pinned in
    # tests/test_graph_query.py)
    edges_df = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(60)], "src string, dst string"
    )
    from graphlab_spark.operators.graph_query import pagerank

    pr = pagerank(edges_df, n_iter=2, driver_max_edges=0)  # force distributed path
    ok_all &= check("pagerank distributed path produces ranks", pr.count() > 0)

    # 11. r4 operators
    # t13 URL canonicalization is a pure projection: zero Exchange
    p = plan_of(REGISTRY["t13_url_canonical"].fn(spark, sf_dir))
    ok_all &= check("t13 url canonicalization zero Exchange", "Exchange" not in p)
    ok_all &= check("t13 stays whole-stage codegen (no Python)", "EvalPython" not in p)
    # t14 line dedup: no cartesian, no broadcast of the (corpus-sized in
    # the worst case) duplicated-lines frame, map-side partial count
    t14_df = REGISTRY["t14_line_dedup"].fn(spark, sf_dir)
    p = plan_of(t14_df)
    ok_all &= check("t14 line dedup no CartesianProduct", "CartesianProduct" not in p)
    # the dup-lines side must not be FORCE-broadcast in code (it is
    # corpus-sized in the worst case); the planner choosing a broadcast
    # at this tiny SF is fine and adaptive
    analyzed = t14_df._jdf.queryExecution().analyzed().toString()
    ok_all &= check("t14 dup-lines frame not hint-broadcast", "ResolvedHint" not in analyzed)
    ok_all &= check("t14 count partial-aggregates map-side", "partial_count" in p)
    # t12 BPE counting: exactly one Arrow-batched Python eval, no shuffle
    # (formatted plans print each node twice: tree + details)
    p = plan_of(REGISTRY["t12_bpe_token_count"].fn(spark, sf_dir))
    ok_all &= check("t12 bpe single ArrowEvalPython", p.count("ArrowEvalPython") == 2)
    ok_all &= check(
        "t12 bpe doc_id filter pushed to scan", "LessThan(doc_id,400)" in p
    )
    ok_all &= check("t12 bpe zero Exchange", "Exchange" not in p)
    # WARC path-streaming mode: the binaryFile content column is pruned
    # from the scan (only paths are listed; bytes stream from the file)
    import gzip as _gz

    import tempfile as _tf

    from graphlab_spark.sources.warc import read_warc

    with _tf.TemporaryDirectory() as td:
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://x/\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: 10\r\n\r\n"
            b"HTTP\r\n\r\nhi" + b"\r\n\r\n"
        )
        pth = f"{td}/a.warc.gz"
        with open(pth, "wb") as fh:
            fh.write(_gz.compress(rec))
        p = plan_of(read_warc(spark, pth))
        rs = [l for l in p.splitlines() if "ReadSchema" in l]
        ok_all &= check(
            "warc path mode prunes binary content from the scan",
            bool(rs) and "content" not in rs[0],
            rs[0] if rs else "no ReadSchema",
        )

    # 12. r4 graph analytics: join-based enumeration, never cartesian,
    # counts partial-aggregated map-side
    from graphlab_spark.operators.graph_query import neighbor_jaccard, triangle_count

    edges_small = spark.createDataFrame(
        [("1", "p", "2"), ("2", "p", "3"), ("1", "p", "3"), ("3", "p", "4")],
        "src string, pred string, dst string",
    )
    p = plan_of(triangle_count(edges_small))
    ok_all &= check("triangle_count no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check(
        "triangle_count final count partial-aggregates map-side", "partial_count" in p
    )
    p = plan_of(neighbor_jaccard(edges_small))
    ok_all &= check("neighbor_jaccard no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check(
        "neighbor_jaccard pair count partial-aggregates map-side", "partial_count" in p
    )
    from graphlab_spark.operators.graph_query import k_core

    # rounds are scratch-materialized, so the returned plan shows the
    # final degree agg over the last round's parquet (flat lineage —
    # itself the property worth checking)
    p = plan_of(k_core(edges_small, k=2, n_rounds=1))
    ok_all &= check("k_core no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check("k_core degree agg partial-aggregates map-side", "partial_count" in p)
    ok_all &= check("k_core lineage flat (reads the pinned round)", "Scan parquet" in p)
    # t17 funnel: stage reports are global partial-aggregated counts/sums
    # — no windows or shuffles beyond the constituent dedup/quota ones
    p = plan_of(REGISTRY["t17_curation_funnel"].fn(spark, sf_dir))
    ok_all &= check("t17 funnel no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check("t17 funnel partial-aggregated stage sums", "partial_count" in p)

    # 13. t18 LM perplexity: the vocabulary-sized LM broadcasts, the
    # bigram transform stays JVM-side, and the per-doc agg is the ONLY
    # shuffle (partial-aggregated map-side)
    p = plan_of(REGISTRY["t18_lm_perplexity"].fn(spark, sf_dir))
    ok_all &= check("t18 LM count joins broadcast", p.count("BroadcastHashJoin") >= 2)
    ok_all &= check("t18 no Python in the scoring path", "EvalPython" not in p)
    ok_all &= check("t18 per-doc agg partial-aggregates map-side", "partial_count" in p)
    n_shuffles = sum(1 for l in p.splitlines() if "hashpartitioning" in l)
    ok_all &= check(
        "t18 exactly one shuffle (the doc_id agg)", n_shuffles == 1, f"{n_shuffles} shuffles"
    )

    # 14. d08 SemDeDup: the K-row centroid frame broadcasts (never a
    # shuffled cartesian), and the pair join is keyed on cell_id.
    # r6: semantic_dedup pins the assignment frame (it feeds two
    # consumers), so the final plan no longer CONTAINS the centroid
    # cross join — probe the assignment subplan directly instead.
    from graphlab_spark.operators.semdedup import assign_cells

    embs_d08 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent_d08 = spark.read.parquet(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "fixtures", "semdedup_centroids.parquet")
    )
    pa = plan_of(assign_cells(embs_d08, cent_d08))
    ok_all &= check("d08 assign no CartesianProduct", "CartesianProduct" not in pa)
    ok_all &= check(
        "d08 centroid cross join is broadcast", "BroadcastNestedLoopJoin" in pa
    )
    p = plan_of(REGISTRY["d08_semantic_dedup"].fn(spark, sf_dir))
    ok_all &= check("d08 no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check(
        "d08 within-cell pair join keyed on cell_id",
        "cell_id" in p and ("SortMergeJoin" in p or "ShuffledHashJoin" in p
                            or "BroadcastHashJoin" in p),
    )

    # 15. e06 as-of join: union+running-window plan — ONE shuffle on the
    # key, never a range-join pair blow-up (no cartesian, no theta join)
    p = plan_of(REGISTRY["e06_asof_join_last_purchase"].fn(spark, sf_dir))
    ok_all &= check("e06 asof no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check("e06 asof no BroadcastNestedLoopJoin", "BroadcastNestedLoopJoin" not in p)
    ok_all &= check(
        "e06 asof single window sort keyed on user_id",
        "hashpartitioning(user_id" in p and "Window" in p,
    )
    ok_all &= check("e06 asof no Python in the row path", "EvalPython" not in p)

    # 16. t20 duplicate spans: gram agg partial-aggregates map-side; the
    # position join back is left-semi; islands window keyed per doc
    p = plan_of(REGISTRY["t20_duplicate_substring_spans"].fn(spark, sf_dir))
    ok_all &= check("t20 gram count partial-aggregates map-side", "partial_count" in p)
    ok_all &= check("t20 positions join is LeftSemi", "LeftSemi" in p)
    ok_all &= check("t20 no Python in the row path", "EvalPython" not in p)
    ok_all &= check("t20 no CartesianProduct", "CartesianProduct" not in p)

    # 17. t21 span cutting: the nested higher-order token filter stays
    # JVM; only the doc-keyed span join is added on top of t20
    p = plan_of(REGISTRY["t21_cut_duplicate_spans"].fn(spark, sf_dir))
    ok_all &= check("t21 no Python in the row path", "EvalPython" not in p)
    ok_all &= check("t21 no CartesianProduct", "CartesianProduct" not in p)

    # 18. t22 normalization: exactly ONE Arrow-batched Python step (the
    # NFC UDF); regex/trim stay JVM; narrow projection → zero Exchange
    p = plan_of(REGISTRY["t22_normalize_text"].fn(spark, sf_dir))
    # count tree lines "ArrowEvalPython (n)" — the formatted plan also
    # repeats the node name in its detail section
    ok_all &= check("t22 nfc single ArrowEvalPython", p.count("ArrowEvalPython (") == 1)
    ok_all &= check("t22 no row-at-a-time Python", "BatchEvalPython" not in p)
    ok_all &= check("t22 zero Exchange", "Exchange" not in p)

    # 19a. e07 funnel: every stage agg/join keyed on user_id (one
    # logical shuffle key end-to-end), partial-agg MINs, no cartesian
    p = plan_of(REGISTRY["e07_funnel_stages"].fn(spark, sf_dir))
    ok_all &= check("e07 funnel no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check("e07 funnel stage MINs partial-aggregate", "partial_min" in p)
    ok_all &= check(
        "e07 funnel keyed on user_id only",
        "hashpartitioning(user_id" in p and "hashpartitioning(event_type" not in p,
    )
    ok_all &= check("e07 funnel no Python", "EvalPython" not in p)

    # 19a'. e08 cohort retention: both heavy aggs key on user_id; the
    # final grid agg partial-aggregates; no Python anywhere
    p = plan_of(REGISTRY["e08_cohort_retention"].fn(spark, sf_dir))
    ok_all &= check("e08 cohort keyed on user_id", "hashpartitioning(user_id" in p)
    ok_all &= check("e08 cohort partial-agg first-event MIN", "partial_min" in p)
    ok_all &= check("e08 cohort no Python", "EvalPython" not in p)

    # 19a''. t25 BM25: per-doc tf/dl JVM-only; corpus stats collapse to
    # ONE row broadcast back (BroadcastNestedLoopJoin on a 1-row side) —
    # no data-sized shuffle, no Python, no cartesian product of data
    p = plan_of(REGISTRY["t25_bm25_ranking"].fn(spark, sf_dir))
    ok_all &= check("t25 bm25 stats broadcast back", "BroadcastNestedLoopJoin" in p)
    ok_all &= check("t25 bm25 no doc-keyed shuffle", "hashpartitioning(doc_id" not in p)
    ok_all &= check("t25 bm25 no Python", "EvalPython" not in p)

    # 19a''''. a27 ROLLUP: the grouping lattice expands BEFORE the
    # exchange (Expand feeds a partial HashAggregate), so shuffle volume
    # is O(lattice cells); a28 pivot: fixed literal columns keep it one
    # partial-aggregated hash aggregate, no Python
    p = plan_of(REGISTRY["a27_rollup_subtotals"].fn(spark, sf_dir))
    ok_all &= check("a27 rollup lattice expands map-side", "Expand" in p)
    ok_all &= check("a27 rollup partial-aggregates", "partial_count" in p)
    ok_all &= check(
        "a27 rollup single agg exchange", p.count("Exchange hashpartitioning") <= 1
    )
    p = plan_of(REGISTRY["a28_pivot_event_matrix"].fn(spark, sf_dir))
    ok_all &= check("a28 pivot no Python", "EvalPython" not in p)
    ok_all &= check("a28 pivot partial-aggregates", "partial_pivotfirst" in p or "partial_count" in p)

    # 19a'''''''''. e12 binned range join: the containment predicate
    # must run as a residual after a hash EQUI-join on the bin key —
    # never a nested-loop over the inequality
    p = plan_of(REGISTRY["e12_interval_range_join"].fn(spark, sf_dir))
    ok_all &= check("e12 range join no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check(
        "e12 range join is a hash equi-join on the bin",
        ("BroadcastHashJoin" in p or "SortMergeJoin" in p) and "_bin" in p,
    )
    ok_all &= check("e12 range join no Python", "EvalPython" not in p)

    # 19a''''''''. e10 anomaly cut: inherits e09's shape; the stats
    # frame comes back as a 1-row broadcast, no Python
    p = plan_of(REGISTRY["e10_anomalous_hours"].fn(spark, sf_dir))
    ok_all &= check("e10 anomaly stats broadcast back", "BroadcastNestedLoopJoin" in p)
    ok_all &= check("e10 anomaly partial-agg counts", "partial_count" in p)
    ok_all &= check("e10 anomaly no Python", "EvalPython" not in p)

    # 19a'''''''. t26 mixture sampling: thresholds broadcast (domains-
    # sized), the corpus side filters in the scan stage — its only
    # shuffle is t23's domain agg; no Python
    p = plan_of(REGISTRY["t26_mixture_sample"].fn(spark, sf_dir))
    ok_all &= check("t26 thresholds broadcast", "BroadcastHashJoin" in p or "BroadcastExchange" in p)
    ok_all &= check(
        "t26 corpus never hash-partitioned by doc",
        "hashpartitioning(doc_id" not in p,
    )
    ok_all &= check("t26 no Python", "EvalPython" not in p)

    # 19a''''''. e09 resample: counts partial-aggregate (the e01
    # shuffle); the grid derives from a 1-row agg + explode, no Python
    p = plan_of(REGISTRY["e09_resampled_counts"].fn(spark, sf_dir))
    ok_all &= check("e09 resample partial-agg counts", "partial_count" in p)
    ok_all &= check("e09 resample grid via explode", "Generate explode" in p or "Generate" in p)
    ok_all &= check("e09 resample no Python", "EvalPython" not in p)

    # 19a'''''''''. kg edge provenance: one partial-agg groupBy on the
    # edge key; the docs join keys on url (already the triples' key)
    p = plan_of(REGISTRY["kg_edge_provenance"].fn(spark, sf_dir))
    ok_all &= check("kg_edge_prov partial-agg", "partial_min" in p or "partial_count" in p)
    ok_all &= check("kg_edge_prov no CartesianProduct", "CartesianProduct" not in p)

    # 19a'''''. kg 2-hop motif: predicate filters reach the scan side
    # of the join (Filter before Exchange), single mid-keyed join, no
    # cartesian
    p = plan_of(REGISTRY["kg_path_2hop"].fn(spark, sf_dir))
    ok_all &= check("kg_path_2hop no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check("kg_path_2hop predicate filtered", "acquired" in p and "founded_by" in p)
    ok_all &= check("kg_path_2hop no Python row path", "BatchEvalPython" not in p)

    # 19a'''. kg co-mention PMI: the pair fan-out is a url-keyed
    # self-join (never corpus × corpus); N comes back as a 1-row
    # broadcast; pair counts partial-aggregate
    p = plan_of(REGISTRY["kg_comention_pmi"].fn(spark, sf_dir))
    ok_all &= check("comention pair join keyed on url", "hashpartitioning(url" in p)
    ok_all &= check("comention pair counts partial-aggregate", "partial_count" in p)
    ok_all &= check("comention N broadcast back", "BroadcastNestedLoopJoin" in p)
    ok_all &= check("comention no CartesianProduct", "CartesianProduct" not in p)

    # 19b. t24 chunking: pure per-row array algebra — zero Exchange,
    # zero Python, output inherits the documents scan layout
    p = plan_of(REGISTRY["t24_chunk_documents"].fn(spark, sf_dir))
    ok_all &= check("t24 chunking zero Exchange", "Exchange" not in p)
    ok_all &= check("t24 chunking no Python", "EvalPython" not in p)

    # 19. t23 temperature mixture: the corpus shuffle is the
    # partial-aggregated groupBy(domain); the single-partition window
    # exchange runs on the DOMAINS-sized aggregated frame only
    p = plan_of(REGISTRY["t23_temperature_mixture"].fn(spark, sf_dir))
    ok_all &= check("t23 domain agg partial-aggregates map-side", "partial_count" in p)
    # the groupBy key keeps its pre-alias name (source) in the plan
    ok_all &= check(
        "t23 corpus shuffle keyed on domain",
        "hashpartitioning(source" in p or "hashpartitioning(domain" in p,
    )
    ok_all &= check("t23 no Python in the row path", "EvalPython" not in p)

    # 20. t28 learned classifier: weights broadcast (never shuffled),
    # doc aggregate partial-aggregates map-side, zero Python anywhere
    p = plan_of(REGISTRY["t28_quality_classifier"].fn(spark, sf_dir))
    ok_all &= check("t28 weights BroadcastHashJoin", "BroadcastHashJoin" in p)
    ok_all &= check("t28 doc agg partial-aggregates", "partial_count" in p)
    ok_all &= check("t28 no Python in the row path", "EvalPython" not in p)
    ok_all &= check("t28 no CartesianProduct", "CartesianProduct" not in p)

    # 20a. kg_graph_delta: ONE full-outer hash join on the composite
    # edge key — no sort-merge fallback surprises audited here, just no
    # cartesian and no Python
    p = plan_of(REGISTRY["kg_graph_delta"].fn(spark, sf_dir))
    ok_all &= check("kg_graph_delta FullOuter hash/SMJ join", "FullOuter" in p)
    ok_all &= check("kg_graph_delta no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check("kg_graph_delta no Python", "EvalPython" not in p)

    # 20b. distributed BPE word counts: corpus pass is JVM-only with a
    # map-side partial count before the single word shuffle
    from graphlab_spark.functions.bpe import word_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(word_counts(docs))
    ok_all &= check("bpe word_counts partial-aggregates map-side", "partial_count" in p)
    ok_all &= check("bpe word_counts no Python on corpus rows", "EvalPython" not in p)
    import re as _re

    ok_all &= check(
        "bpe word_counts single exchange",
        len(_re.findall(r"^\(\d+\) Exchange", p, _re.M)) == 1,
    )

    # 21. kg_entity_types: rules broadcast, votes partial-aggregate,
    # argmax is an aggregate (never a corpus window)
    p = plan_of(REGISTRY["kg_entity_types"].fn(spark, sf_dir))
    ok_all &= check("kg_entity_types rules broadcast", "BroadcastHashJoin" in p)
    ok_all &= check("kg_entity_types votes partial-aggregate", "partial_count" in p)
    ok_all &= check("kg_entity_types no Window", "Window" not in p)

    # 21a. kg_var_paths: predicate pushed into the edge source, no
    # cartesian anywhere in the k-1 join ladder
    p = plan_of(REGISTRY["kg_var_paths"].fn(spark, sf_dir))
    ok_all &= check("kg_var_paths no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check("kg_var_paths predicate filtered", "acquired" in p)

    # 21b. t29 datacard: three partial-aggregated groupBys, zero Python
    p = plan_of(REGISTRY["t29_datacard"].fn(spark, sf_dir))
    ok_all &= check("t29 datacard partial-aggregates", "partial_count" in p)
    ok_all &= check("t29 datacard no Python", "EvalPython" not in p)

    # 21c. kg_adjacency: single partial-agg groupBy(src), no cartesian
    p = plan_of(REGISTRY["kg_adjacency"].fn(spark, sf_dir))
    ok_all &= check("kg_adjacency no CartesianProduct", "CartesianProduct" not in p)
    ok_all &= check(
        "kg_adjacency grouped on src", "hashpartitioning(src" in p
    )

    # 22. sketch family: bounded-state aggregations, broadcast probes,
    # no Python, no cartesian anywhere
    for name in ["t31_cms_heavy_hitters", "t32_bloom_membership", "t33_hll_registers"]:
        p = plan_of(REGISTRY[name].fn(spark, sf_dir))
        ok_all &= check(f"{name} partial-aggregates", "partial_" in p)
        ok_all &= check(f"{name} no Python", "EvalPython" not in p)
        ok_all &= check(f"{name} no CartesianProduct", "CartesianProduct" not in p)

    # 22a. e13 band join: equi-join on the bin key, never a nested loop
    p = plan_of(REGISTRY["e13_band_join"].fn(spark, sf_dir))
    ok_all &= check("e13 no BroadcastNestedLoopJoin", "BroadcastNestedLoopJoin" not in p)
    ok_all &= check("e13 no CartesianProduct", "CartesianProduct" not in p)

    # 22b. t30 inverted index: JVM tokenize, term-keyed aggregation
    p = plan_of(REGISTRY["t30_inverted_index"].fn(spark, sf_dir))
    ok_all &= check("t30 no Python", "EvalPython" not in p)
    ok_all &= check("t30 grouped on term", "hashpartitioning(term" in p)

    # 22c. kg_scd2: the apply chain is key-hashed joins only — never a
    # nested loop — and all-JVM
    p = plan_of(REGISTRY["kg_scd2_node_history"].fn(spark, sf_dir))
    ok_all &= check("kg_scd2 no nested-loop join", "NestedLoop" not in p and "CartesianProduct" not in p)
    ok_all &= check("kg_scd2 no Python", "EvalPython" not in p)

    # 22d. kg_transe ranks: the EVAL SET side broadcasts (BNLJ with
    # BuildRight over the streamed entity table), count partial-aggs
    p = plan_of(REGISTRY["kg_transe_tail_ranks"].fn(spark, sf_dir))
    ok_all &= check("kg_transe eval-set broadcast (BNLJ BuildRight)",
                    "BroadcastNestedLoopJoin Cross BuildRight" in p)
    ok_all &= check("kg_transe rank count partial-aggregated", "partial_sum" in p or "partial" in p)
    ok_all &= check("kg_transe no Python", "EvalPython" not in p)

    # 22e. t36 distributed k-means: centroid update partial-aggregates
    # summarizer states (ObjectHashAggregate), assignment JVM-side
    p = plan_of(REGISTRY["t36_kmeans_cells"].fn(spark, sf_dir))
    ok_all &= check("t36 no Python in assignment/update", "EvalPython" not in p)

    # 22f. t37 hybrid RRF: each list cut via TakeOrderedAndProject
    # (partial per-partition top-k — a global Sort before the limit
    # would be the scale bug), fuse partial-aggregated, no Python
    p = plan_of(REGISTRY["t37_hybrid_rrf"].fn(spark, sf_dir))
    ok_all &= check("t37 top-n via TakeOrderedAndProject", "TakeOrderedAndProject" in p)
    # specifically the fused-score SUM in partial mode — a bare
    # "partial" substring would pass for any hash aggregate
    ok_all &= check("t37 fuse partial-aggregates", "partial_sum" in p)
    ok_all &= check("t37 no Python", "EvalPython" not in p)

    # 22g. kg_node2vec second-order walks: both per-step joins are hash
    # equi-joins (no nested-loop fallback from the bias-class lookup),
    # argmax partial-aggregated, no Python
    p = plan_of(REGISTRY["kg_node2vec_walks"].fn(spark, sf_dir))
    ok_all &= check(
        "kg_node2vec no nested-loop join",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
    )
    ok_all &= check("kg_node2vec argmax partial-aggregated", "partial_max" in p)
    ok_all &= check("kg_node2vec no Python", "EvalPython" not in p)

    # 22h. kg_graph_pattern: conjunctive BGP — every step a hash
    # equi-join (the connectivity guard means no cartesian can appear),
    # per-triple predicate filters present pre-join, no Python
    p = plan_of(REGISTRY["kg_graph_pattern"].fn(spark, sf_dir))
    ok_all &= check(
        "kg_graph_pattern no cartesian/nested-loop",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
    )
    ok_all &= check("kg_graph_pattern predicate filters applied", "acquired" in p)
    ok_all &= check("kg_graph_pattern no Python", "EvalPython" not in p)

    # 23. GUARD: no split() re-evaluated inside a higher-order lambda
    # body — the O(tokens²) re-split anti-pattern (shingled r2 →
    # dup_spans/chunking r4, 9–11× measured waste). Reads the ANALYZED
    # plan of EVERY registry query, so it sees through Python variable
    # indirection: a hoisted token array shows up in the lambda body as
    # a bare attribute reference, an unhoisted one as split(...).
    def _lambda_bodies(analyzed: str) -> list[str]:
        bodies = []
        start = 0
        while True:
            i = analyzed.find("lambdafunction(", start)
            if i < 0:
                break
            j = i + len("lambdafunction(")
            depth = 1
            while j < len(analyzed) and depth:
                depth += {"(": 1, ")": -1}.get(analyzed[j], 0)
                j += 1
            bodies.append(analyzed[i:j])
            start = i + len("lambdafunction(")
        return bodies

    resplit = {}
    for qname in sorted(REGISTRY):
        try:
            qdf = REGISTRY[qname].fn(spark, sf_dir)
            analyzed = qdf._jdf.queryExecution().analyzed().toString()
        except Exception as exc:  # pragma: no cover - best-effort sweep
            resplit[qname] = f"analysis failed: {exc}"
            continue
        hits = [b for b in _lambda_bodies(analyzed) if "split(" in b]
        if hits:
            resplit[qname] = hits[0][:160]
    ok_all &= check(
        f"no split() inside any lambdafunction body ({len(REGISTRY)} registry queries)",
        not resplit,
        "; ".join(f"{k}: {v}" for k, v in sorted(resplit.items()))[:600],
    )

    print("\nAUDIT", "PASS" if ok_all else "HAS WARNINGS")
    sys.exit(0 if ok_all else 1)


if __name__ == "__main__":
    main()
