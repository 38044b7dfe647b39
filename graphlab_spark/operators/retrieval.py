"""BM25 ranked retrieval over the documents table.

Reference parity: the reference seeds and ranks crawl targets with
keyword weights (``backend/README.md:37,96``); C14 covers the
alias-weight sum. BM25 is the standard upgrade a real corpus-curation
stack uses for keyword-driven document ranking (Robertson/Sparck-Jones
probabilistic weighting) — selecting seed documents, mining domain
subsets, and scoring relevance for targeted crawls.

Spark-first shape, built for 10^12 docs:
- Per-doc term frequencies and doc length are pure JVM higher-order
  array expressions over one whitespace tokenization — ZERO shuffle and
  zero Python in the per-doc path.
- Corpus statistics (N, avgdl, per-term document frequency) come from
  ONE map-side-partial global aggregate producing a single row —
  shuffle volume is one row per upstream partition, independent of
  corpus size. That row is broadcast back (1-row cross join → Spark
  plans BroadcastNestedLoopJoin, no exchange of the big side).
- Scoring is again per-row JVM arithmetic. Total cost: two scans of the
  corpus (stats + score) and no data-sized shuffle anywhere. The query
  term list is a small literal (tens of terms), so the tf column fan-out
  stays bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _tf(term: str) -> Column:
    return F.size(F.filter("_toks", lambda x: x == F.lit(term)))


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document containing at least one query term:
    (id_col, bm25) with bm25 = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 −
    b + b·dl/avgdl)), idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    (the Lucene-style non-negative idf). Tokenization is lowercased
    whitespace splitting — the corpus contract shared with
    functions.textstats.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    from graphlab_spark.operators.scratch import spread

    # both corpus passes (stats + scoring) tokenize per row BEFORE any
    # exchange — spread an under-parallel scan (r6; no-op at scale).
    # Partial-aggregate combine order for avgdl is already arbitrary at
    # any multi-partition scale; ROUND 6 absorbs the ulp (t18 precedent).
    docs = spread(docs)
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = docs.select(
        F.col(id_col), toks.alias("_toks")
    ).select(
        id_col,
        F.size("_toks").alias("_dl"),
        *[_tf(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count("*").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    idf = [
        F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col(f"_df{i}") + 0.5) / (F.col(f"_df{i}") + 0.5)
        )
        for i in range(len(terms))
    ]
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
    )
    parts = [
        F.when(
            F.col(f"_tf{i}") > 0,
            idf[i] * F.col(f"_tf{i}") * F.lit(k1 + 1.0) / (F.col(f"_tf{i}") + norm),
        ).otherwise(F.lit(0.0))
        for i in range(len(terms))
    ]
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    tf_cols = [F.col(f"_tf{i}") for i in range(len(terms))]
    any_hit = (F.greatest(*tf_cols) if len(tf_cols) > 1 else tf_cols[0]) > 0
    return scored.filter(any_hit).select(
        id_col, F.round(score, 6).alias("bm25")
    )


def inverted_index(
    docs: DataFrame,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sharded inverted index → ``(shard, term, df, postings)`` with
    ``postings`` the '|'-joined doc-id list sorted numerically — the
    retrieval-serving twin of graph_query.adjacency_lists (one shard =
    one query worker's slice; df is the BM25 document frequency, so
    this table also feeds scoring without a second corpus pass).

    Scale shape: JVM tokenize (lower + regexp_extract_all + explode)
    → per-doc DISTINCT (terms count once per doc) → ONE
    partial-aggregated groupBy(term); shard = md5-12-hex bucket of the
    term, engine-portable. Posting lists are canonical (sorted), so
    the table is byte-stable across runs and partitionings. Hub terms
    (stopwords) make long rows — cap or stopword-filter upstream via
    the caller's docs projection when serving latency matters."""
    toks = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)),
                    F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]+"),
                    F.lit(0),
                )
            ).alias("term"),
        )
        .distinct()
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.col(id_col))),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("postings"),
        )
        .select(
            F.pmod(
                F.conv(F.substring(F.md5(F.col("term")), 1, 12), 16, 10).cast("long"),
                F.lit(n_shards),
            )
            .cast("int")
            .alias("shard"),
            "term",
            F.col("df").cast("int").alias("df"),
            "postings",
        )
    )


# --------------------------------------------------- persisted index
# The incremental twin every other persisted structure here already has
# (dedup_incremental, semdedup_incremental, ann_index/ann_pq): crawl
# increments fold into the index without re-tokenizing the old corpus.


def index_build(
    spark,
    index_dir: str,
    docs: DataFrame,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the inverted index PARTITIONED BY shard (a term lookup
    reads only its term's shard files — the ann_index partition-pruning
    pattern)."""
    inverted_index(docs, n_shards, id_col, text_col).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(f"{index_dir}/terms")


def index_add(
    spark,
    index_dir: str,
    new_docs: DataFrame,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold a crawl increment in: tokenize ONLY the new docs, full-outer
    join on (shard, term), df adds, postings merge to the canonical
    sorted form — byte-identical to a one-shot build over the union
    (pinned by test; assumes increment doc ids are new, the crawl
    contract). Only touched terms change content; the parquet emulation
    rewrites the table (on Iceberg this is ONE MERGE on the term key —
    the merge_into_sql seam)."""
    from graphlab_spark.operators.scratch import cleanup_prefix, replace_table

    inc = inverted_index(new_docs, n_shards, id_col, text_col)
    old = spark.read.parquet(f"{index_dir}/terms")

    def _posts(c):  # NULL side (term absent) → empty list, never [""]
        return F.when(c.isNull(), F.array().cast("array<long>")).otherwise(
            F.transform(F.split(c, r"\|"), lambda x: x.cast("long"))
        )

    merged_posts = F.array_join(
        F.transform(
            F.sort_array(
                F.concat(_posts(F.col("o.postings")), _posts(F.col("i.postings")))
            ),
            lambda x: x.cast("string"),
        ),
        "|",
    )
    merged = (
        old.alias("o")
        .join(inc.alias("i"), ["shard", "term"], "full_outer")
        .select(
            "shard",
            "term",
            (
                F.coalesce(F.col("o.df"), F.lit(0))
                + F.coalesce(F.col("i.df"), F.lit(0))
            ).cast("int").alias("df"),
            merged_posts.alias("postings"),
        )
    )
    replace_table(merged, f"{index_dir}/terms", "invidx_merge", partition_by="shard")
    cleanup_prefix("invidx_merge")


def index_lookup(
    spark, index_dir: str, terms: list[str], n_shards: int = 32
) -> DataFrame:
    """(term, df, postings) for the requested terms — the shard ids are
    computed driver-side from the same md5 bucket, so the scan carries a
    static ``shard IN (...)`` partition filter and un-probed shards are
    never read (plan-tested)."""
    import hashlib

    shards = sorted(
        {int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % n_shards for t in terms}
    )
    return (
        spark.read.parquet(f"{index_dir}/terms")
        .filter(F.col("shard").isin(shards))
        .filter(F.col("term").isin(terms))
        .select("term", "df", "postings")
    )


# --------------------------------------------------- hybrid fusion


def rrf_fuse(
    rankings: list[tuple[DataFrame, str]],
    id_col: str = "doc_id",
    k: int = 60,
    top_n: int = 500,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion of ≥2 retriever score lists (Cormack et
    al., the standard hybrid lexical+semantic combiner) →
    ``(id_col, rrf, n_lists)`` sorted by fused score. Each input is
    ``(frame, score_col)``; within each list rank = 1-based position by
    (score DESC, id ASC) — the deterministic tie-break — over that
    list's ``top_n`` best rows only. Fused score is FIXED-POINT:
    ``Σ_lists scale DIV (k + rank)`` as BIGINT, not float — integer
    division is bit-identical across engines (the t02 precedent), while
    a float Σ1/(k+rank) depends on accumulation order. At scale=1e9 the
    floor error per term is <1 ulp-equivalent of the 1/(k+rank) ladder,
    so ordering matches true RRF except inside ties true RRF also has.

    Scale shape: RRF fuses TOP-K LISTS, never corpora — each list is
    first cut to ``top_n`` via orderBy+limit (Spark plans
    TakeOrderedAndProject: per-partition partial top-k, no global
    sort), so the single-partition rank window that follows runs on a
    ≤top_n-row frame by construction. The fuse itself is a union +
    one partial-aggregated groupBy over ≤ n_lists·top_n rows.
    """
    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs at least two rankings")
    contribs = []
    for frame, score_col in rankings:
        # NO spread() here (r6 self-review): ranking frames are DERIVED
        # plans (e.g. bm25 carries a stats aggregate + broadcast), and
        # spread's .rdd partition probe materializes a derived frame's
        # upstream exchange stages under AQE — measured 4 hidden jobs /
        # 5.3 s on the bm25 frame, discarded. Callers spread their SCAN
        # inputs instead (bm25_scores does internally; t37 spreads the
        # quality list's doc scan).
        top = frame.select(
            F.col(id_col), F.col(score_col).alias("_s")
        ).orderBy(F.col("_s").desc(), F.col(id_col).asc()).limit(top_n)
        w = Window.orderBy(F.col("_s").desc(), F.col(id_col).asc())
        contribs.append(
            top.withColumn("_rank", F.row_number().over(w)).select(
                id_col,
                F.expr(f"CAST({scale} AS BIGINT) DIV ({k} + _rank)").alias("_c"),
            )
        )
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    return (
        allc.groupBy(id_col)
        .agg(
            F.sum("_c").alias("rrf"),
            F.count(F.lit(1)).cast("int").alias("n_lists"),
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
    )
