"""Deduplication operators for training-data pipelines over ``documents``.

Four tiers, mirroring how web-scale dedup is actually layered:

1. exact           — md5 fingerprint groupBy (one shuffle on the hash;
                     map-side partial agg makes the shuffle tiny).
2. token-3gram Jaccard (exact) — the verification predicate, computed
                     JVM-side with higher-order array functions; used
                     standalone on bounded subsets and as the verify step
                     of LSH candidates.
3. MinHash-LSH     — the 100 TB path: per-doc signatures (vectorized
                     numpy over Arrow batches), banded bucket join
                     (shuffle on band-bucket key, never a cross join),
                     exact-Jaccard verification of candidates only.
4. SimHash         — 64-bit signatures; near-dup pairs via 16-bit band
                     blocking + Hamming distance verify.

Reference parity: the reference dedups crawled docs per lab on exact keys
(``backend/app/models/research_paper.py:13-14``); fuzzy tiers follow the
north_star canonicalization requirements applied to documents.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphlab_spark.functions.textstats import fingerprint_col

# ---------------------------------------------------------------- exact

def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """fingerprint → (fingerprint, n_docs, keeper=min doc_id) for groups >1.

    Deliberately NOT spread(): one md5 per row is far cheaper than the
    round-robin exchange spread() adds (measured 0.31 s → 0.52 s at
    sf0.1), and the groupBy's own exchange already parallelizes the
    reduce side."""
    return (
        docs.select("doc_id", fingerprint_col().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the smallest doc_id per fingerprint (deterministic winner)."""
    w = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("fingerprint", fingerprint_col())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fingerprint")
    )


# ------------------------------------------------------- shingles/jaccard

def shingles_col(text: str = "text", n: int = 3):
    """Token n-gram shingles as ONE column expression. NOTE: referencing
    ``split(...)`` inside the lambda re-splits the text once per shingle
    index — O(tokens²); use :func:`shingled` in hot paths, which hoists
    the tokenization into its own projection (2.5x faster, measured)."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(0, greatest(size(split(trim({text}), '\\\\s+')) - {n}, 0)), "
            f"i -> concat_ws(' ', slice(split(trim({text}), '\\\\s+'), i + 1, {n})))"
        )
    )


def shingled(docs: DataFrame, text: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, sh) with tokenization HOISTED into its own projected
    column: the split runs once per row, not once per shingle index
    (Catalyst does not factor common subexpressions out of lambda
    bodies, and CollapseProject will not re-inline a non-cheap
    expression that is referenced twice). Output is byte-identical to
    ``shingles_col`` (pinned by test_dedup.py). An extra lambda-binding
    trick (``transform(array(split(...)), t -> ...)[0]``) is equally
    fast but nests lambdas one level deeper, which breaks Python-UDF
    extraction in some plans (Spark INTERNAL_ERROR 'Cannot evaluate
    expression: <udf>' at projection time) — hence this two-projection
    form."""
    return docs.select(
        "doc_id", F.split(F.trim(F.col(text)), r"\s+").alias("_toks")
    ).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, greatest(size(_toks) - {n}, 0)), "
                f"i -> concat_ws(' ', slice(_toks, i + 1, {n})))"
            )
        ).alias("sh"),
    )


def jaccard_pairs_exact(
    docs: DataFrame, threshold: float = 0.8, max_doc_id: int | None = None
) -> DataFrame:
    """Exact token-3gram Jaccard over all pairs of a bounded subset.

    All-pairs is O(n²) — this is the ORACLE/verify form, bounded via
    ``max_doc_id``; the scale path is :func:`minhash_lsh_pairs`.
    """
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    d = shingled(docs)
    a = d.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # filter on the UNROUNDED ratio (matches the oracle's WHERE clause —
    # rounding first would flap on boundary pairs), round only the output.
    return (
        pairs.withColumn("_j", inter / union)
        .filter(F.col("_j") >= threshold)
        .select("a", "b", F.round("_j", 4).alias("jaccard"))
    )


# ------------------------------------------------------------ MinHash-LSH

N_HASHES = 64
N_BANDS = 16  # 16 bands x 4 rows: p(candidate | J=0.9) ≈ 1 - 3e-8
_MERSENNE = (1 << 61) - 1


def _hash_params(n: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)  # fixed seed → deterministic across runs
    a = rng.randint(1, _MERSENNE, size=n, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n, dtype=np.int64)
    return a, b


# derived once at import — not per Arrow batch (hot path)
_HASH_A, _HASH_B = _hash_params(N_HASHES)

# --- 31-bit permutation family for the PREHASHED document path (r6).
# The r5 correctness fix replaced the naive (a·h + b) % p — which wrapped
# mod 2^64 — with the exact 61-bit split multiply (_mulmod61: ~5
# multiplies + 4 mods per element). That made dedup_minhash the slowest
# bench line (2.07× its r4 self). The fix that keeps exactness at the
# 1-multiply cost: a 31-bit Mersenne family (p = 2^31−1) over shingle
# hashes REDUCED to [0, p) first — every product a·h + b < 2^62 fits
# int64 exactly, so ONE multiply + ONE mod is still an exact universal
# hash (kernel measured 4.8× faster; exactness vs Python bigint pinned
# in tests/test_dedup.py). Only the document-dedup path uses it; the
# entity-canonicalize path (minhash_udf) keeps the 61-bit family because
# its downstream canonical edges are golden-pinned (kg_c10).
_MERSENNE31 = (1 << 31) - 1


def _hash_params31(n: int, seed: int = 13) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)  # fixed seed → deterministic across runs
    a = rng.randint(1, _MERSENNE31, size=n, dtype=np.int64)
    b = rng.randint(0, _MERSENNE31, size=n, dtype=np.int64)
    return a, b


_HASH_A31, _HASH_B31 = _hash_params31(N_HASHES)


def _permute_min31(hv: np.ndarray) -> list:
    """min over rows of the (m, k) permuted-hash matrix
    (a·h + b) mod 2^31−1; inputs must be reduced mod 2^31−1, so the
    product stays < 2^62 — exact in int64 with no split multiply."""
    ph = (hv[:, None] * _HASH_A31[None, :] + _HASH_B31[None, :]) % _MERSENNE31
    return ph.min(axis=0).tolist()


def _mulmod61(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """(x·y) mod 2^61−1 with NO intermediate overflow — numpy int64 has
    no int128, so a naive ``(x*y) % p`` silently wraps mod 2^64 first
    and the permutations stop being the claimed universal-hash family.
    Split multiply: x = x1·2^31 + x0, y likewise; fold 2^62 ≡ 2 and
    2^61 ≡ 1 (mod p). Every intermediate stays < 2^63. Inputs must
    already be reduced mod p (so x1, y1 < 2^30; x0, y0 < 2^31)."""
    p = _MERSENNE
    x1, x0 = x >> 31, x & 0x7FFFFFFF
    y1, y0 = y >> 31, y & 0x7FFFFFFF
    t = (2 * x1 * y1) % p  # x1·y1·2^62 ≡ 2·x1·y1
    mid = (x1 * y0 + x0 * y1) % p  # (cross)·2^31 term, pre-shift
    m1, m0 = mid >> 30, mid & 0x3FFFFFFF  # mid·2^31 = m1·2^61 + m0·2^31
    t = (t + m1 + (m0 << 31)) % p
    return (t + x0 * y0) % p


def _permute_min(hv: np.ndarray) -> list:
    """min over rows of the (m, k) permuted-hash matrix
    (a·h + b) mod 2^61−1, exact 61-bit arithmetic."""
    ph = (_mulmod61(hv[:, None], _HASH_A[None, :]) + _HASH_B[None, :]) % _MERSENNE
    return ph.min(axis=0).tolist()


def _minhash_batch(shingle_lists: pd.Series) -> pd.Series:
    """Vectorized minhash signatures: one numpy pass per Arrow batch."""
    out = []
    for sh in shingle_lists:
        if sh is None or len(sh) == 0:
            out.append([0] * N_HASHES)
            continue
        hv = np.array(
            [hash_shingle(s) for s in sh], dtype=np.int64
        )  # (m,)
        out.append(_permute_min(hv))
    return pd.Series(out)


def hash_shingle(s: str) -> int:
    """Stable 61-bit shingle hash (blake2b — never Python's salted hash())."""
    from hashlib import blake2b

    return int.from_bytes(blake2b(s.encode("utf-8"), digest_size=8).digest(), "big") % _MERSENNE


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_udf(shingles: pd.Series) -> pd.Series:
    return _minhash_batch(shingles)


def prehashed_col(sh_col: str = "sh"):
    """JVM-side per-shingle hashing: xxhash64 inside a transform lambda.
    Moves the per-string hash out of Python entirely — the UDF below then
    only runs the vectorized numpy permute-min. (The entity-canonicalize
    path keeps the blake2b string UDF: its outputs are golden-gated.)"""
    return F.expr(f"transform({sh_col}, s -> xxhash64(s))")


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_hashes_udf(hashes: pd.Series) -> pd.Series:
    """Minhash signatures from PRE-HASHED shingles (array<long>): pure
    numpy per Arrow batch — no per-string Python work at all. Uses the
    31-bit permutation family (see _permute_min31): the xxhash64 input
    is reduced mod 2^31−1 first, then one multiply + one mod per
    (shingle, permutation) — exact, no overflow."""
    out = []
    for hv in hashes:
        if hv is None or len(hv) == 0:
            out.append([0] * N_HASHES)
            continue
        h = np.asarray(hv, dtype=np.int64) % _MERSENNE31
        out.append(_permute_min31(h))
    return pd.Series(out)


def bands_frame(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) from a signature frame — the LSH blocking
    key. Shared by the one-shot pair finder and the incremental index
    (operators/dedup_incremental.py)."""
    rows_per_band = N_HASHES // N_BANDS
    return sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {N_BANDS - 1}), "
                f"b -> struct(b AS band, concat_ws(',', transform(slice(sig, "
                f"b * {rows_per_band} + 1, {rows_per_band}), x -> cast(x AS string))) AS bucket))"
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Candidate pairs via banded minhash buckets, verified with exact
    Jaccard over PREHASHED shingle sets. Shuffles on (band,
    bucket-signature) — bounded fan-out, no cross join; at 10^12 docs
    the bucket join is the only wide edge.

    r6: the materialized signature frame and the verify join carry the
    xxhash64 shingle hashes (8 bytes each), not the shingle STRINGS
    (~25 bytes) — the same trade the incremental index
    (dedup_incremental.sig_frame) already makes, and pytest pins the
    one-shot ≡ incremental pair sets. Hashed-set Jaccard equals
    string-set Jaccard unless two distinct shingles of one pair collide
    in 64 bits (~1e-11 per pair)."""
    from graphlab_spark.operators.scratch import materialize, spread

    # shingling + signature UDF are the per-row cost centre; spread an
    # under-parallel scan across the cores before them (no-op at scale)
    docs = spread(docs)
    sigs = materialize(  # reused by band explode AND verify join — pin off-heap
        shingled(docs)
        .select("doc_id", prehashed_col("sh").alias("shl"))
        .withColumn("sig", minhash_hashes_udf("shl")),
        "minhash_sigs",
    )
    bands = bands_frame(sigs)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    verified = (
        cand.join(sigs.select(F.col("doc_id").alias("a"), F.col("shl").alias("sh_a")), "a")
        .join(sigs.select(F.col("doc_id").alias("b"), F.col("shl").alias("sh_b")), "b")
        .withColumn(
            "_j",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("_j") >= threshold)  # unrounded, same as the exact tier
        .select("a", "b", F.round("_j", 4).alias("jaccard"))
    )
    return verified


# ---------------------------------------------------------------- SimHash

def _simhash_from_u64(hv: np.ndarray) -> int:
    bits = ((hv[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(np.int32)
    acc = (2 * bits - 1).sum(axis=0)
    return int.from_bytes(
        int(((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))
        .to_bytes(8, "big", signed=False),
        "big",
        signed=True,
    )


@F.pandas_udf(T.LongType())
def simhash_hashes_udf(hashes: pd.Series) -> pd.Series:
    """Simhash from PRE-HASHED shingles (JVM xxhash64) — numpy only."""
    out = np.zeros(len(hashes), dtype=np.int64)
    for i, hv in enumerate(hashes):
        if hv is None or len(hv) == 0:
            continue
        out[i] = _simhash_from_u64(np.asarray(hv, dtype=np.int64).view(np.uint64))
    return pd.Series(out)


def simhash_table(docs: DataFrame) -> DataFrame:
    return shingled(docs).select(
        "doc_id", simhash_hashes_udf(prehashed_col("sh")).alias("simhash")
    )


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs: block on each of the four 16-bit simhash chunks
    (a pair within Hamming ≤ 3 of 64 bits shares at least one exact
    16-bit chunk by pigeonhole), verify with bit_count."""
    from graphlab_spark.operators.scratch import materialize

    sims = materialize(simhash_table(docs), "simhash")
    chunks = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.key").alias("key"))
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.simhash").alias("sa"),
            F.col("y.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# -------------------------------------------------- planted near-dup input

def with_planted_near_dups(docs: DataFrame, every: int = 10, offset: int = 10_000_000) -> DataFrame:
    """Deterministic near-dup injection for dedup evaluation: every
    ``every``-th doc gets a copy (doc_id + offset) with two extra tokens.
    Replicable exactly in SQL, so oracle comparisons stay possible."""
    copies = docs.filter(F.col("doc_id") % every == 0).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq0 zq1")).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 8).alias("n_chars"),
    )
    return docs.unionByName(copies)


# --------------------------------------------- fuzzy-dedup retention

def neardup_keepers(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Retention step of fuzzy dedup: (doc_id, keeper) where keeper is
    the MIN id of the doc's connected component in the near-dup pair
    graph (``pairs(a, b)``), and a doc in no pair keeps itself.
    Downstream keeps rows WHERE doc_id = keeper — near-dup CLUSTERS
    collapse to one survivor even when similarity is not transitive
    pairwise (a~b, b~c but a≁c still share one keeper).

    Reuses the scale-adaptive ``canonicalize.connected_components``
    (driver union-find at vocabulary size, distributed min-label
    propagation above). Ids are zero-padded to 12 digits for the string
    component labels so lexical min == numeric min (requires
    non-negative ids < 10^12 — the synthetic planted offset fits).

    At scale: feed ``minhash_lsh_pairs`` output here; the oracled
    registry entry (d07) uses ``jaccard_pairs_exact`` so DuckDB can
    mirror it with a recursive transitive closure.
    """
    from graphlab_spark.operators.canonicalize import connected_components

    def pad(c):
        return F.lpad(c.cast("string"), 12, "0")

    comp = connected_components(
        pairs.select(pad(F.col("a")).alias("a"), pad(F.col("b")).alias("b"))
    )
    return (
        docs.select(id_col)
        .join(
            comp.withColumnRenamed("item_id", "_pid"),
            pad(F.col(id_col)) == F.col("_pid"),
            "left",
        )
        .select(
            id_col,
            F.coalesce(F.col("component_id").cast("long"), F.col(id_col)).alias(
                "keeper"
            ),
        )
    )


# --------------------------------------------- benchmark decontamination

def contaminated_docs(
    docs: DataFrame, bench_docs: DataFrame, n: int = 13
) -> DataFrame:
    """Benchmark-contamination flagging for training corpora: a doc is
    contaminated when it shares ANY token ``n``-gram with a document of
    the held-out benchmark set (the classic 13-gram decontamination
    rule). Returns (doc_id, n_hits) for contaminated docs only.

    Scale shape: both sides shingle via the hoisted ``shingled``
    projection; grams are prehashed JVM-side (``xxhash64``) so the join
    key is 8 bytes, not a string; the benchmark gram set is the SMALL
    side (benchmarks are thousands of docs, the corpus 10^12) — AQE
    broadcasts it, the corpus never shuffles. n_hits counts DISTINCT
    shared grams per doc.
    """
    def gram_hashes(frame):
        return shingled(frame, n=n).select(
            "doc_id", F.explode("sh").alias("g")
        ).select("doc_id", F.xxhash64("g").alias("gh"))

    bench_grams = gram_hashes(bench_docs).select("gh").distinct()
    return (
        gram_hashes(docs)
        .join(bench_grams, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_hits"))
    )


# ------------------------------------------------ cross-doc line dedup

def line_dedup(
    docs: DataFrame,
    min_count: int = 2,
    min_line_chars: int = 10,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """C4/CCNet-style cross-document LINE dedup (boilerplate removal):
    a line whose exact text occurs in ≥ ``min_count`` places across the
    corpus is removed everywhere except one deterministic keeper
    instance (the globally smallest ``(doc_id, line_no)`` — C4's
    "removed all but one" rule, made order-independent for a
    distributed run). Lines shorter than ``min_line_chars`` after trim
    are never touched (blank/short lines are structure, not
    boilerplate — the standard guard).

    Returns one row per input doc: (id, clean_text, n_removed, n_kept).

    Scale shape: explode lines → ONE partial-aggregated count keyed on
    the line text (count + min-struct keeper in the same agg) → shuffle
    join back on the line → per-doc re-assembly via collect_list +
    array_sort (deterministic (line_no, line) order, no window sort).
    The duplicated-lines frame is corpus-sized in the worst case, so it
    is NEVER broadcast — AQE picks the join; at 10^12 docs pre-hash the
    join key (xxhash64) the way contaminated_docs does if line strings
    dominate shuffle volume.
    """
    lines = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text), "\n")).alias("line_no", "line")
    )
    eligible = F.length(F.trim(F.col("line"))) >= min_line_chars
    counts = (
        lines.filter(eligible)
        .groupBy("line")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct(F.col(id_col), F.col("line_no"))).alias("keeper"),
        )
        .filter(F.col("c") >= min_count)
        .select("line", "keeper")
    )
    marked = lines.join(counts, "line", "left").withColumn(
        "_drop",
        F.col("keeper").isNotNull()
        & ~(
            (F.col("keeper")[id_col] == F.col(id_col))
            & (F.col("keeper")["line_no"] == F.col("line_no"))
        ),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN NOT _drop THEN "
                    "struct(line_no, line) END)), s -> s.line)"
                ),
            ).alias("clean_text"),
            F.sum(F.col("_drop").cast("long")).alias("n_removed"),
            F.sum((~F.col("_drop")).cast("long")).alias("n_kept"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = False,
) -> DataFrame:
    """Exact duplicated-substring spans, Lee-et-al.-style ("Deduplicating
    Training Data Makes Language Models Better", which removes any
    ≥50-token substring occurring twice in the corpus — the suffix-array
    step reformulated as DataFrame algebra): every maximal token span
    covered by a ``k``-token window whose text occurs MORE THAN ONCE in
    the corpus (across docs or repeated within one) →
    (doc_id, span_start, span_end, span_tokens), token positions
    0-based, end exclusive.

    Plan (all JVM, no Python in the row path):
    1. per doc, emit (pos, k-gram) via ``transform(sequence(...))`` +
       ``slice``/``array_join`` and explode — O(tokens) rows;
    2. duplicated grams = groupBy(gram) HAVING count > 1 — the one big
       shuffle; map-side partial agg collapses each partition's repeats
       before the exchange. At 100 TB, shuffle ``xxhash64(gram)`` (16
       bytes/row) instead of gram text — a 64-bit collision marking a
       unique span duplicated is noise at Lee et al.'s own error bar
       (they hash, too). ``hash_grams=True`` IS that path — the gram
       shuffles as a single xxhash64 long instead of its text (pytest
       pins hashed ≡ text output on the planted corpus). The oracled
       form keeps the text so the DuckDB mirror is exact;
    3. left-semi back to positions, then merge overlapping/adjacent
       windows per doc into maximal spans with the classic
       gaps-and-islands running ``max(pos + k)`` window — keyed by doc,
       partial state O(1) per row.

    A span's tokens can then be cut from the doc (the paper's policy)
    or the doc dropped above a duplication ratio — both downstream
    one-liners on this frame.

    The token array is HOISTED into its own projection before the
    ``transform`` lambda (the ``shingled`` two-projection form above):
    referencing ``split(text)`` inside the lambda body would re-split
    the text once per gram index — O(tokens²) per doc, measured 9×
    slower on 600-token docs and growing linearly with doc length.
    """
    from graphlab_spark.operators.scratch import spread

    docs = spread(docs)  # gram explode is the per-row cost centre (r6)
    toks = F.col("_toks")
    n = F.size(toks)
    pos_grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.array_join(F.slice(toks, i + 1, k), " ").alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,gram:string>>"))
    gram_col = F.xxhash64("pg.gram") if hash_grams else F.col("pg.gram")
    g = (
        docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_toks"))
        .select(F.col(id_col), F.explode(pos_grams).alias("pg"))
        .select(id_col, F.col("pg.pos").alias("pos"), gram_col.alias("gram"))
    )
    dup = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("gram")
    )
    p = g.join(dup, "gram", "left_semi").select(id_col, "pos")
    w_all = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w_all.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = p.withColumn(
        "island",
        F.sum(
            F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
        ).over(w_all.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            (F.max("pos") + k - F.min("pos")).alias("span_tokens"),
        )
        .select(id_col, "span_start", "span_end", "span_tokens")
    )


def cut_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = False,
) -> DataFrame:
    """Apply Lee et al.'s REMOVAL policy to :func:`duplicate_spans`:
    cut every duplicated span's tokens out of each doc →
    (doc_id, clean_text, n_tokens_kept, n_tokens_removed). Docs with no
    spans pass through untouched; a doc fully covered by spans keeps an
    empty string (the caller drops or quarantines empties).

    Plan: spans collapse to one array<struct> row per affected doc
    (collect_list after duplicate_spans' per-doc agg — bounded by
    tokens/k per doc, never corpus-sized), left-join back on the doc
    key, then a nested higher-order filter drops token positions inside
    any span — all JVM, no Python, no extra corpus shuffle beyond the
    doc-keyed span join.
    """
    spans = duplicate_spans(docs, k, id_col, text_col, hash_grams=hash_grams)
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_sp")
    )
    empty = F.array().cast("array<struct<span_start:long,span_end:long>>")
    j = docs.join(sp, id_col, "left").withColumn(
        "_sp", F.coalesce(F.col("_sp"), empty)
    )
    # Hoist split and the higher-order filter into projections: `kept`
    # is consumed three times below, and an inline expression would
    # re-run the filter (and re-split the text) per consumer.
    j = j.withColumn("_toks", F.split(F.col(text_col), " ")).withColumn(
        "_kept",
        F.filter(
            F.col("_toks"),
            lambda x, i: ~F.exists(
                "_sp",
                lambda r: (i >= r["span_start"]) & (i < r["span_end"]),
            ),
        ),
    )
    return j.select(
        F.col(id_col),
        F.array_join(F.col("_kept"), " ").alias("clean_text"),
        F.size(F.col("_kept")).cast("long").alias("n_tokens_kept"),
        (F.size(F.col("_toks")) - F.size(F.col("_kept")))
        .cast("long")
        .alias("n_tokens_removed"),
    )
