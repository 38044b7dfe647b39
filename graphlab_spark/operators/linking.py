"""Stages C6+C7 — blocking + embedding-cosine entity linking.

Reference parity: confidence-scored analysis results
(``backend/app/models/paper_analysis.py:19``); semantics per
``BASELINE.json`` ``north_star`` ("TF-IDF + alias-dictionary blocking
followed by embedding cosine-score entity linking ... broadcast of the
hot alias dictionary").

Scale design:
- Link DISTINCT surfaces, not raw mentions — surface frequency is Zipf,
  so the expensive scoring runs on the (bounded) vocabulary while the
  final assignment is a join back to mentions. At 100 TB the mention
  table is ~10^12 rows but distinct surfaces are ~10^8.
- ONE blocked join does both exact and fuzzy linking: an exact
  normalized-key hit embeds identically → cosine 1.0 → always top-1, so
  no separate exact pass (halves the job count).
- The alias dictionary is driver-resident metadata (the reference keeps
  it in Postgres): its block keys are computed driver-side and the whole
  keyed dict is broadcast (north_star C11). The big side never shuffles
  until the final mention←link join, where AQE splits hot surfaces.
- Blocking is bounded: first-token key, min-K hashed char-3-grams, and a
  TF-IDF key (rarest token by document frequency over the alias corpus —
  computed once, driver-side, broadcast with the dict). No cross join.
"""

from __future__ import annotations

import os
from collections import Counter
from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphlab_spark.functions.embed import (
    char_ngrams,
    cosine_pairs_udf,
    cosine_rows,
    embed_surface,
    embed_udf,
)
from graphlab_spark.operators.mentions import _norm_key

MINK_GRAMS = 8
DEFAULT_THRESHOLD = 0.70

# Hard ceiling on the driver-resident alias dictionary. The dict is hot
# METADATA (reference keeps it in Postgres) and must stay broadcastable;
# a silently-collected 10^8-row table would OOM the driver long after the
# design assumption broke. Fail loudly instead.
MAX_ALIAS_ROWS = int(os.environ.get("SPARK_GRAFT_MAX_ALIAS_ROWS", "5000000"))


def collect_alias_rows(aliases, max_rows: int = MAX_ALIAS_ROWS) -> list[dict]:
    """Collect the alias dictionary to the driver, guarded by a row ceiling."""
    rows = aliases.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"alias dictionary exceeds the driver-resident ceiling of {max_rows} rows; "
            "it can no longer be collected/broadcast — partition the dictionary or raise "
            "SPARK_GRAFT_MAX_ALIAS_ROWS deliberately"
        )
    return [r.asDict() for r in rows]


def _gram_keys(key: str) -> list[str]:
    grams = sorted(
        char_ngrams(key), key=lambda g: blake2b(g.encode(), digest_size=8).digest()
    )[:MINK_GRAMS]
    return ["g:" + g for g in grams]


def _block_keys(surface: str | None, token_df: dict[str, int] | None = None) -> list[str]:
    """first-token key + min-K char-gram keys (+ TF-IDF rarest-token key
    when a token document-frequency map is supplied)."""
    if not surface:
        return []
    key = _norm_key(surface)
    toks = key.split(" ")
    keys = {"t0:" + toks[0]}
    keys.update(_gram_keys(key))
    if token_df:
        known = [t for t in toks if t in token_df]
        if known:
            rarest = min(known, key=lambda t: (token_df[t], t))
            keys.add("r:" + rarest)
    return sorted(keys)


def norm_key_udf_factory():
    @F.pandas_udf(T.StringType())
    def norm_key_udf(surfaces: pd.Series) -> pd.Series:
        return surfaces.map(lambda s: _norm_key(s) if s else None)

    return norm_key_udf


norm_key_udf = norm_key_udf_factory()


def alias_block_rows(alias_rows: list[dict]) -> tuple[list[dict], dict[str, int]]:
    """Driver-side: explode the alias dict into (block_key, akey,
    canonical_id, entity_type) rows. Token document frequency over the
    alias corpus supplies the TF-IDF blocking key."""
    token_df: Counter[str] = Counter()
    keyed = []
    for r in alias_rows:
        k = _norm_key(r["alias"])
        keyed.append((k, r))
        token_df.update(set(k.split(" ")))
    out = []
    for k, r in keyed:
        for bk in _block_keys(k, token_df):
            out.append(
                {
                    "block_key": bk,
                    "akey": k,
                    "canonical_id": r["canonical_id"],
                    "entity_type": r["entity_type"],
                }
            )
    return out, dict(token_df)


def link_surfaces(
    spark: SparkSession,
    surfaces: DataFrame,
    aliases: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """surfaces(surface) × aliases(alias, canonical_id, entity_type) →
    links(surface, canonical_id, entity_type, score, method).

    One blocked broadcast join + batched cosine + window top-1."""
    ablocks_rows, token_df = alias_block_rows(collect_alias_rows(aliases))
    ablocks = spark.createDataFrame(
        pd.DataFrame(ablocks_rows),
        "block_key string, akey string, canonical_id string, entity_type string",
    ).coalesce(1)
    df_bc = spark.sparkContext.broadcast(token_df)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def block_keys_udf(col: pd.Series) -> pd.Series:
        tdf = df_bc.value
        return col.map(lambda s: _block_keys(s, tdf))

    skeyed = surfaces.select(
        "surface", norm_key_udf(F.col("surface")).alias("skey")
    ).withColumn("block_key", F.explode(block_keys_udf(F.col("surface"))))

    cand = (
        skeyed.join(F.broadcast(ablocks), "block_key")
        .dropDuplicates(["surface", "akey", "canonical_id"])
        .withColumn(
            "score",
            F.when(F.col("skey") == F.col("akey"), F.lit(1.0)).otherwise(
                cosine_pairs_udf(embed_udf(F.col("skey")), embed_udf(F.col("akey")))
            ),
        )
    )
    w = Window.partitionBy("surface").orderBy(
        F.col("score").desc(), F.col("canonical_id").asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("score") >= threshold))
        .select(
            "surface",
            "canonical_id",
            "entity_type",
            "score",
            F.when(F.col("skey") == F.col("akey"), F.lit("exact"))
            .otherwise(F.lit("fuzzy"))
            .alias("method"),
        )
    )


def link_surfaces_small(
    surfaces: list[str],
    alias_rows: list[dict],
    threshold: float = DEFAULT_THRESHOLD,
) -> list[dict]:
    """Driver-side replica of :func:`link_surfaces` for vocabularies that
    fit on the driver (the adaptive fast path — size-switched by the
    pipeline; the distributed path is the 100 TB default). Same block
    keys, same exact-hit rule, same :func:`cosine_rows` kernel → output
    rows identical to the distributed path (pinned by a test).
    """
    ablocks_rows, token_df = alias_block_rows(alias_rows)
    by_block: dict[str, list[dict]] = {}
    for r in ablocks_rows:
        by_block.setdefault(r["block_key"], []).append(r)

    # candidate generation (blocked — never all-pairs, same keys as the UDF)
    cand_by_surface: dict[str, list[dict]] = {}
    fuzzy_pairs: list[tuple[str, str, dict]] = []  # (surface, skey, cand)
    skeys: dict[str, str] = {}
    for surface in surfaces:
        skey = _norm_key(surface) if surface else None
        skeys[surface] = skey
        seen: set[tuple[str, str]] = set()
        cands: list[dict] = []
        for bk in _block_keys(surface, token_df):
            for r in by_block.get(bk, ()):
                k = (r["akey"], r["canonical_id"])
                if k not in seen:
                    seen.add(k)
                    cands.append(r)
        if cands:
            cand_by_surface[surface] = cands
            fuzzy_pairs.extend(
                (surface, skey, c) for c in cands if c["akey"] != skey
            )

    from graphlab_spark.operators.canonicalize import (
        FASTPATH_MAX_CANDIDATES,
        FastPathOverflow,
    )

    if len(fuzzy_pairs) > FASTPATH_MAX_CANDIDATES:
        raise FastPathOverflow(
            f"{len(fuzzy_pairs)} fuzzy link candidates exceed the driver "
            f"budget {FASTPATH_MAX_CANDIDATES}; use the distributed path"
        )

    # ONE vectorized cosine batch over every fuzzy candidate pair: each
    # distinct key is embedded once and the pair rows are gathered by
    # index (einsum is row-independent, so global batching is
    # bit-identical to the per-pair computation the Spark UDF performs)
    fuzzy_scores: list[float] = []
    if fuzzy_pairs:
        row_of: dict[str, int] = {}
        ia = [row_of.setdefault(sk, len(row_of)) for _, sk, _ in fuzzy_pairs]
        ib = [row_of.setdefault(c["akey"], len(row_of)) for _, _, c in fuzzy_pairs]
        emb = np.stack([embed_surface(k) for k in row_of])
        fuzzy_scores = cosine_rows(emb[ia], emb[ib]).tolist()
    score_of: dict[tuple[str, str, str], float] = {
        (s, c["akey"], c["canonical_id"]): sc
        for (s, _, c), sc in zip(fuzzy_pairs, fuzzy_scores)
    }

    out: list[dict] = []
    for surface, cands in cand_by_surface.items():
        skey = skeys[surface]
        scored = [
            (
                1.0 if c["akey"] == skey else score_of[(surface, c["akey"], c["canonical_id"])],
                c["canonical_id"],
                c,
                "exact" if c["akey"] == skey else "fuzzy",
            )
            for c in cands
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        score, cid, best, method = scored[0]
        if score >= threshold:
            out.append(
                {
                    "surface": surface,
                    "canonical_id": cid,
                    "entity_type": best["entity_type"],
                    "score": score,
                    "method": method,
                }
            )
    return out
