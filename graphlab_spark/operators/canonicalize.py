"""Stages C8+C9 — MinHash-LSH near-duplicate detection + connected
components to merge duplicate entities.

Reference parity: the reference deduplicates crawled papers per lab via
unique keys (``backend/app/models/research_paper.py:13-14``) and declares
entity canonicalization through the kg_upsert flow
(``backend/README.md:105``); fuzzy-merge semantics come from
``BASELINE.json`` ``north_star`` ("connected-components + MinHash-LSH
canonicalization to merge duplicate entities").

Scale design:
- MinHash-LSH is the document-dedup operator's banded kernel
  (``dedup.bands_frame`` → ``band_candidates`` → ``jaccard_verify``) over
  char-3-gram sets signed with the seeded 61-bit string family: a
  band-bucket shuffle join, never a cross join.
- Connected components is min-label propagation over DataFrame joins —
  components here are tiny variant clusters (diameter ≤ ~3), so the loop
  converges in a handful of iterations; each iteration is pinned to
  scratch parquet (operators/scratch.py) to cut lineage so plans don't
  grow exponentially — off-heap, unlike driver-heap localCheckpoint.
- Size-adaptive: below a vocabulary threshold the whole stage runs on
  the driver (``canonicalize_small``) with the SAME kernels — one job
  instead of ~10 — exactly like connected_components' union-find switch.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphlab_spark.functions.embed import char_ngrams
from graphlab_spark.operators.mentions import _norm_key

# similarity ≥ 0.72: a one-typo variant of a two-word name stays inside
# the threshold (J≈0.75-0.85) while two distinct names sharing one long
# word ("Acme Laboratories" / "Everest Laboratories", J≈0.5) stay outside.
DEFAULT_JACCARD_DIST = 0.28


@F.pandas_udf(T.ArrayType(T.StringType()))
def grams_udf(surfaces: pd.Series) -> pd.Series:
    return surfaces.map(lambda s: sorted(set(char_ngrams(_norm_key(s)))) if s else [])


def similarity_pairs(
    spark: SparkSession,
    items: DataFrame,
    id_col: str = "item_id",
    text_col: str = "surface",
    jaccard_dist: float = DEFAULT_JACCARD_DIST,
) -> DataFrame:
    """items(id, text) → undirected near-dup pairs (a, b, jdist).

    Banded MinHash over char-3-gram sets: the document dedup operator's
    banding, band self-join and Jaccard verify, over signatures of the
    61-bit string family (``dedup.minhash_udf``; documents use the
    31-bit prehashed one) — kg_c10's golden canonical edges pin it.
    Candidates are verified with EXACT Jaccard, so output is
    deterministic given the fixed hash seed. At J = 0.72 the 16×4 band
    layout has candidate recall ≈ 0.993.
    """
    from graphlab_spark.operators.dedup import (
        band_candidates,
        bands_frame,
        jaccard_verify,
        minhash_udf,
    )
    from graphlab_spark.operators.scratch import materialize

    feat = items.select(
        F.col(id_col).alias("item_id"),
        grams_udf(F.col(text_col)).alias("grams"),
    ).filter(F.size("grams") > 0)
    sigs = materialize(feat.withColumn("sig", minhash_udf(F.col("grams"))), "canon_sigs")
    cand = band_candidates(bands_frame(sigs, "item_id"), "item_id")
    return (
        jaccard_verify(cand, sigs, "item_id", "grams")
        .withColumn("jdist", 1 - F.col("_j"))
        .filter(F.col("jdist") <= jaccard_dist)
        .select("a", "b", "jdist")
    )


def _driver_union_find(edge_rows: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Union-find with path compression; canonical = min id per component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root → canonical survivor is stable
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


def connected_components(
    edges: DataFrame,
    max_iter: int = 12,
    check_every: int = 2,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """edges(a, b) undirected → components(item_id, component_id=min id).

    Scale-adaptive (AQE-style): the similarity graph lives at VOCABULARY
    scale, so when it has < ``driver_threshold`` edges, one collect + a
    driver-side union-find replaces ~15 tiny shuffle jobs (identical
    result — min id per component). Above the threshold: distributed
    min-label propagation — each vertex takes the min label in its closed
    neighborhood until fixpoint; deterministic; lineage cut per
    iteration; convergence checked every ``check_every`` iterations
    (each check is a job; variant components have tiny diameters).
    """
    from graphlab_spark.operators.scratch import local_frame, materialize

    spark = edges.sparkSession
    # ONE evaluation decides the switch AND feeds the fast path: collect
    # limit(threshold+1) up front instead of count-then-collect — the
    # old probe ran the whole upstream pair pipeline TWICE (an O(n²)
    # verify join or a GEMM stage for semantic_dedup/neardup_keepers
    # callers), and the size guard bounds the collect exactly as before.
    head = edges.select("a", "b").limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        mapping = _driver_union_find([(r[0], r[1]) for r in head])
        # numeric ids (semdedup's long vec ids) label as their decimal
        # strings, as the declared schema says
        return local_frame(
            spark,
            [(str(i), str(c)) for i, c in mapping],
            "item_id string, component_id string",
        )
    sym = materialize(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct(),
        "cc_sym",
    )
    labels = materialize(
        sym.select(F.col("src").alias("item_id"))
        .distinct()
        .withColumn("component_id", F.col("item_id")),
        "cc_labels",
    )
    for it in range(1, max_iter + 1):
        nbr_min = (
            sym.join(labels, sym.dst == labels.item_id)
            .groupBy("src")
            .agg(F.min("component_id").alias("nbr_comp"))
        )
        new_labels = materialize(
            labels.join(nbr_min, labels.item_id == nbr_min.src, "left").select(
                "item_id",
                F.least(
                    F.col("component_id"), F.coalesce(F.col("nbr_comp"), F.col("component_id"))
                ).alias("component_id"),
            ),
            "cc_iter",
        )
        if it % check_every == 0 or it == max_iter:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "item_id")
                .filter(F.col("n.component_id") != F.col("o.component_id"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            labels = new_labels
    return labels


def canonicalize_stage(
    spark: SparkSession,
    entities: DataFrame,
    jaccard_dist: float = DEFAULT_JACCARD_DIST,
) -> DataFrame:
    """entities(entity_id, surface, is_known) → mapping(entity_id, canonical_id).

    The alias dictionary is authoritative: two KNOWN entities are never
    merged (known-known similarity pairs are dropped — they are distinct
    by construction, however similar their names). Unknown entities merge
    into the lexically smallest known entity of their connected component,
    or — for components with no known member — the smallest unknown id.
    Deterministic and stable across runs.
    """
    # Vocabulary-sized input, but NOT fixed-parallelism: repartition on the
    # key and let AQE coalesce — a tiny vocab runs as one fat task, a
    # 10^8-entity vocab spreads the MinHash UDF over the cluster (a
    # hardcoded coalesce(4) would serialize it onto 4 tasks).
    entities = entities.repartition("entity_id")
    pairs = similarity_pairs(spark, entities, id_col="entity_id", jaccard_dist=jaccard_dist)
    # known set is vocabulary-derived — no explicit broadcast (AQE picks
    # broadcast only while it actually fits; see VERDICT r1 item 1).
    kb = entities.filter(F.col("is_known")).select(F.col("entity_id").alias("kid"))
    pairs = (
        pairs.join(kb.withColumnRenamed("kid", "a_k"), pairs.a == F.col("a_k"), "left")
        .join(kb.withColumnRenamed("kid", "b_k"), pairs.b == F.col("b_k"), "left")
        .filter(F.col("a_k").isNull() | F.col("b_k").isNull())  # drop known-known
        .select("a", "b")
    )
    comps = connected_components(pairs)
    comp_known_min = (
        comps.join(kb, comps.item_id == kb.kid)
        .groupBy("component_id")
        .agg(F.min("item_id").alias("known_min"))
    )
    return (
        entities.select("entity_id", "is_known")
        .distinct()
        .join(comps, F.col("entity_id") == F.col("item_id"), "left")
        .join(comp_known_min, "component_id", "left")
        .select(
            "entity_id",
            F.when(F.col("is_known"), F.col("entity_id"))
            .otherwise(
                F.coalesce(F.col("known_min"), F.col("component_id"), F.col("entity_id"))
            )
            .alias("canonical_id"),
        )
    )


# --------------------------------------------- driver fast path (small vocab)

class FastPathOverflow(Exception):
    """Raised when the driver fast path's candidate budget is exceeded —
    the caller must fall back to the distributed path. Happens on
    CLUSTERED vocabularies (many near-identical strings land in the same
    LSH buckets → pair enumeration approaches O(n²)); row count alone
    cannot predict it, so the budget is enforced during enumeration."""


# candidate-pair budget for the driver fast path (env-tunable)
FASTPATH_MAX_CANDIDATES = int(os.environ.get("SPARK_GRAFT_FASTPATH_MAX_CAND", "2000000"))


def similarity_pairs_small(
    items: list[tuple[str, str]],
    jaccard_dist: float = DEFAULT_JACCARD_DIST,
    max_candidates: int | None = None,
) -> list[tuple[str, str]]:
    """Driver-side replica of :func:`similarity_pairs` for vocabulary sets
    that fit on the driver: SAME minhash signatures (identical numpy
    kernel + hash params), SAME 16×4 banding, SAME exact-Jaccard verify —
    byte-identical pair set to the distributed path (equality is pinned
    by a test). ``items``: [(item_id, text)]. Returns [(a, b)] with a<b.
    """
    from graphlab_spark.operators.dedup import N_BANDS, N_HASHES, _minhash_batch

    rows_per_band = N_HASHES // N_BANDS
    grams: dict[str, set[str]] = {}
    ordered: list[str] = []
    for item_id, text in items:
        g = set(char_ngrams(_norm_key(text))) if text else set()
        if g:
            grams[item_id] = g
            ordered.append(item_id)
    if not ordered:
        return []
    sigs = _minhash_batch(pd.Series([sorted(grams[i]) for i in ordered]))
    buckets: dict[tuple[int, tuple[int, ...]], list[str]] = {}
    for item_id, sig in zip(ordered, sigs):
        for b in range(N_BANDS):
            key = (b, tuple(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(item_id)
    budget = FASTPATH_MAX_CANDIDATES if max_candidates is None else max_candidates
    cand: set[tuple[str, str]] = set()
    projected = 0
    for ids in buckets.values():
        if len(ids) > 1:
            # bound BEFORE enumerating: one hot bucket can be O(n²) alone
            projected += len(ids) * (len(ids) - 1) // 2
            if projected > budget:
                raise FastPathOverflow(
                    f"candidate pairs exceed driver budget {budget}; "
                    "vocabulary is clustered — use the distributed path"
                )
            ids = sorted(ids)
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    cand.add((ids[i], ids[j]))
    out = []
    for a, b in sorted(cand):
        ga, gb = grams[a], grams[b]
        jdist = 1 - len(ga & gb) / len(ga | gb)
        if jdist <= jaccard_dist:
            out.append((a, b))
    return out


def canonicalize_small(
    entities: list[tuple[str, str, bool]],
    jaccard_dist: float = DEFAULT_JACCARD_DIST,
    max_candidates: int | None = None,
) -> dict[str, str]:
    """Driver-side replica of :func:`canonicalize_stage` for small vocabs
    (the adaptive fast path — same size-switch philosophy as
    :func:`connected_components`'s driver union-find). Input rows:
    (entity_id, surface, is_known), unique per entity_id. Returns
    entity_id → canonical_id, identical to the distributed stage.
    """
    known = {eid for eid, _, k in entities if k}
    pairs = [
        (a, b)
        for a, b in similarity_pairs_small(
            [(e, s) for e, s, _ in entities], jaccard_dist, max_candidates
        )
        if a not in known or b not in known  # drop known-known
    ]
    comp = dict(_driver_union_find(pairs))
    known_min: dict[str, str] = {}
    for item, root in comp.items():
        if item in known and (root not in known_min or item < known_min[root]):
            known_min[root] = item
    mapping: dict[str, str] = {}
    for eid, _, is_known in entities:
        if is_known:
            mapping[eid] = eid
        else:
            root = comp.get(eid)
            if root is None:
                mapping[eid] = eid
            else:
                mapping[eid] = known_min.get(root, root)
    return mapping


# ------------------------------------------- incremental components


def cc_incremental(
    prior: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 12,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Fold a crawl increment's edges into an EXISTING component
    labelling without re-running CC over the union graph:
    ``prior(item_id, component_id)`` (min-id labels, the
    :func:`connected_components` contract) + new undirected
    ``edges(a, b)`` → updated ``(item_id, component_id)`` for the union
    graph, EXACTLY equal to one-shot CC over old∪new edges
    (equality-pinned in tests/test_cc_incremental.py).

    The incremental twin the other persisted structures here already
    have (dedup_incremental, semdedup_incremental, index_add): a monthly
    re-crawl adds O(delta) edges to a graph whose full CC run is the
    expensive vocabulary-scale step.

    Scale shape — work is O(delta), plus exactly TWO broadcast-join
    scans of the prior labels (the endpoint semi-filter, pinned to
    scratch so its consumers don't re-scan, and the final remap); the
    prior is never shuffled:
    1. map the new edges' endpoints through the prior labels (two
       broadcast-able joins on the O(delta) side; endpoints the prior
       never saw label themselves) → a COMPONENT-level edge per new
       edge;
    2. run CC on that component graph — O(delta) nodes and edges, so it
       takes :func:`connected_components`' driver union-find fast path
       at any realistic increment size, min-label propagation above it.
       Min over a merged group of components = min item_id over all
       their members ∪ new nodes, because each prior label IS its
       component's min member — so labels stay canonical one-shot
       labels;
    3. remap: the touched-component remap table is O(delta) → broadcast
       against the prior labels (one scan, no shuffle of the big side);
       untouched components pass through unchanged; brand-new nodes
       union in.
    """
    from graphlab_spark.operators.scratch import materialize

    e = new_edges.select("a", "b")
    # Filter the corpus-sized prior down to the delta's endpoints with a
    # broadcast SEMI join (one scan, no shuffle of the big side) — a
    # plain left join of the delta against prior would have to shuffle
    # prior, since the left/preserved side of an outer join can't be the
    # broadcast build side. pe is O(delta) and consumed by THREE
    # downstream frames (pa, pb, fresh) plus connected_components'
    # double evaluation — pin it once so the prior is scanned exactly
    # once here, not once per consumer (the frames stay pinned for the
    # returned result's lifetime; dead-session scratch is reclaimed by
    # the reaper).
    endpoints = (
        e.select(F.col("a").alias("item_id"))
        .unionByName(e.select(F.col("b").alias("item_id")))
        .distinct()
    )
    pe = materialize(
        prior.join(F.broadcast(endpoints), "item_id", "left_semi"), "ccinc_pe"
    )
    pa = pe.select(F.col("item_id").alias("a"), F.col("component_id").alias("_ca"))
    pb = pe.select(F.col("item_id").alias("b"), F.col("component_id").alias("_cb"))
    comp_edges = materialize(
        e.join(F.broadcast(pa), "a", "left")
        .join(F.broadcast(pb), "b", "left")
        .select(
            F.coalesce(F.col("_ca"), F.col("a")).alias("a"),
            F.coalesce(F.col("_cb"), F.col("b")).alias("b"),
        ),
        "ccinc_edges",
    )
    remap = connected_components(
        comp_edges, max_iter=max_iter, driver_threshold=driver_threshold
    ).select(
        F.col("item_id").alias("_old"), F.col("component_id").alias("_new")
    )
    relabelled = (
        prior.join(
            F.broadcast(remap), prior["component_id"] == remap["_old"], "left"
        )
        .select(
            "item_id",
            F.coalesce(F.col("_new"), F.col("component_id")).alias(
                "component_id"
            ),
        )
    )
    # brand-new items = delta endpoints the prior never labelled; both
    # frames here are O(delta), so no big-side work at all
    fresh = (
        endpoints.join(F.broadcast(pe.select("item_id")), "item_id", "left_anti")
        .join(F.broadcast(remap), F.col("item_id") == F.col("_old"))
        .select("item_id", F.col("_new").alias("component_id"))
    )
    return relabelled.unionByName(fresh)
