"""Graph-query surface over the materialized nodes/edges tables.

Reference parity: the reference serves its knowledge graph from Neo4j —
its chatbot answers by traversing nodes/relationships with Cypher and
citing them back (``neo4j_refs`` on messages, ``backend/app/models/
message.py:22-27``; one graph per lab, ``backend/README.md:18-20``).
The columnar analog: the ``edges(src, pred, dst, ...)`` table IS the
adjacency list, and a k-hop neighborhood is k self-joins — each hop is
one shuffle join on the frontier, broadcastable while the frontier is
small (it always starts at 1 row).

At 10^12-edge scale: bucket the edges table by ``src`` so hops are
co-partitioned joins; the frontier stays tiny relative to the corpus, so
Catalyst/AQE broadcast it — a 3-hop query touches only the reachable
subgraph, never the full table.

The PageRank family (plain, evidence-weighted, personalized and
warm-start) is one engine: one pinned transition table, one power
iteration run on the driver or distributed by graph size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def undirected(edges: DataFrame) -> DataFrame:
    """Symmetrized distinct adjacency (src, dst) from the edges table."""
    e = edges.select("src", "dst")
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def k_hop_neighbors(edges: DataFrame, seed: str, k: int = 2) -> DataFrame:
    """Entities reachable from ``seed`` within ``k`` undirected hops
    (excluding the seed itself) → (id, hop) with hop = first hop reached.

    Deterministic: hop = min distance; ties impossible by construction
    (a node is claimed at its first frontier).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    adj = undirected(edges)
    visited = adj.sparkSession.createDataFrame([(seed, 0)], "id string, hop int")
    frontier = visited.select("id")
    for hop in range(1, k + 1):
        nxt = (
            adj.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("hop", F.lit(hop))
        )
        # frontier is vocabulary-small — pin it so the loop's lineage
        # doesn't grow (same scratch-parquet policy as everywhere else)
        from graphlab_spark.operators.scratch import materialize

        nxt = materialize(nxt, f"khop_{hop}")
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("id")
    return visited.filter(F.col("hop") > 0).select("id", "hop")


def bfs_distances(edges: DataFrame, seed: str, max_hops: int = 6) -> DataFrame:
    """Single-source shortest-path distances (unweighted BFS) from
    ``seed`` over the undirected distinct adjacency → (id, dist) for
    every node within ``max_hops``, seed included at dist 0.

    Same frontier loop as :func:`k_hop_neighbors` (dist = first hop
    reached ≡ min distance; each hop is one join on the frontier +
    anti-join against visited, frontier pinned to scratch so lineage
    stays flat), but run to ``max_hops`` with early stop when the
    frontier drains. The explicit bound keeps the operator total on any
    graph AND makes it SQL-mirrorable: the oracle is a depth-bounded
    recursive CTE taking MIN(dist) per node.

    At 10^12 edges: the frontier is reachable-subgraph-sized, not
    corpus-sized — AQE broadcasts it against the src-bucketed edge
    table every hop, so a BFS touches only the component it explores.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    adj = undirected(edges)
    visited = adj.sparkSession.createDataFrame(
        [(seed, 0)], "id string, dist int"
    )
    frontier = visited.select("id")
    from graphlab_spark.operators.scratch import materialize

    for hop in range(1, max_hops + 1):
        nxt = materialize(
            adj.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("dist", F.lit(hop)),
            f"bfs_{hop}",
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("id")
    return visited


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree centrality over DISTINCT canonical edges:
    (id, out_deg, in_deg, deg) where deg counts distinct undirected
    neighbors. Pure DataFrame algebra — two partial-aggregated shuffles
    keyed by node id; at 10^12 edges the same bucketing by src/dst that
    serves k-hop co-partitions these counts."""
    e = edges.select("src", "dst").distinct()
    out_d = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("in_deg"))
    und = undirected(edges).groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        und.join(out_d, "id", "left")
        .join(in_d, "id", "left")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            "deg",
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over the undirected
    distinct edge set → (id, triangles), nodes with ≥1 triangle only.

    Enumeration uses DEGREE-ORDERED ORIENTATION: each undirected edge is
    directed from its lower-(deg, id) endpoint to its higher one, and
    triangles are found as oriented wedges (a→b, a→c) closed by b→c.
    Every triangle is enumerated exactly once, and — the 10^12-edge
    reason — the wedge join's fan-out per node is bounded by its
    ORIENTED out-degree, which degree ordering caps near sqrt(E) even
    for celebrity nodes (arboricity bound; cf. Suri & Vassilvitskii,
    WWW'11). A plain id-ordered orientation would leave a hot low-id hub
    with out-degree = its full degree, and the wedge self-join on that
    key becomes the skew bottleneck. The count itself is orientation-
    independent, so an oracle may enumerate with simple id ordering.

    Plan: one degree agg (partial-agg shuffle), one broadcast-or-shuffle
    join to orient, one self-join on the wedge pivot, one join to close,
    one explode+groupBy — all DataFrame algebra, no Python.
    """
    und = undirected(edges)  # symmetric distinct (src, dst)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # orient: keep (u, v) iff (deg(u), u) < (deg(v), v)
    e = (
        und.join(deg.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("deg", "sdeg")
        .join(
            deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddeg")),
            "dst",
        )
        .filter(
            (F.col("sdeg") < F.col("ddeg"))
            | ((F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    wedges = (
        e.alias("ab")
        .join(e.alias("ac"), F.col("ab.u") == F.col("ac.u"))
        .filter(F.col("ab.v") < F.col("ac.v"))
        .select(
            F.col("ab.u").alias("a"),
            F.col("ab.v").alias("b"),
            F.col("ac.v").alias("c"),
        )
    )
    # close the wedge: b→c or c→b must be an oriented edge; orientation
    # is a total order so exactly one direction can exist — check b→c
    # first, then c→b (b < c lexically but orientation is by degree)
    closed = wedges.join(
        e.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"]
    ).unionByName(
        wedges.join(
            e.select(F.col("v").alias("b"), F.col("u").alias("c")), ["b", "c"]
        )
    )
    return (
        closed.select(
            F.explode(F.array("a", "b", "c")).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def neighbor_jaccard(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Node-pair neighborhood Jaccard similarity over the undirected
    distinct adjacency → (a, b, common, jaccard) for unordered pairs
    (a < b) sharing at least ``min_common`` neighbors. The classic
    link-prediction / entity-similarity primitive: two canonical
    entities whose graph neighborhoods overlap heavily are candidate
    merge targets the text-side MinHash may have missed.

    Plan: common counts come from ONE self-join of the adjacency on the
    shared-neighbor pivot + a partial-aggregated groupBy on (a, b);
    degrees join in afterwards (node-sized, broadcastable). At 10^12
    edges the pivot join is the wedge join again — same degree-skew
    story as triangle_count; cap fan-out by dropping super-hub pivots
    (a neighbor shared via a 10^8-degree hub carries ~zero signal) with
    a pre-filter on pivot degree when the corpus calls for it.
    """
    und = undirected(edges)  # (src=node, dst=neighbor), symmetric
    adj = und.select(F.col("src").alias("node"), F.col("dst").alias("nb"))
    pairs = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.nb") == F.col("y.nb"))
        .filter(F.col("x.node") < F.col("y.node"))
        .groupBy(
            F.col("x.node").alias("a"), F.col("y.node").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    return (
        pairs.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common") * 1.0 / (F.col("da") + F.col("db") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def label_propagation(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Community detection by DETERMINISTIC synchronous label
    propagation over the undirected distinct adjacency (self-loops
    excluded) → (id, community).

    Init: every node is its own label. Each round, every node
    simultaneously adopts the most frequent label among its neighbors,
    ties broken by the smallest label. Fixed ``n_iter`` + deterministic
    tie-break make the result identical on every run AND fully
    SQL-mirrorable (classic async LPA is neither — its visit order is
    scheduler-dependent). Synchronous LPA can oscillate on bipartite
    structures; a fixed iteration count is the standard guard.

    Scale shape: per round, ONE join (adjacency ⋈ label vector — the
    label frame is O(nodes), AQE broadcasts it while it fits) + one
    partial-aggregated groupBy(node, label) + one ``min_by`` agg per
    node; labels pinned to scratch per round (pagerank's loop
    discipline) so lineage stays flat at any ``n_iter``.
    """
    import uuid

    from graphlab_spark.operators.scratch import cleanup_prefix, materialize

    tag = f"lpa_{uuid.uuid4().hex[:8]}"
    und = undirected(edges).filter(F.col("src") != F.col("dst"))
    labels = (
        und.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )
    for i in range(n_iter):
        counts = (
            und.join(
                labels.select(F.col("id").alias("dst"), "lbl"), "dst"
            )
            .groupBy(F.col("src").alias("id"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = materialize(
            counts.groupBy("id").agg(
                F.expr("min_by(lbl, struct(-cnt, lbl))").alias("lbl")
            ),
            f"{tag}_it{i:04d}",
        )
        if i:
            cleanup_prefix(f"{tag}_it{i - 1:04d}")
    return labels.select("id", F.col("lbl").alias("community"))


# ------------------------------------------------------------- PageRank
# The four PageRank operators differ only in what they hand to
# _pagerank: the (src, dst, w) edges, the seed set and the prior ranks.
# _pagerank pins one transition table and runs one power iteration over
# it, on the driver (_power_kernel) or distributed (_power_loop).


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 20,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """PageRank over the directed distinct edge set → (id, rank),
    normalized so ranks sum to 1. Dangling-node mass is redistributed
    uniformly each iteration (standard formulation — matches a dense
    numpy power iteration, pinned by test_graph_query.py). Float note:
    cross-partition sum order varies, so outputs are compared with
    tolerance (or rounded) — never hash-gated raw. Engine and size
    switch: :func:`_pagerank`."""
    return _pagerank(_unit_weights(edges), damping, n_iter, driver_max_edges)


def weighted_pagerank(
    edges: DataFrame,
    weight_col: str = "n_docs",
    damping: float = 0.85,
    n_iter: int = 20,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """PageRank where each edge's transition probability is proportional
    to its weight (w / Σw over the source's out-edges) → (id, rank).
    The KG-native ranking: edge weights carry EVIDENCE (``n_docs``
    supporting documents per canonical edge), so a fact attested by 40
    crawl pages pulls more rank than a one-off extraction. Duplicate
    (src, dst) rows sum their weights, and pairs whose sum is not
    positive are dropped, so a source with only zero-weight out-edges
    dangles. It IS :func:`pagerank` when every weight is equal (pinned
    by test)."""
    e = (
        edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .filter(F.col("w") > 0)
    )
    return _pagerank(e, damping, n_iter, driver_max_edges)


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[str],
    damping: float = 0.85,
    n_iter: int = 20,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Personalized PageRank from a seed set → (id, rank): the teleport
    vector is uniform over ``seeds`` instead of all nodes, so rank mass
    concentrates in the seeds' neighborhood — THE related-entities query
    a KG serving tier answers ("more like these"). Dangling mass also
    teleports to the seeds (standard formulation; ranks sum to 1).

    Seeds are DEDUPED up front and the teleport vector is uniform over
    the seeds PRESENT in the graph (absent seeds are dropped with the
    mass renormalized over the rest; all seeds absent or an empty seed
    list raises). Both paths share the same seed semantics.
    """
    if not seeds:
        raise ValueError("personalized_pagerank requires a non-empty seed set")
    return _pagerank(
        _unit_weights(edges), damping, n_iter, driver_max_edges, seeds=sorted(set(seeds))
    )


def pagerank_incremental(
    edges: DataFrame,
    prior_ranks: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-10,
    max_iter: int = 50,
    check_every: int = 3,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Warm-start PageRank for the monthly re-crawl: iterate from the
    PREVIOUS crawl's ranks instead of uniform, stopping at the L1
    convergence tolerance — an unchanged graph converges at the first
    delta check, and after an O(delta) edge change the cold-start
    transient is skipped (strictly fewer iterations, pinned in
    tests/test_graph_query.py; how much fewer depends on the graph's
    mixing rate vs the tolerance — the tail to tol dominates on
    well-mixed graphs).
    The fixpoint is start-independent (power iteration on a primitive
    chain), so warm output ≡ cold output within tolerance — this is an
    ACCELERATION, never an approximation drift. Completes the
    incremental family (dedup/semdedup/inverted-index/CC/graph-delta)
    for the rank column a KG serves.

    New nodes seed at 1/n; departed nodes drop; ranks renormalize to
    sum 1 before iterating. The driver path checks the delta every
    iteration (a check is free there); the distributed loop takes one
    1-row delta job every ``check_every`` iterations (the
    connected-components check cadence).
    """
    return _pagerank(
        _unit_weights(edges),
        damping,
        max_iter,
        driver_max_edges,
        prior=prior_ranks,
        tol=tol,
        check_every=check_every,
    )


def _unit_weights(edges: DataFrame) -> DataFrame:
    """The distinct directed pairs of ``edges``, each with weight 1."""
    return edges.select("src", "dst").distinct().withColumn("w", F.lit(1.0))


def _pagerank(
    e: DataFrame,
    damping: float,
    n_iter: int,
    driver_max_edges: int,
    seeds: list[str] | None = None,
    prior: DataFrame | None = None,
    tol: float | None = None,
    check_every: int = 1,
) -> DataFrame:
    """The one PageRank engine over ``e`` = (src, dst, w), unique pairs
    with w > 0 → (id, rank) summing to 1.

    The transition table (src, dst, p), p = w / Σw over the source's
    out-edges, is built once and pinned. Each iteration computes
    rank' = (1−d)·tp + d·dangling·tp + d·Σ rank·p, where ``dangling`` is
    the rank mass of nodes without out-edges and ``tp`` the teleport
    vector: 1/n uniform, or 1/k over the k ``seeds`` present in the
    graph. The start vector is ``tp``; with ``prior`` it is the prior
    ranks, new nodes at 1/n, renormalized. ``tol`` stops the iteration
    once the L1 delta drops below it.

    One size switch, checked BEFORE any collect: a transition table of
    at most ``driver_max_edges`` rows is collected and iterated by
    :func:`_power_kernel` (20 Spark jobs on a vocabulary-sized graph is
    all scheduler overhead); n ≤ 2m, so the edge bound also bounds the
    driver's node arrays. A larger table runs :func:`_power_loop`. All
    scratch sits under one ``pr_`` tag, and only the final rank vector
    survives the call. Path equivalence to 1e-9 is pinned by
    test_graph_query.py.
    """
    import uuid

    from pyspark.sql import Window

    from graphlab_spark.operators.scratch import cleanup_prefix, local_frame, materialize

    spark = e.sparkSession
    tag = f"pr_{uuid.uuid4().hex[:8]}"  # scratch scoped to this call
    trans = materialize(
        e.select(
            "src", "dst", (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p")
        ),
        f"{tag}_trans",
    )
    m = trans.count()
    if m == 0:
        cleanup_prefix(tag)
        return local_frame(spark, [], "id string, rank double")
    if m <= driver_max_edges:
        rows = trans.collect()
        cleanup_prefix(tag)
        return _pagerank_on_driver(spark, rows, damping, n_iter, seeds, prior, tol)

    # node pin (id, dang, s): dangling iff never a source; s marks the
    # teleport targets, so tp = s / Σs
    ends = trans.select(F.col("src").alias("id"), F.lit(False).alias("dang")).unionByName(
        trans.select(F.col("dst").alias("id"), F.lit(True).alias("dang"))
    )
    nodes = ends.groupBy("id").agg(F.min("dang").alias("dang"))
    if seeds is None:
        nodes = nodes.withColumn("s", F.lit(1.0))
    else:
        seed_df = local_frame(spark, [(v, 1.0) for v in seeds], "id string, s double")
        nodes = nodes.join(seed_df, "id", "left").fillna(0.0, ["s"])
    nodes = materialize(nodes, f"{tag}_nodes")
    k = nodes.agg(F.sum("s")).first()[0]
    if k == 0:
        cleanup_prefix(tag)
        raise ValueError("personalized_pagerank: no seed present in the graph")
    start = nodes.select("id", "dang", (F.col("s") / k).alias("tp")).withColumn(
        "rank", F.col("tp")
    )
    if prior is not None:
        seeded = start.join(
            prior.select("id", F.col("rank").alias("_prior")), "id", "left"
        ).select("id", "dang", "tp", F.coalesce("_prior", "tp").alias("rank"))
        total = F.broadcast(seeded.agg(F.sum("rank").alias("_t")))
        start = materialize(
            seeded.crossJoin(total).select(
                "id", "dang", "tp", (F.col("rank") / F.col("_t")).alias("rank")
            ),
            f"{tag}_init",
        )
    ranks = _power_loop(trans, start, damping, n_iter, tag, tol, check_every)
    cleanup_prefix(f"{tag}_trans")
    if ranks is not start:  # n_iter = 0 returns the start vector itself
        cleanup_prefix(f"{tag}_nodes")
        cleanup_prefix(f"{tag}_init")
    return ranks.select("id", "rank")


def _pagerank_on_driver(spark, rows, damping, n_iter, seeds, prior, tol) -> DataFrame:
    """:func:`_pagerank`'s driver path over the collected transition
    rows: index arrays over the sorted node ids (deterministic output
    order), the teleport and start vectors, then :func:`_power_kernel`."""
    import numpy as np

    from graphlab_spark.operators.scratch import local_frame

    ids = sorted({r.src for r in rows} | {r.dst for r in rows})
    pos = {v: i for i, v in enumerate(ids)}
    src = np.fromiter((pos[r.src] for r in rows), dtype=np.int64, count=len(rows))
    dst = np.fromiter((pos[r.dst] for r in rows), dtype=np.int64, count=len(rows))
    p = np.fromiter((r.p for r in rows), dtype=np.float64, count=len(rows))
    s = np.ones(len(ids))
    if seeds is not None:
        s = np.zeros(len(ids))
        s[[pos[v] for v in seeds if v in pos]] = 1.0
        if not s.any():
            raise ValueError("personalized_pagerank: no seed present in the graph")
    tp = s / s.sum()
    init = tp
    if prior is not None:
        # the prior may cover a much LARGER previous crawl than the
        # bounded new graph: semi-join it to the new node set before
        # the collect, so the driver pull is ≤ n rows
        init = tp.copy()
        nodes = local_frame(spark, [(v,) for v in ids], "id string")
        for r in prior.select("id", "rank").join(nodes, "id", "left_semi").collect():
            init[pos[r.id]] = r.rank
        init /= init.sum()
    ranks, _ = _power_kernel(src, dst, p, tp, init, damping, n_iter, tol)
    return local_frame(spark, list(zip(ids, ranks.tolist())), "id string, rank double")


def _power_kernel(src, dst, p, tp, init, damping, n_iter, tol=None):
    """The driver power iteration: SPARSE and vectorized over the edge
    index arrays ``src``/``dst`` with transition probabilities ``p``
    (one ``np.bincount`` per iteration — O(E), never a dense n×n), from
    ``init`` with teleport vector ``tp``; the same update as
    :func:`_power_loop`. With ``tol`` it stops at the first iteration
    whose L1 delta is below it. → (ranks, iterations run)."""
    import numpy as np

    n = len(tp)
    dangling = np.bincount(src, minlength=n) == 0
    r = init
    it = 0
    for it in range(1, n_iter + 1):
        nxt = (
            (1.0 - damping) * tp
            + damping * r[dangling].sum() * tp
            + damping * np.bincount(dst, weights=r[src] * p, minlength=n)
        )
        done = tol is not None and np.abs(nxt - r).sum() < tol
        r = nxt
        if done:
            break
    return r, it


def _power_loop(trans, start, damping, n_iter, tag, tol=None, check_every=1):
    """The distributed power iteration over the pinned transition table
    ``trans`` (src, dst, p) from ``start`` (id, dang, tp, rank) → the
    final rank frame, pinned to scratch.

    Each iteration is one join of the transition table with the rank
    vector on src (the rank frame is O(nodes) — orders of magnitude
    smaller than the edge table at web scale; AQE broadcasts it while it
    fits) + one partial-aggregated shuffle on dst, then the update with
    the dangling mass entering as a 1-row broadcast. Each iteration is
    pinned so lineage stays flat, and the previous one is reclaimed.
    There is no per-iteration driver sync: the only collect is the
    ``tol``-gated 1-row L1 delta against the last checked vector, every
    ``check_every`` iterations.
    """
    from graphlab_spark.operators.scratch import cleanup_prefix, materialize

    d = F.lit(damping)
    ranks = checked = start
    prev = checked_name = None
    for i in range(1, n_iter + 1):
        in_mass = (
            trans.join(ranks.select(F.col("id").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("in_mass"))
        )
        dangling = F.broadcast(
            ranks.filter("dang").agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        name = f"{tag}_it{i:04d}"
        ranks = materialize(
            ranks.select("id", "dang", "tp")
            .join(in_mass, "id", "left")
            .crossJoin(dangling)
            .select(
                "id",
                "dang",
                "tp",
                (
                    F.lit(1.0 - damping) * F.col("tp")
                    + d * F.col("_dm") * F.col("tp")
                    + d * F.coalesce("in_mass", F.lit(0.0))
                ).alias("rank"),
            ),
            name,
        )
        if prev != checked_name:  # the previous iteration is dead
            cleanup_prefix(f"{prev}-")
        prev = name
        if tol is not None and i % check_every == 0:
            delta = (
                ranks.join(checked.select("id", F.col("rank").alias("_r0")), "id")
                .agg(F.sum(F.abs(F.col("rank") - F.col("_r0"))))
                .first()[0]
            )
            if checked_name is not None:
                cleanup_prefix(f"{checked_name}-")
            checked, checked_name = ranks, name
            if delta is not None and delta < tol:
                break
    if checked_name not in (None, prev):
        cleanup_prefix(f"{checked_name}-")
    return ranks


def k_core(
    edges: DataFrame, k: int = 3, n_rounds: int | None = None
) -> DataFrame:
    """The k-core of the undirected distinct adjacency (self-loops
    excluded): iteratively peel nodes with degree < ``k`` until the
    fixpoint → (id, deg), deg measured WITHIN the surviving core.

    ``n_rounds=None`` runs to convergence with early stop (one bounded
    driver count per round — the BFS/CC loop discipline); a fixed
    ``n_rounds`` peels exactly that many synchronous rounds, the
    LPA-style contract that makes the operator SQL-mirrorable (the
    oracle unrolls the same rounds). The two agree whenever the graph
    converges within ``n_rounds`` — pinned for the frozen golden graph
    in tests.

    Scale shape: each round is one partial-aggregated degree groupBy +
    two semi-joins against the kept-node set (O(nodes), AQE broadcasts
    it while it fits); the shrinking edge frame is scratch-pinned per
    round so lineage stays flat. Peeling rounds on web graphs are few
    (degeneracy ordering converges in O(log n) synchronous rounds in
    practice).
    """
    import uuid

    from graphlab_spark.operators.scratch import cleanup_prefix, materialize

    tag = f"kcore_{uuid.uuid4().hex[:8]}"
    cur = undirected(edges).filter(F.col("src") != F.col("dst"))
    prev_nodes = -1
    i = 0
    while True:
        keep = (
            cur.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("id")
        )
        nxt = materialize(
            cur.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst"),
            f"{tag}_it{i:04d}",
        )
        if i:
            cleanup_prefix(f"{tag}_it{i - 1:04d}")
        cur = nxt
        i += 1
        if n_rounds is not None:
            if i >= n_rounds:
                break
        else:
            n_nodes = cur.select("src").distinct().count()
            if n_nodes == prev_nodes:
                break
            prev_nodes = n_nodes
    return cur.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def two_hop_paths(
    edges: DataFrame, pred1: str, pred2: str
) -> DataFrame:
    """Typed 2-hop motif match: distinct (src, mid, dst) with
    src -[pred1]-> mid -[pred2]-> dst. The basic graph-pattern query
    (Cypher ``(a)-[:P1]->(b)-[:P2]->(c)``) over the graph the reference
    materializes into Neo4j (`backend/app/utils/neo4j_client.py`).

    Scale shape: both predicate filters are plain column predicates, so
    they PUSH DOWN to the edge-table scan (a predicate-partitioned or
    bucketed edge table prunes to two slivers before any shuffle); the
    single join keys on the shared middle vertex — co-located if the
    edge table is bucketed by src (sources/bucketed.py), one hash
    exchange otherwise. Hub-vertex skew is bounded by filtering to one
    predicate per side first; genuinely hot mids go through
    operators/skew.salted_join with this same plan.
    """
    a = edges.filter(F.col("pred") == pred1).select(
        F.col("src"), F.col("dst").alias("mid")
    ).distinct()
    b = edges.filter(F.col("pred") == pred2).select(
        F.col("src").alias("mid"), F.col("dst")
    ).distinct()
    return a.join(b, "mid").select("src", "mid", "dst").distinct()


def adjacency_lists(
    edges: DataFrame,
    n_shards: int = 64,
    max_neighbors: int | None = None,
) -> DataFrame:
    """Sharded adjacency-list layout → ``(shard, src, degree,
    neighbors)`` with ``neighbors`` the '|'-joined SORTED distinct
    out-neighbor list — the CSR-ish table a GNN neighbor sampler or a
    serving tier reads (one shard = one sampler worker's slice).

    ``max_neighbors``: deterministic fan-out cap (every production
    sampler caps hub nodes): neighbors are ranked by md5(dst) — an
    unbiased, engine-portable pseudo-random order — and the first k are
    kept, then re-sorted for a canonical output. The cap bounds both
    output row width and downstream sampling cost on power-law hubs.

    Scale shape: ONE partial-aggregated groupBy(src); collect_list is
    bounded by max_neighbors (uncapped hubs are the caller's explicit
    choice); shard = md5-bucket of src so a shard's lists co-locate
    with a src-bucketed edge table (sources/bucketed.py) and each
    sampler worker reads exactly one bucket. Output order inside
    ``neighbors`` is canonical (sorted), so the table is byte-stable
    across runs and partitionings.
    """
    e = edges.select("src", "dst").distinct()
    # rank by the portable md5 order, cap, then canonical-sort
    pairs = e.groupBy("src").agg(
        F.array_sort(
            F.collect_list(F.struct(F.md5(F.col("dst")).alias("h"), F.col("dst")))
        ).alias("ranked")
    )
    if max_neighbors is not None:
        pairs = pairs.withColumn("ranked", F.slice(F.col("ranked"), 1, max_neighbors))
    return pairs.select(
        F.pmod(
            F.conv(F.substring(F.md5(F.col("src")), 1, 12), 16, 10).cast("long"),
            F.lit(n_shards),
        ).cast("int").alias("shard"),
        "src",
        F.size(F.col("ranked")).cast("int").alias("degree"),
        F.array_join(
            F.array_sort(F.transform(F.col("ranked"), lambda s: s["dst"])), "|"
        ).alias("neighbors"),
    )


def var_length_paths(edges: DataFrame, pred: str, max_len: int = 3) -> DataFrame:
    """Variable-length typed reachability — Cypher ``(a)-[:P*1..k]->(b)``
    → ``(src, dst, min_len)`` for every pair connected by 1..k hops of
    ``pred`` edges (min_len = shortest such chain).

    Plan: the predicate filter pushes to the edge scan; then EXACTLY
    ``max_len - 1`` frontier⋈edges equi-joins with an anti-join against
    the reached set (so a pair is emitted at its FIRST length — min by
    construction, no min() aggregate needed). The loop is fixed-length,
    so there are ZERO driver syncs (no convergence count()); lineage
    depth is bounded by ``max_len`` (a small constant — callers wanting
    unbounded closure use bfs_distances/connected_components, which pin
    scratch per round). Frontier dedup keeps fan-out ≤ |reachable
    pairs|, never multiplicities of paths.
    """
    e = (
        edges.filter(F.col("pred") == pred)
        .select("src", "dst")
        .distinct()
    )
    reach = e.withColumn("min_len", F.lit(1))
    frontier = reach.select("src", "dst")
    hop = e.select(F.col("src").alias("_m"), F.col("dst").alias("_d"))
    for length in range(2, max_len + 1):
        nxt = (
            frontier.join(hop, frontier["dst"] == hop["_m"])
            .select("src", F.col("_d").alias("dst"))
            .distinct()
        )
        new = nxt.join(reach.select("src", "dst"), ["src", "dst"], "left_anti")
        reach = reach.unionByName(new.withColumn("min_len", F.lit(length)))
        frontier = new
    return reach.select("src", "dst", F.col("min_len").cast("int").alias("min_len"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node over the undirected
    distinct edge set → ``(id, deg, triangles, coeff)`` for every node
    with degree ≥ 2 (the coefficient is undefined below that):
    ``coeff = 2·T(v) / (deg(v)·(deg(v)−1))``, rounded to 6 decimals for
    engine portability.

    Scale shape: reuses :func:`triangle_count`'s arboricity-bounded
    wedge enumeration (the only heavy work) plus one degree aggregate
    and one left join — zero-triangle nodes come out at coeff 0 rather
    than being dropped, because "no clustering" is the signal a
    community analysis actually reads."""
    und = undirected(edges)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    tri = triangle_count(edges)
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "id", "left")
        .fillna(0, ["triangles"])
        .select(
            "id",
            F.col("deg").cast("int").alias("deg"),
            F.col("triangles").cast("int").alias("triangles"),
            F.round(
                2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1)), 6
            ).alias("coeff"),
        )
    )


def match_pattern(
    edges: DataFrame,
    pattern: list[tuple[str, str | None, str]],
    bindings: dict[str, str] | None = None,
) -> DataFrame:
    """Conjunctive basic-graph-pattern match — the general form of the
    Cypher ``MATCH (a)-[:P1]->(b)-[:P2]->(c) ...`` queries the reference
    answers from Neo4j (`backend/app/utils/neo4j_client.py`):
    ``pattern`` is a list of triple patterns ``(var_a, pred, var_b)``
    (``pred=None`` matches any predicate; the same variable name means
    the same node everywhere, so cycles like ``(a,p1,b),(b,p2,a)`` are
    expressible); ``bindings`` pins variables to constants. Returns one
    column per variable in first-appearance order, one row per DISTINCT
    variable binding (set semantics, like ``two_hop_paths``).

    Scale shape: each triple pattern is a plain predicate filter, so it
    PUSHES DOWN to the edge scan (pred-partitioned or src-bucketed edge
    tables prune before any shuffle); constant bindings push down the
    same way; each step joins on the shared variables — hash equi-joins
    Catalyst/AQE can reorder and size. A triple sharing NO variable
    with the accumulated prefix is REFUSED (``ValueError``) — a
    disconnected pattern is a cross product, the one plan shape this
    module never emits. Hot intermediate variables go through
    operators/skew.salted_join with the same per-step frames.
    """
    if not pattern:
        raise ValueError("pattern must contain at least one triple")
    bindings = bindings or {}
    order: list[str] = []
    acc = None
    for va, pred, vb in pattern:
        t = edges if pred is None else edges.filter(F.col("pred") == pred)
        if va == vb:
            t = (
                t.filter(F.col("src") == F.col("dst"))
                .select(F.col("src").alias(va))
                .distinct()
            )
        else:
            t = t.select(F.col("src").alias(va), F.col("dst").alias(vb)).distinct()
        for v, const in bindings.items():
            if v in t.columns:
                t = t.filter(F.col(v) == const)
        for v in (va, vb):
            if v not in order:
                order.append(v)
        if acc is None:
            acc = t
        else:
            shared = [c for c in t.columns if c in acc.columns]
            if not shared:
                raise ValueError(
                    f"triple ({va}, {pred}, {vb}) shares no variable with "
                    "the preceding pattern prefix — reorder the pattern to "
                    "keep it connected (a disconnected pattern is a cross "
                    "product)"
                )
            acc = acc.join(t, shared)
    return acc.select(*order).distinct()
