"""Iterative graph operators: connected components.

Near-dup pairs form a graph; cluster-level dedup policy (keep one
representative per component, audit cluster sizes) needs connected
components. This is the engine's iterative-algorithm class: a
driver-side loop over fully distributed steps — each iteration is
one join + aggregation, the driver only inspects a convergence
COUNT, never data.

Algorithm: min-label propagation. Every node starts labeled with
itself; each round, every node adopts the smallest label among
itself and its neighbors; stop when no label changed. Rounds needed
= graph diameter (small for near-dup clusters); ``max_iter`` bounds
pathological chains. For billion-edge graphs the same loop applies
with the edges bucketed/persisted by node — the alternating
large-star/small-star optimization drops in here without changing
the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    strict: bool = True,
) -> DataFrame:
    """(node, component) with component = min node id reachable.

    ``edges`` is undirected input (each pair once is enough).
    Isolated nodes don't appear (callers union them back with
    label = own id if needed).

    Raises if label propagation has not converged after ``max_iter``
    rounds (a graph with diameter > max_iter would otherwise return
    silently-wrong component labels); pass ``strict=False`` to accept
    the partial labeling instead (a warning is printed).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .cache()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .cache()
    )

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # localCheckpoint (eager) truncates the lineage each round —
        # without it the plan doubles per iteration and the analyzer
        # stack-overflows after ~10 rounds (cache() alone does NOT
        # truncate lineage for planning purposes).  Eager on purpose:
        # a lazy checkpoint materialized by the convergence count was
        # measured 2.3x SLOWER per round (r14: dedup_components
        # 3.5s -> 8.0s isolated at sf0.1) — the one-column count plan
        # materializes the marked RDD less efficiently than the eager
        # materialize job, so the "saved" job cost more than it saved
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                    "__changed"
                ),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    else:
        msg = (
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    return labels.select("node", F.col("label").alias("component"))


def canonical_map(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "n_chars",
) -> DataFrame:
    """Full dedup map ``(id, canonical_id)``: every document points
    at its cluster's KEPT representative.

    Production dedup keeps the BEST member of each near-dup cluster
    (longest / highest-quality), not the lowest id — this selects
    argmax(``rank_col``, ties by min id) per component, and maps
    singletons (docs in no component) to themselves. The output is
    the reusable artifact: filter ``id = canonical_id`` for the kept
    corpus, or join it onto downstream tables to re-point references
    at canonical docs. One window over components + one anti join —
    nothing scales with pair count.
    """
    from pyspark.sql import Window

    member = components.join(
        docs.select(F.col(id_col), F.col(rank_col)),
        components["node"] == F.col(id_col),
    ).select("component", F.col(id_col), F.col(rank_col))
    w = Window.partitionBy("component").orderBy(
        F.col(rank_col).desc(), F.col(id_col).asc()
    )
    canon = (
        member.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("component", F.col(id_col).alias("canonical_id"))
    )
    mapped = member.join(canon, "component").select(id_col, "canonical_id")
    singles = docs.join(
        components, docs[id_col] == components["node"], "left_anti"
    ).select(F.col(id_col), F.col(id_col).alias("canonical_id"))
    return mapped.unionByName(singles)


def bounded_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """(node, hops): minimum hop distance from any seed, hops ≤ max_hops.

    Frontier-based breadth-first search as a driver-side loop of
    distributed steps: each round joins only the NEW frontier against
    the edge list and anti-joins already-reached nodes, so every edge
    is traversed at most once per frontier membership — the textbook
    distributed BFS (Pregel's traversal pattern as DataFrame ops).
    The recursive-CTE equivalent without frontier dedup re-expands
    every path and goes exponential on dense graphs.

    ``edges`` is directed (callers symmetrize for undirected graphs);
    ``seeds`` holds distinct starting nodes in column ``node``.
    ``localCheckpoint`` truncates lineage per round (same reason as
    :func:`connected_components`); the loop exits early when the
    frontier empties, so max_hops only bounds the work.

    The edge list is materialized ONCE up front (localCheckpoint):
    every round is a separate action (the frontier checkpoint), and
    cross-action plans cannot share work — without this, an edge
    list derived from an expensive upstream (e.g. a fact-table
    self-join + distinct) is recomputed from scratch max_hops times.
    Same per-round reuse as ``_canonical_edges(checkpoint=True)`` in
    the peeling operators; at 100 TB this is the in-session analogue
    of the persisted bucketed edge table a standing graph would use.
    """
    if max_hops > 1:
        edges = edges.select(
            F.col(src).alias(src), F.col(dst).alias(dst)
        ).localCheckpoint()
    reached = seeds.select(F.col(node).alias("node")).distinct().withColumn(
        "hops", F.lit(0)
    ).localCheckpoint()
    frontier = reached.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges[src])
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(reached.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        # no checkpoint on the union: every input is already a
        # checkpointed frontier, so the union tree is max_hops deep
        # (bounded, shallow) and skipping the eager materialization
        # saves one Spark job per hop
        reached = reached.unionByName(nxt)
        frontier = nxt.select("node")
    return reached


def _canonical_edges(
    edges: DataFrame, src: str, dst: str, checkpoint: bool = False
) -> DataFrame:
    """Canonical undirected edge list (lo, hi): self-loops dropped,
    endpoints ordered, duplicates collapsed — the shared preamble of
    every pairwise-graph operator in this module. ``checkpoint``
    eagerly materializes it for operators that re-derive from it
    every iteration."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
    )
    return e.localCheckpoint() if checkpoint else e


def triangle_enumeration(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    checkpoint_edges: bool = False,
) -> DataFrame:
    """Every triangle in an undirected graph, as sorted id triples
    (node_a < node_b < node_c), each exactly once.

    Degree-ordered wedge closing (the MapReduce triangle-counting
    orientation, Cohen 2009 / Suri & Vassilvitskii WWW'11 — public
    algorithms): orient each edge from its (degree, id)-smaller
    endpoint to the larger, form wedges only at each edge's SOURCE,
    and close them against the oriented edge set. Orientation makes
    every max out-degree O(sqrt(m)) regardless of hub degrees, so the
    wedge join can't explode on skewed graphs the way id-ordered
    enumeration does (a celebrity node with degree d contributes d^2
    id-ordered wedges but only sqrt(m)^2 oriented ones).

    ``edges`` holds each undirected edge once in any order; self
    loops are dropped. Returns (node_a, node_b, node_c).

    ``checkpoint_edges`` eagerly materializes the canonical edge
    list before the degree/orientation/wedge cascade consumes it
    SIX times (deg union 2x, orientation join 1x, wedge self-join
    2x, closing join 1x) — without it every consumer recomputes the
    caller's full edge-derivation subtree (for the co-purchase
    queries: a lineitem self-join + count-distinct aggregate).
    Callers whose ``edges`` is already a materialized leaf (k_truss
    peeling rounds) keep the default False: the extra
    materialize-job per round costs more than recomputing cheap
    projections of an existing checkpoint."""
    e = _canonical_edges(edges, src, dst, checkpoint=checkpoint_edges)
    deg = (
        e.select(F.col("lo").alias("n"))
        .unionAll(e.select(F.col("hi").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    dl = deg.select(F.col("n").alias("lo"), F.col("d").alias("d_lo"))
    dh = deg.select(F.col("n").alias("hi"), F.col("d").alias("d_hi"))
    lo_first = (F.col("d_lo") < F.col("d_hi")) | (
        (F.col("d_lo") == F.col("d_hi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = (
        e.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("s"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("t"),
            F.when(lo_first, F.col("d_hi")).otherwise(F.col("d_lo")).alias("d_t"),
            F.when(lo_first, F.col("d_lo")).otherwise(F.col("d_hi")).alias("d_s"),
        )
    )
    w1 = oriented.select(
        F.col("s"), F.col("t").alias("y"), F.col("d_t").alias("d_y")
    )
    w2 = oriented.select(
        F.col("s"), F.col("t").alias("z"), F.col("d_t").alias("d_z")
    )
    # wedge (y, z) at source s, ordered by the same (degree, id) key
    wedges = w1.join(w2, "s").filter(
        (F.col("d_y") < F.col("d_z"))
        | ((F.col("d_y") == F.col("d_z")) & (F.col("y") < F.col("z")))
    )
    closed = wedges.join(
        oriented.select(F.col("s").alias("y"), F.col("t").alias("z")),
        ["y", "z"],
    )
    tri = F.array_sort(F.array("s", "y", "z"))
    return closed.select(
        tri[0].alias("node_a"), tri[1].alias("node_b"), tri[2].alias("node_c")
    )


def common_neighbor_candidates(
    edges: DataFrame,
    min_common: int = 2,
    src: str = "u",
    dst: str = "v",
    max_center_degree: int | None = None,
    checkpoint_edges: bool = False,
) -> DataFrame:
    """Link prediction by common-neighbor count: NON-adjacent node
    pairs sharing ≥ ``min_common`` neighbors, with the count — the
    "customers who bought X also bought Y" primitive (integer-exact,
    no log-weighted Adamic-Adar term whose float sum order could
    drift between engines).

    Open wedges are the complement of the triangle join, but their
    cost algebra is NOT: triangle enumeration can orient every edge
    from its (degree, id)-smaller endpoint because each triangle has
    exactly one all-out apex, which caps wedge formation at
    out-degree O(sqrt(m)). An open wedge y–s–z has no closing edge to
    recover from another orientation — a wedge whose center ``s``
    only has in-edges is visible at ``s`` alone — so EXACT counting
    must materialize all C(d, 2) wedge instances at every center: a
    degree-d hub inherently contributes d² intermediate rows, no
    orientation trick removes them (the output itself can contain the
    d² follower pairs).

    The scalable mitigation is therefore semantic, not physical:
    ``max_center_degree`` drops centers whose degree exceeds the cap
    BEFORE wedge formation, bounding the wedge join at
    O(m · max_center_degree) rows total. This is the standard
    recommender-system move — a common neighbor shared by everyone
    ("also bought the best-seller") carries no signal, so discarding
    ultra-popular centers changes scores only where they were least
    informative. The cap is a deterministic predicate on the degree
    table, so an oracle engine applying the same cap produces
    identical counts — callers at 100 TB pick a cap (e.g. 256) and
    encode it on both sides. ``None`` keeps exact semantics for
    small/pre-thresholded graphs.

    Returns (node_a, node_b, common_neighbors), node_a < node_b,
    each pair once.  ``checkpoint_edges`` materializes the canonical
    edge list once for its FOUR consumers (sym union 2x, the degree
    cap's aggregate input, the final anti join) — same rationale as
    :func:`triangle_enumeration`."""
    e = _canonical_edges(edges, src, dst, checkpoint=checkpoint_edges)
    sym = e.select(F.col("lo").alias("s"), F.col("hi").alias("n")).unionAll(
        e.select(F.col("hi").alias("s"), F.col("lo").alias("n"))
    )
    if max_center_degree is not None:
        keep = (
            sym.groupBy("s")
            .agg(F.count("*").alias("__deg"))
            .filter(F.col("__deg") <= F.lit(max_center_degree))
            .select("s")
        )
        # broadcast-able in the common case (few distinct nodes vs
        # wedge rows); Spark picks shuffle-hash/SMJ if it isn't
        sym = sym.join(keep, "s")
    w1 = sym.select("s", F.col("n").alias("y"))
    w2 = sym.select("s", F.col("n").alias("z"))
    wedges = (
        w1.join(w2, "s")
        .filter(F.col("y") < F.col("z"))
        .groupBy("y", "z")
        .agg(F.count("*").alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= min_common)
    )
    return wedges.join(
        e.select(F.col("lo").alias("y"), F.col("hi").alias("z")),
        ["y", "z"],
        "left_anti",
    ).select(
        F.col("y").alias("node_a"),
        F.col("z").alias("node_b"),
        "common_neighbors",
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 12,
    strict: bool = True,
) -> DataFrame:
    """The k-truss of an undirected graph: the maximal subgraph whose
    every edge participates in ≥ k-2 triangles WITHIN the subgraph —
    the standard cohesive-community primitive one notch stronger than
    connected components (Cohen 2008; public algorithm).

    Iterative peeling as a driver-side loop over distributed rounds
    with DELTA recomputation (r15): the degree-oriented triangle join
    (:func:`triangle_enumeration`, O(m^1.5) worst case, hub-safe)
    runs ONCE; each peeling round then only retires triangles that
    lost an edge (three anti-joins against the removed-edge set —
    small after round one, so they broadcast) and recounts support
    from the surviving triangle list (explode + groupBy, no wedge
    self-join). This is exact, not approximate: a triangle survives
    into round r iff all three of its edges survive, so the surviving
    list IS the triangle set of the current subgraph and the recount
    equals the full recomputation the loop used to run per round
    (pinned by the peeling tests; the full-recompute loop this
    replaces ran the whole wedge cascade every round).  Removal can
    break other edges' triangles, so the loop repeats until a round
    removes nothing. Rounds needed = peeling depth (small in
    practice); ``max_rounds`` bounds pathological chains and, like
    :func:`connected_components`, the default is to RAISE rather
    than return a silently-non-maximal subgraph. ``localCheckpoint``
    truncates lineage per round.

    Returns surviving edges as (node_a, node_b, support), node_a <
    node_b, support = triangle count in the final subgraph."""
    if max_rounds < 1:
        # the non-strict fallback below returns the last round's
        # `kept`, which is unbound if the loop never runs (ADVICE r6)
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    e = _canonical_edges(edges, src, dst, checkpoint=True)
    n_old = e.count()
    tri = triangle_enumeration(e, src="lo", dst="hi").localCheckpoint()
    for _ in range(max_rounds):
        # per-edge support from the current triangle list: each
        # triangle contributes one count to each of its three edges
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("node_a").alias("lo"),
                            F.col("node_b").alias("hi"),
                        ),
                        F.struct(
                            F.col("node_a").alias("lo"),
                            F.col("node_c").alias("hi"),
                        ),
                        F.struct(
                            F.col("node_b").alias("lo"),
                            F.col("node_c").alias("hi"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.lo", "e.hi")
            .groupBy("lo", "hi")
            .agg(F.count("*").alias("support"))
        )
        kept = (
            e.join(sup, ["lo", "hi"], "left")
            .withColumn("support", F.coalesce("support", F.lit(0)))
            .filter(F.col("support") >= F.lit(k - 2))
            .localCheckpoint()
        )
        n_new = kept.count()  # n_old carried from the previous round
        if n_new == n_old or n_new == 0:
            return kept.select(
                F.col("lo").alias("node_a"),
                F.col("hi").alias("node_b"),
                F.col("support").cast("bigint").alias("support"),
            )
        removed = e.join(kept.select("lo", "hi"), ["lo", "hi"], "left_anti")
        e = kept.select("lo", "hi")
        # retire triangles that lost an edge; the remainder is exactly
        # the triangle set of the new subgraph
        tri = (
            tri.join(
                removed.select(
                    F.col("lo").alias("node_a"), F.col("hi").alias("node_b")
                ),
                ["node_a", "node_b"],
                "left_anti",
            )
            .join(
                removed.select(
                    F.col("lo").alias("node_a"), F.col("hi").alias("node_c")
                ),
                ["node_a", "node_c"],
                "left_anti",
            )
            .join(
                removed.select(
                    F.col("lo").alias("node_b"), F.col("hi").alias("node_c")
                ),
                ["node_b", "node_c"],
                "left_anti",
            )
            .localCheckpoint()
        )
        n_old = n_new
    msg = f"k_truss did not converge in {max_rounds} peeling rounds"
    if strict:
        raise RuntimeError(msg)
    import warnings

    warnings.warn(msg, stacklevel=2)
    return kept.select(
        F.col("lo").alias("node_a"),
        F.col("hi").alias("node_b"),
        F.col("support").cast("bigint").alias("support"),
    )


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "u",
    dst: str = "v",
    one: int = 1_000_000,
    damp_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank over the symmetrized graph in INTEGER
    micro-units — every rank is a BIGINT multiple of 1/``one``, every
    per-edge contribution is ``rank DIV degree`` and the damped
    update is ``(100-damp)*one/100 + damp*sum DIV 100``: pure integer
    arithmetic, so sums are associative and the result is
    bit-identical on any engine and any partitioning (the float
    formulation's sum order would drift between engines — the same
    trick as the integer-quantized surprisal scores).

    Each iteration is one join (ranks → edges) + one aggregation
    (sum by destination) — the Pregel message pattern as DataFrame
    ops, lineage truncated per round. Undirected symmetrization means
    no dangling nodes (every node has out-degree ≥ 1). Returns
    (node, rank_micros)."""
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
            .filter(F.col("s") != F.col("d"))
        )
        .distinct()
        .localCheckpoint()
    )
    # checkpointed too: deg is re-derived from sym inside EVERY
    # round's action (the per-round ranks checkpoint) — materializing
    # the one-time degree aggregate saves a shuffle stage per round
    deg = sym.groupBy("s").agg(F.count("*").alias("deg")).localCheckpoint()
    base = int((100 - damp_pct) * one) // 100
    ranks = deg.select(
        F.col("s").alias("node"), F.lit(int(one)).cast("bigint").alias("r")
    ).localCheckpoint()
    for _ in range(iterations):
        contrib = (
            sym.join(deg, "s")
            .join(ranks, sym["s"] == ranks["node"])
            .select(
                F.col("d"),
                F.expr("r DIV deg").alias("c"),
            )
        )
        agg = contrib.groupBy(F.col("d").alias("node")).agg(
            F.sum("c").alias("m")
        )
        ranks = (
            deg.select(F.col("s").alias("node"))
            .join(agg, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({int(damp_pct)} * coalesce(m, 0L)) DIV 100"
                    )
                )
                .cast("bigint")
                .alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select("node", F.col("r").alias("rank_micros"))


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Fixed-iteration SYNCHRONOUS label propagation communities
    (Raghavan et al. 2007, made deterministic): every node starts
    labeled with itself; each round every node adopts the most
    frequent label among its neighbors, ties broken by SMALLEST
    label. Synchronous update + deterministic tie-break means the
    result is a pure function of the graph — no RNG, no visit order,
    no engine drift — at the cost of possible two-coloring
    oscillation on bipartite structures, which a FIXED iteration
    count turns into a well-defined (and oracle-twinnable) output
    rather than a nontermination hazard.

    Each round is one join (labels onto the symmetrized edge list) +
    one count aggregate + one argmax window partitioned by node —
    all shuffles on node ids, nothing scales with degree skew beyond
    the edge list itself. Returns (node, community) after
    ``iterations`` rounds."""
    from pyspark.sql import Window

    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("n"))
        .filter(F.col("s") != F.col("n"))
        .unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("n"))
            .filter(F.col("s") != F.col("n"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = sym.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint()
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(iterations):
        counts = (
            sym.join(labels, sym["n"] == labels["node"])
            .groupBy(F.col("s").alias("node"), F.col("label"))
            .agg(F.count("*").alias("c"))
        )
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
            .localCheckpoint()
        )
    return labels.select("node", F.col("label").alias("community"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 30,
    strict: bool = True,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node keeps degree ≥ k — the cheaper cousin of
    :func:`k_truss` (node-degree peeling instead of per-edge triangle
    support; Seidman 1983, public algorithm). Used as the standard
    pre-filter before expensive cohesion analysis: nodes outside the
    2-core can't be in any triangle, nodes outside the k-core can't
    be in any (k+1)-clique.

    Each peel round is one degree aggregate + one semi join on node
    ids (no wedge join at all), so rounds cost O(m) regardless of
    skew; rounds needed = peeling depth. Same convergence contract as
    the other iterative operators: raises after ``max_rounds`` rather
    than returning a non-maximal subgraph. Returns surviving edges as
    (node_a, node_b), node_a < node_b."""
    e = _canonical_edges(edges, src, dst, checkpoint=True)
    n_old = e.count()
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("lo").alias("n"))
            .unionAll(e.select(F.col("hi").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= F.lit(k)).select("n")
        kept = (
            e.join(keep.withColumnRenamed("n", "lo"), "lo", "left_semi")
            .join(keep.withColumnRenamed("n", "hi"), "hi", "left_semi")
            .select("lo", "hi")
            # eager on purpose: a lazy checkpoint materialized by the
            # convergence count below measured 1.7x slower per round
            # (r14: part_k_core 3.1s -> 5.1s; same effect as
            # connected_components)
            .localCheckpoint()
        )
        n_new = kept.count()  # n_old carried from the previous round
        e = kept
        if n_new == n_old or n_new == 0:
            return e.select(
                F.col("lo").alias("node_a"), F.col("hi").alias("node_b")
            )
        n_old = n_new
    msg = f"k_core did not converge in {max_rounds} peeling rounds"
    if strict:
        raise RuntimeError(msg)
    import warnings

    warnings.warn(msg, stacklevel=2)
    return e.select(F.col("lo").alias("node_a"), F.col("hi").alias("node_b"))
