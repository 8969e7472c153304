"""Graph metrics over the KG edge table: degrees, PageRank, component stats.

The reference computes these service-side over a Gremlin/Neptune graph
(``src/api/graph/metrics.py:190-255,431-760``, top-N influencers
``influence_network_analyzer.py:39-60``). Here they are iterative/keyed
DataFrame jobs over ``edges(src, dst)`` — no GraphFrames dependency, same
pattern as the CC operator (join + aggregate per round, localCheckpoint to
truncate lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degrees(edges: DataFrame) -> DataFrame:
    """(node_id, out_degree, in_degree, degree) over directed edges."""
    out_d = edges.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("node_id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node_id", "full")
        .select(
            "node_id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Power-iteration PageRank with dangling-mass redistribution:
    rank' = (1-α)/N + α·(Σ_in rank/out_deg + dangling_mass/N).

    Fixed iteration count → deterministic; each round is one join + one
    aggregation, checkpointed. Returns (node_id, rank), Σ rank = 1.
    """
    nodes = (
        edges.select(F.col("src").alias("node_id"))
        .union(edges.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], "node_id string, rank double")

    out_deg = edges.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        with_deg = ranks.join(out_deg, "node_id", "left")
        # dangling mass stays IN the plan as a broadcast 1-row aggregate:
        # a driver-side collect here would add a full job + sync barrier
        # per iteration — at cluster scale that doubles the job count.
        dangling = with_deg.filter(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
        )
        contrib = (
            edges.join(
                with_deg.filter(F.col("out_deg").isNotNull()),
                edges["src"] == with_deg["node_id"],
            )
            .select(
                F.col("dst").alias("node_id"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node_id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "node_id", "left")
            .crossJoin(F.broadcast(dangling))  # 1-row scalar join
            .select(
                "node_id",
                (
                    F.lit((1.0 - alpha) / n)
                    + F.lit(alpha)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("_dangling") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            # checkpoint EVERY round: an un-checkpointed round would
            # re-execute inside both branches (dangling + contrib) of the
            # next round's plan — one blocking materialization per round
            # is the cheaper trade at any scale
            .localCheckpoint(eager=True)
        )
    return ranks


def top_influencers(edges: DataFrame, k: int = 10, **pr_kwargs) -> DataFrame:
    """Top-N by PageRank (influence_network_analyzer.py:55-60)."""
    return (
        pagerank(edges, **pr_kwargs)
        .orderBy(F.desc("rank"), F.asc("node_id"))
        .limit(k)
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame | None = None,
    max_iter: int | None = None,
) -> DataFrame:
    """Unweighted shortest-path distances over the UNDIRECTED view of
    ``edges(src, dst)`` (the reference symmetrizes its adjacency,
    ``src/api/graph/metrics.py:449-450``) — multi-source BFS as iterative
    frontier joins, the Spark analog of ``_calculate_shortest_distances``
    (metrics.py:618-640).

    Returns ``(s, n, d)``: node ``n`` is ``d`` hops from source ``s``
    (including the ``d=0`` self row), for every source in ``sources``
    (default: every node → all-pairs).  ``sources`` is keyed on its
    FIRST column; sources absent from the edge set still get their
    ``(s, s, 0)`` self row instead of vanishing.  Each round is one
    equi-join on the frontier's node key + one anti-join against the
    visited set, localCheckpointed to truncate lineage; the loop stops
    at the graph's diameter (empty frontier).  ``max_iter`` is an
    OPTIONAL depth cap: when set, distances beyond it are silently
    absent — pass it only when a depth-bounded result is the intended
    semantics (e.g. to match a depth-bounded mirror), never as a
    convergence knob.

    Scale: all-pairs state is O(N·N) rows of three scalars — fine for
    entity/KG graphs (N = distinct entities, not corpus rows), but for a
    100×-bigger node set pass ``sources`` as a sampled/filtered node
    frame so state is O(|sources|·N); closeness over sampled sources is
    the standard estimator (Eppstein-Wang).  The frontier join shuffles
    on the node key both sides — AQE handles hub skew.
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if sources is not None:
        # keyed on the FIRST sources column; isolated sources (no edges)
        # are kept so they still emit their (s, s, 0) self row
        src_col = sources.columns[0]
        nodes = sources.select(F.col(src_col).alias("node_id")).distinct()
    else:
        nodes = und.select(F.col("src").alias("node_id")).distinct()
    visited = nodes.select(
        F.col("node_id").alias("s"), F.col("node_id").alias("n"), F.lit(0).alias("d")
    ).localCheckpoint(eager=True)
    frontier = visited
    depth = 0
    while max_iter is None or depth < max_iter:
        depth += 1
        nxt = (
            frontier.join(und, frontier["n"] == und["src"])
            .select("s", F.col("dst").alias("n"))
            .distinct()
            .join(visited.select("s", "n"), ["s", "n"], "left_anti")
            .withColumn("d", F.lit(depth))
            .localCheckpoint(eager=True)  # materialized: isEmpty + reuse
        )
        if nxt.isEmpty():
            break
        # plain union, NOT another checkpoint: every child frame is
        # already a materialized checkpoint, so the anti-join reads
        # cached blocks — one barrier per round instead of two
        visited = visited.union(nxt)
        frontier = nxt
    return visited


def centrality_stats(
    edges: DataFrame,
    sources: DataFrame | None = None,
    max_iter: int | None = None,
) -> DataFrame:
    """(node_id, closeness, betweenness, eigenvector) — the reference's
    three "simplified" per-node centralities (metrics.py:495-507), exact
    semantics, re-derived as set-level DataFrame jobs:

    * closeness (metrics.py:543-555): |reachable| / Σ dist — straight
      aggregation over :func:`bfs_distances`.
    * betweenness (metrics.py:513-542): the reference counts REACHABLE
      ordered pairs (s,t) avoiding v vs those also reaching through v.
      Undirected reachability ⇔ same connected component, so the double
      BFS loop collapses to a component-size formula: for v in a
      component of size c among components D,
      ``b(v) = (c-1)(c-2) / ((c-1)(c-2) + Σ_{D≠C} |D|(|D|-1))``
      (0 when the denominator is 0) — the O(n³) path probing becomes one
      groupBy over the component map.  The component map is derived from
      the BFS rows (min reachable id) ONLY when the BFS is provably
      exhaustive (all-pairs, no depth cap); with ``sources`` set or
      ``max_iter`` binding, partial/truncated reachability would
      silently mislabel components, so :func:`connected_components`
      supplies the map instead.
    * eigenvector (metrics.py:557-574): (deg(v) + 0.1·Σ_{u∈N(v)} deg(u))
      / n² over the undirected distinct-neighbor sets.  Summation is
      normalized to one multiply (the reference accumulates 0.1·deg
      per neighbor in set order — equal up to float associativity).

    All ratios rounded to 6 places.  Scale: BFS dominates (see
    bfs_distances); everything else is degree joins and component
    aggregations identical to the CC/PageRank shuffles.
    """
    dist = bfs_distances(edges, sources=sources, max_iter=max_iter)
    clo = (
        dist.filter(F.col("d") > 0)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("_nr"), F.sum("d").alias("_td"))
        .select(
            F.col("s").alias("node_id"),
            F.when(
                F.col("_td") > 0, F.col("_nr").cast("double") / F.col("_td")
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
        )
    )

    if sources is None and max_iter is None:
        # exhaustive all-pairs BFS ⇒ min reachable id IS the component id
        comp = dist.groupBy("s").agg(F.min("n").alias("component"))
        comp = comp.select(F.col("s").alias("node_id"), "component")
    else:
        from neuronews_spark.operators.clustering import connected_components

        comp = connected_components(edges)
    csize = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    tot = csize.agg(
        F.coalesce(
            F.sum(F.col("sz").cast("double") * (F.col("sz") - 1)), F.lit(0.0)
        ).alias("_t")
    )
    bet = (
        comp.join(csize, "component")
        .crossJoin(F.broadcast(tot))  # 1-row scalar join, as in pagerank
        .select(
            "node_id",
            F.col("sz").cast("double").alias("_c"),
            F.col("_t"),
        )
        .select(
            "node_id",
            F.when(
                (F.col("_c") - 1) * (F.col("_c") - 2)
                + F.col("_t")
                - F.col("_c") * (F.col("_c") - 1)
                > 0,
                (F.col("_c") - 1)
                * (F.col("_c") - 2)
                / (
                    (F.col("_c") - 1) * (F.col("_c") - 2)
                    + F.col("_t")
                    - F.col("_c") * (F.col("_c") - 1)
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("betweenness"),
        )
    )

    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = und.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    eig = (
        und.join(deg.withColumnsRenamed({"node_id": "src", "_deg": "_dsrc"}), "src")
        .join(deg.withColumnsRenamed({"node_id": "dst", "_deg": "_dnbr"}), "dst")
        .groupBy(F.col("src").alias("node_id"), F.col("_dsrc"))
        .agg(F.sum("_dnbr").alias("_nbr_deg"))
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "node_id",
            (
                (F.col("_dsrc") + 0.1 * F.col("_nbr_deg"))
                / (F.col("_n") * F.col("_n"))
            ).alias("eigenvector"),
        )
    )

    return (
        clo.join(bet, "node_id")
        .join(eig, "node_id")
        .select(
            "node_id",
            F.round("closeness", 6).alias("closeness"),
            F.round("betweenness", 6).alias("betweenness"),
            F.round("eigenvector", 6).alias("eigenvector"),
        )
    )


def component_stats(components: DataFrame) -> DataFrame:
    """Cluster-size distribution of a (node_id, component) table — the
    graph-health metric the reference exposes as component counts."""
    sizes = components.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_components")
    ).orderBy("size")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    undirected simple view of ``edges(src, dst)`` (self-loops dropped,
    duplicates/both-direction rows collapsed).  Returns
    ``(node_id, degree, triangles, clustering)`` with
    ``clustering = 2·T / (d·(d-1))`` and 0.0 when d < 2 — the reference
    exposes no triangle metric, but the KG-health suite (metrics.py's
    degree/centrality family) is exactly where clustering coefficient
    belongs, and it is the standard cohesion metric over co-occurrence
    graphs.

    Degree-ordered orientation (Schank & Wagner 2005; the standard
    distributed-triangle trick): every undirected edge {u, v} is
    directed from the endpoint with the smaller (degree, id) key, so
    each triangle is enumerated exactly once at its lowest-degree apex
    and the wedge self-join fans out in O(Σ out_deg²) = O(m^{3/2})
    total wedges instead of the O(Σ deg²) an unoriented join pays —
    on a power-law graph the hot node's wedge work collapses from
    d_max² to ~m, which is the difference between a plan that survives
    a 100× scale-up and one that dies on the first celebrity node.
    Shuffle inventory: degree groupBy, orientation join (edge ⋈ degree
    ×2, degree side is (node, count) — small), wedge self-join keyed on
    the apex, closure join keyed on the (v, w) edge pair, final
    explode+groupBy on node id.  All payloads are (id, int) pairs.
    """
    canon = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    deg = (
        canon.select(F.explode(F.array("a", "b")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("node_id").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node_id").alias("b"), F.col("degree").alias("_db"))
    # orient u→v from the smaller (degree, id) key; carry v's key so the
    # wedge join can order the two out-neighbors without re-joining deg
    before = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = (
        canon.join(da, "a")
        .join(db, "b")
        .select(
            F.when(before, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(before, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(before, F.col("_db")).otherwise(F.col("_da")).alias("_dv"),
        )
    )
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    v_before_w = (F.col("e1._dv") < F.col("e2._dv")) | (
        (F.col("e1._dv") == F.col("e2._dv")) & (F.col("e1.v") < F.col("e2.v"))
    )
    # wedge v ←u→ w with v ≺ w in orientation order ⇒ the closing edge,
    # if present, is oriented exactly v→w — one equi-join, no disjunction
    tri = (
        e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & v_before_w)
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
        .join(
            e3.select(F.col("e3.u").alias("y"), F.col("e3.v").alias("z")),
            ["y", "z"],
            "left_semi",
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node_id", "left")
        .select(
            "node_id",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0)).cast("double")
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def related_entities(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 2,
) -> DataFrame:
    """K-hop related-entity traversal — the distributed analog of the
    reference's ``GET /related_entities`` API (graph_routes.py:94-132 /
    knowledge_graph_routes.py:42-114, backed by
    ``get_related_entities(entity, max_depth)``): for every seed
    entity, every node within ``max_depth`` undirected hops, with its
    hop distance.

    The service answers one entity per request against Neptune; here
    ``seeds`` is a DataFrame (keyed on its first column) so ONE job
    answers the whole batch — the shape you want when enriching every
    entity of a corpus rather than paging an API.  Depth is the bounded
    semantics of the endpoint, so :func:`bfs_distances`' ``max_iter``
    carries the contract (self rows are dropped: the API never returns
    the queried entity).

    Returns ``(seed, node_id, hops)`` — ``hops`` = minimum distance,
    1 ≤ hops ≤ max_depth.  Scale: state is O(|seeds| · reachable-within-
    depth), each round one frontier equi-join + anti-join (see
    bfs_distances); hub skew lands on AQE.
    """
    dist = bfs_distances(edges, sources=seeds, max_iter=max_depth)
    return dist.filter(F.col("d") > 0).select(
        F.col("s").alias("seed"),
        F.col("n").alias("node_id"),
        F.col("d").alias("hops"),
    )
