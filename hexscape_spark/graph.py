"""Graph queries over the patches adjacency (derived operators, SURVEY §2.7).

The neighbours DataFrame IS the graph (vertices = patches, edges = shared
borders — notebooks/denmark_estonia.R:86-94).  Shortest hop distances are
iterative equi-joins bounded by the landscape diameter
(notebooks/network_distance.R:57,93-133); connected components use the
same iterative join shape.  kRing sets are pure cell arithmetic over
hexgrid.kring_offsets (the hex_kring_profile query), not graph joins.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import cached, materialise
from .geo import find


# edge-count bound for the in-memory BFS fast path: ~2M (node, next)
# pairs is a few tens of MB on the driver — the same explicit-cap
# bounded-driver pattern as habitat._HABITAT_DIM_CAP.  The distributed
# iterative path takes over beyond it.
BFS_LOCAL_EDGE_CAP = 2_000_000


def bfs_hops(edges: DataFrame, sources: DataFrame, max_hops: int = 32,
             src_col: str = "Index", dst_col: str = "Neighbour",
             local_edge_cap: int = BFS_LOCAL_EDGE_CAP) -> DataFrame:
    """Multi-source BFS: hop distance from any source to every reachable
    patch.  Replaces igraph::shortest.paths (notebooks/denmark_estonia.R:96).

    Two regimes (r5, the bfs latency item): a graph whose deduped edge
    list fits `local_edge_cap` is collected ONCE and solved with a
    driver-side adjacency BFS — one bounded collect instead of ~3 fixed
    job latencies per hop, which dominated wall time on any graph whose
    diameter exceeds a few hops (the sf0.01 landscape: 25+ hops, ~27 s
    of scheduler overhead for microseconds of actual BFS; now ~2 s).
    Larger graphs run the iterative distributed loop: each round one
    shuffle on the frontier only (frontiers shrink — AQE coalesces),
    materialised so round k never re-executes rounds 1..k-1.  Both
    regimes produce identical (node, hops) rows — hop distances are
    unique whatever the algorithm; the distributed path is pinned by
    test_bfs_distributed_path_matches_local."""
    # NULL endpoints are dropped ONCE, upstream of both regimes (ADVICE
    # r05): the driver fast path would otherwise expand adj[None], and
    # the distributed loop has the opposite quirk — a NULL `next` never
    # matches the visited ANTI-join (NULL ≠ NULL), so it would be
    # re-emitted at hop k.  An edge with a NULL end carries no
    # reachability either way.
    e = (edges.select(F.col(src_col).alias("node"),
                      F.col(dst_col).alias("next"))
         .where(F.col("node").isNotNull() & F.col("next").isNotNull())
         .distinct())
    with cached(e) as e:   # rounds must not replay the edge lineage
        if e.count() > local_edge_cap:
            visited = materialise(   # loop boundary: the round-0 frontier
                sources.select(F.col(src_col).alias("node"),
                               F.lit(0).alias("hops")).distinct())
            frontier = visited
            for hop in range(1, max_hops + 1):
                nxt = materialise(   # loop boundary: no replay of 1..k-1
                    frontier.join(e, on="node")
                    .select(F.col("next").alias("node"))
                    .distinct()
                    .join(visited.select("node"), on="node", how="left_anti")
                    .withColumn("hops", F.lit(hop)))
                if nxt.isEmpty():
                    break
                # loop boundary: the visited set of round k
                visited = materialise(visited.unionByName(nxt))
                frontier = nxt
            return visited
        from collections import defaultdict, deque
        adj = defaultdict(list)
        for r in e.collect():   # e is NULL-endpoint-free (filtered above)
            adj[r["node"]].append(r["next"])
    node_type = e.schema["node"].dataType
    hops = {}
    dq = deque()
    # NULL sources stay: the distributed path carries them in the
    # initial `visited` at hop 0 (they just never expand — the
    # equi-join drops NULL), and adj has no None key so the fast
    # path reproduces exactly that
    for r in sources.select(F.col(src_col).alias("node")).distinct() \
            .collect():
        if r["node"] not in hops:
            hops[r["node"]] = 0
            dq.append(r["node"])
    while dq:
        n = dq.popleft()
        if hops[n] >= max_hops:
            continue
        for m in adj.get(n, ()):
            if m not in hops:
                hops[m] = hops[n] + 1
                dq.append(m)
    from pyspark.sql.types import IntegerType, StructField, StructType
    schema = StructType([StructField("node", node_type),
                         StructField("hops", IntegerType())])
    # no sort: row order is irrelevant to a DataFrame, and NULL node
    # ids (tolerated by the distributed joins) would break a mixed-
    # type Python sort
    return edges.sparkSession.createDataFrame(list(hops.items()), schema)


def _union_find_min_labels(parent: dict, pairs) -> dict:
    """Path-halving union-find over arbitrary hashable ids: `parent`
    maps every node to itself on entry; returns {node: min id of its
    component} (None-id nodes label None — a singleton by the join
    semantics of the distributed loop).  The CC fast path, over the
    same union-find (geo.find) as habitat's tile labeller."""
    for x, y in pairs:
        rx, ry = find(parent, x), find(parent, y)
        if rx != ry:
            parent[ry] = rx
    groups: dict = {}
    for v in parent:
        groups.setdefault(find(parent, v), []).append(v)
    labels: dict = {}
    for members in groups.values():
        nn = [m for m in members if m is not None]
        m0 = min(nn) if nn else None
        for v in members:
            labels[v] = m0
    return labels


# edge/node count bound for the in-memory CC fast path — the same
# explicit-cap bounded-driver pattern as bfs_hops/_HABITAT_DIM_CAP.
# Covers the QUOTIENT graphs two-level grid CC produces (boundary-
# proportional, tiny); larger graphs take the iterative distributed
# loop.
CC_LOCAL_CAP = 2_000_000


def connected_components(edges: DataFrame, nodes: DataFrame,
                         a: str = "src", b: str = "dst",
                         max_rounds: int = 64,
                         local_cap: int = CC_LOCAL_CAP) -> DataFrame:
    """Distributed connected components over an arbitrary edge list
    (BIGINT node ids) -> (node, comp) where comp is the component's
    minimum node id.

    A graph whose deduped edge list AND vertex set both fit `local_cap`
    is collected once and solved with a driver-side union-find (r5 —
    the iterative loop pays ~4 fixed job latencies per round, which
    dominated the tiny quotient graphs habitat.grid_components feeds
    here); larger graphs run min-label propagation with pointer
    jumping: each round every node takes the min of its own and its
    neighbours' labels, then labels short-circuit through one
    label-of-label join — O(log diameter) rounds of pure equi-joins,
    each materialised so round k never replays rounds 1..k-1.
    Both regimes produce the identical min-node-id labelling (pinned by
    test_connected_components_regimes_agree).  This is the generic form
    of habitat.grid_components, which delegates here.

    `nodes` is the vertex set (single-column `node`), isolated vertices
    included; an edge with an endpoint outside it connects nothing.
    """
    # shared subtree: the gate count, the collect and the label seed
    nodes = materialise(nodes.select("node").distinct())
    # gate on the RAW pair count (no extra distinct shuffle just to
    # decide the regime — duplicates are harmless to a union-find, and a
    # raw count under the cap bounds the deduped count too); the edge
    # lineage runs once either way: into the collect below, or into the
    # symmetrised checkpoint of the distributed loop (r5 review — the
    # first cut checkpointed a deduped copy unconditionally)
    e = edges.select(F.col(a).alias("na"), F.col(b).alias("nb"))
    with ExitStack() as scope:
        if local_cap > 0:
            e = scope.enter_context(cached(e))
            if e.count() <= local_cap and nodes.count() <= local_cap:
                parent: dict = {r["node"]: r["node"]
                                for r in nodes.collect()}
                pairs = [(r["na"], r["nb"]) for r in e.collect()]
                # NULL endpoints and endpoints outside `nodes` mirror
                # the distributed loop's join semantics: NULL never
                # equi-joins and unlabelled endpoints drop, so such an
                # edge connects nothing
                labels = _union_find_min_labels(
                    parent, (p for p in pairs
                             if p[0] is not None and p[1] is not None
                             and p[0] in parent and p[1] in parent))
                node_type = nodes.schema["node"].dataType
                from pyspark.sql.types import StructField, StructType
                return edges.sparkSession.createDataFrame(
                    list(labels.items()),
                    StructType([StructField("node", node_type),
                                StructField("comp", node_type)]))
        sym = e.select(F.col("na").alias("node"), F.col("nb").alias("nbr"))
        # shared subtree: every round joins the symmetrised edges
        sym = materialise(sym.unionByName(
            sym.select(F.col("nbr").alias("node"),
                       F.col("node").alias("nbr"))).distinct())
    # loop boundary: the round-0 labels
    lab = materialise(nodes.select("node", F.col("node").alias("lab")))
    changed = -1                       # "never measured" (max_rounds < 1)
    for _ in range(max_rounds):
        nbr_min = (sym.join(lab.withColumnRenamed("node", "nbr"), on="nbr")
                   .groupBy("node").agg(F.min("lab").alias("nlab")))
        new = (lab.join(nbr_min, on="node", how="left")
               .select("node", F.least("lab", F.coalesce("nlab", "lab"))
                       .alias("lab")))
        # pointer jump: lab <- lab(lab)
        jump = lab.select(F.col("node").alias("lab"),
                          F.col("lab").alias("lab2"))
        # loop boundary: round k never replays rounds 1..k-1
        new = materialise(
            new.join(jump, on="lab", how="left")
            .select("node", F.least("lab", F.coalesce("lab2", "lab"))
                    .alias("lab")))
        changed = (new.withColumnRenamed("lab", "new_lab")
                   .join(lab, on="node")
                   .where(F.col("new_lab") != F.col("lab")).count())
        lab = new
        if changed == 0:
            break
    else:
        # a partially-merged labelling must be an error, never a silent
        # wrong answer (r4 ADVICE).  64 pointer-jumping rounds
        # is unreachable for any real graph (components of depth 2^64).
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} "
                "rounds")
    return lab.select("node", F.col("lab").alias("comp"))
