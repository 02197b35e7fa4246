"""Graph operators over derived link graphs.

`duplicate_clusters` (operators/dedup.py) covers unweighted connected
components; this module adds weighted iterative propagation — PageRank —
in INTEGER arithmetic: floating-point PageRank can never be hash-gated
(the per-target contribution sum's value depends on reduction order), but
with ranks as scaled BIGINTs, integer-division contributions and exact
integer sums, every iteration is bit-identical in Spark, DuckDB and
anything else. The damping update is the classic 0.85 expressed as
integer ops: rank' = 0.15 * SCALE + (85 * sum(contrib)) div 100.

Scale posture: each iteration is one equi-join (ranks onto edges by src)
plus one map-side-partial groupBy on dst — the standard distributed
PageRank shape. Ranks are localCheckpoint()ed per round to cut the
growing lineage (same reasoning as dedup.duplicate_clusters). SCALE=1e6
keeps 85 * N * SCALE inside int64 for sandbox corpus sizes; a
trillion-document run would move the accumulator to DECIMAL(38,0) —
still exact, same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

RANK_SCALE = 1_000_000
HITS_ROUNDS = 2  # synchronous hub/authority rounds of hits_int
PAGERANK_ITERS = 3  # synchronous rounds of pagerank_int

# deterministic synthetic out-links per document (3 per node, self-loops
# possible and kept). The first two affine maps are bijections (uniform
# in-degree); `src % 10` funnels every node into ten hub targets, giving
# the in-degree skew that makes ranks non-constant — and makes the hubs
# genuine skew keys for the per-dst aggregation, which AQE handles.
# Shared verbatim with the DuckDB oracle (dialect-identical arithmetic).
LINK_RULES_SQL = ("(src * 7 + 1) % n", "(src * 13 + 2) % n", "src % 10")


def synth_link_graph(documents: DataFrame) -> DataFrame:
    """(src, dst) edges derived purely from doc ids via LINK_RULES_SQL.
    N comes from a broadcast 1-row count aggregate, not a driver collect,
    so the derivation stays declarative at any scale."""
    n_df = documents.agg(F.count(F.lit(1)).alias("n"))
    dsts = F.array(*[F.expr(rule) for rule in LINK_RULES_SQL])
    return (
        documents.select(F.col("doc_id").alias("src"))
        .crossJoin(F.broadcast(n_df))
        .select("src", F.explode(dsts).alias("dst"))
    )


def pagerank_int(nodes: DataFrame, edges: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Integer-exact PageRank after PAGERANK_ITERS synchronous iterations.

    rank_0 = SCALE for every node; each round every node sends
    rank div out_degree along each out-edge, and
    rank' = (15 * SCALE) div 100 + (85 * sum(incoming)) div 100.
    All BIGINT — the gate hashes exact values. Nodes without in-links hold
    the damping floor. Per round: one join + one aggregation."""
    base = F.lit(15 * RANK_SCALE // 100).cast("bigint")

    ids = nodes.select(F.col(key_col).alias("id"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # out-degree attached once; re-used every round (small vs the fact
    # join). Columnar persist (r7): same materialize-once guarantee as the
    # old localCheckpoint, shared across invocations in a session; the
    # frame is round-invariant INPUT, not loop state, so no lineage grows
    # through it (per-round state stays unmaterialized — fixed iterations)
    edges_deg = (
        edges.join(deg, "src")
        .select("src", "dst", "out_deg")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    ranks = ids.select("id", F.lit(RANK_SCALE).cast("bigint").alias("rank"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges_deg.join(ranks, edges_deg["src"] == ranks["id"])
            # `div`, never `/`: SQL `/` on BIGINTs is DOUBLE division, which
            # stops being exact past 2^53 — integer division never does
            .select("dst", F.expr("rank div out_deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("incoming"))
        )
        # NO per-round checkpoint: each round's ranks frame has exactly ONE
        # consumer (the next round), so nothing is ever re-derived — the
        # eager checkpoint only inserted a job barrier per round (A/B at
        # the 117-host scale: 1.98s -> 1.18s; the bounded iters=3 lineage
        # stays small). edges_deg above IS materialized: it feeds every
        # round.
        ranks = (
            ids.join(contrib, ids["id"] == contrib["dst"], "left")
            .select(
                "id",
                F.coalesce(F.col("incoming"), F.lit(0).cast("bigint")).alias("inc"),
            )
            .select("id", (base + F.expr("(85 * inc) div 100")).cast("bigint").alias("rank"))
        )
    return ranks.select(F.col("id").alias(key_col), F.col("rank").alias("rank_int"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over the UNDIRECTED simple graph implied
    by `edges` (direction, duplicates and self-loops dropped), via the
    degree-ordered node-iterator algorithm. Returns (vertex, n_triangles)
    for vertices in at least one triangle — exact integers, hash-gateable.

    Scale shape — the orientation is the whole algorithm: each undirected
    edge points from its (degree, id)-SMALLER endpoint to the larger, so
    every wedge is enumerated exactly once at its lowest-ordered corner
    and a vertex's out-neighborhood is O(sqrt(m)) even on power-law
    graphs (the hub's million edges all point INTO it; the wedge join
    never explodes on the hub key — the classic skew bound, Schank &
    Wagner / Suri & Vassilvitskii). Three equi-joins total: two to build
    wedges, one semi-join-shaped probe to close them; degrees ride along
    as columns so no rank assignment (and no global sort) is ever needed.

    Both multi-consumer frames materialize (localCheckpoint): `und` feeds
    the degree count plus two degree joins and `e` feeds both wedge sides
    plus the closing probe — without the checkpoints each consumer
    re-derived the whole upstream (r4 plan audit: 18 source scans for a
    3-join algorithm). Materializing the deduped/oriented edge list is the
    standard multi-pass triangle-count shape."""
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        und.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    fwd = F.struct("da", "a") < F.struct("db", "b")
    # persist, not checkpoint (r7): DAG-shaped multi-consumer frames — the
    # materialize-once property is what matters, and the cache is shared
    # across invocations in a session
    e = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    e1 = e.select(F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx"))
    e2 = e.select(F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = e1.join(e2, "u").where(F.struct("dx", "x") < F.struct("dy", "y"))
    closing = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    return (
        tri.select(F.explode(F.array("u", "x", "y")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def bfs_depth(
    edges: DataFrame,
    seed,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Breadth-first hop distance from `seed` over the edge table:
    (node, depth) for every reachable node. Iterative frontier expansion —
    each round joins the frontier to the edge list, anti-joins the
    visited set, and stops when the frontier empties; rounds = graph
    radius from the seed, lineage cut per round with localCheckpoint.
    RAISES if the frontier is still non-empty after 20 rounds (partial
    depths are silently wrong — the duplicate_clusters convergence
    contract). Undirected by default (edges symmetrized).

    Scale shape: per round, one join keyed on the frontier (small side)
    plus one anti-join against visited; the edge table is checkpointed
    once and reused every round."""
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    if not directed:
        e = e.union(edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d")))
    e = e.localCheckpoint()
    spark = edges.sparkSession
    from ..plans.localtable import literal_table

    seed_df = literal_table(spark, [(seed,)], f"node {dict(e.dtypes)['s']}")
    visited = seed_df.select("node", F.lit(0).alias("depth")).localCheckpoint()
    frontier = visited.select("node")
    for depth in range(1, 21):
        nxt = (
            e.join(frontier, e.s == frontier.node)
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            return visited
        visited = visited.union(nxt.select("node", F.lit(depth).alias("depth"))).localCheckpoint()
        frontier = nxt
    raise RuntimeError(
        "bfs_depth did not exhaust the reachable set within 20 rounds; "
        "partial depths would be silently wrong"
    )


def hits_int(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Integer-exact HITS (hubs & authorities) over `host` node ids after
    HITS_ROUNDS synchronous rounds — the second classic link-analysis recurrence next to
    pagerank_int, and a different update SHAPE (bipartite alternation:
    hubs aggregate over OUT-edges, authorities over IN-edges).

    a_0 = 1 for every node; each round h(u) = sum over u->v of a(v), then
    a(v) = sum over u->v of h(u). The textbook L2 normalization is a
    per-round monotone scalar — it never changes the ranking — so skipping
    it keeps every score an exact BIGINT and the whole recurrence
    hash-gateable (the integer-PageRank argument). Parallel edges keep
    their multiplicity. Magnitude: scores grow like (max degree)^(2*HITS_ROUNDS);
    2 rounds on a host graph stays far inside BIGINT.

    Scale shape: per round two edge joins + two map-side-partial
    aggregations, all keyed on node ids; edges localCheckpoint()ed once
    for the 2*HITS_ROUNDS reuses."""
    ids = nodes.select(F.col("host").alias("id"))
    e = edges.select("src", "dst").localCheckpoint()
    auth = ids.select("id", F.lit(1).cast("bigint").alias("a"))
    hub = None
    for _ in range(HITS_ROUNDS):
        hub = (
            e.join(auth, e["dst"] == auth["id"])
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
        )
        hub = (
            ids.join(hub, ids["id"] == hub["src"], "left")
            .select("id", F.coalesce("h", F.lit(0).cast("bigint")).alias("h"))
            .localCheckpoint()
        )
        auth = (
            e.join(hub, e["src"] == hub["id"])
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
        )
        auth = (
            ids.join(auth, ids["id"] == auth["dst"], "left")
            .select("id", F.coalesce("a", F.lit(0).cast("bigint")).alias("a"))
            .localCheckpoint()
        )
    return auth.join(hub, "id").select(
        F.col("id").alias("host"), F.col("h").alias("hub"), F.col("a").alias("authority")
    )
