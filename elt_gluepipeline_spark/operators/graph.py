"""Iterative graph analytics on DataFrames: PageRank (power
iteration), joining the connected-components operator (operators
.dedup) as the engine's second iterative-algorithm family.

Scale shape: each iteration is one equi-join (ranks onto edge
sources) plus one aggregation (contributions by destination) — the
canonical two-shuffle PageRank step; no driver-side state beyond the
loop counter, and ``localCheckpoint`` truncates the per-iteration
lineage so plan size stays constant in ``n_iter``.

Determinism discipline (the oracle contract): floating-point addition
is partition-order-dependent, AND engines disagree at ROUND(double)
boundaries — so each contribution snaps to an integer GRID
(floor(x·10¹² + ½), pure IEEE ops every engine evaluates
bit-identically) and sums as an exact BIGINT. The same grid-exact
idiom as the k-means centroid updates. Every remaining float op
(rank·w/outw, the damping update) is a fixed-shape IEEE expression,
so a DuckDB oracle replays the whole power iteration bit-for-bit with
no rounding step anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_GRID = 1_000_000_000_000.0     # 10^12: exactly representable; per-dst
                                # unit sums stay < 10^12 (total mass 1)
DAMPING = 0.85


def pagerank(edges: DataFrame, *, n_iter: int = 3,
             src: str = "src", dst: str = "dst", weight: str = "w",
             broadcast_ranks: bool = False) -> DataFrame:
    """Weighted PageRank over an edge list, damping ``DAMPING``;
    returns (node, rank).

    Nodes are the union of endpoints; a node's outgoing mass splits
    proportionally to edge weight. Dangling nodes (no out-edges)
    simply leak their mass — callers wanting the standard
    redistribution should add self-loops or make the graph symmetric
    (an undirected graph has no dangling nodes by construction).

    ``broadcast_ranks=True`` ships the rank vector to every executor
    each iteration, so the (large) edge table never shuffles — only
    the per-destination aggregation does. Right when the node set is
    bounded (a catalog, a vocabulary); leave False for web-scale node
    sets and let the join shuffle both sides.
    """
    # `edges` is NOT persisted although it is referenced 4x below
    # (nodes' two union branches, outw, the e-join probe side): an
    # interleaved same-session A/B on q145 measured the persisted
    # variant SLOWER in every pass (med 7.2 s vs 5.3 s): the cache
    # materialization serializes work that AQE otherwise overlaps, and
    # the persist write of the 2|pairs| weighted union costs more than
    # the saved re-evaluations at any size where the rank vector
    # broadcasts.
    nodes = (edges.select(F.col(src).alias("node"))
             .union(edges.select(F.col(dst).alias("node")))
             .distinct().localCheckpoint(eager=False))
    outw = edges.groupBy(src).agg(F.sum(weight).alias("_outw"))
    e = (edges.join(outw, src)
         .select(F.col(src).alias("_s"), F.col(dst).alias("_d"),
                 F.col(weight).alias("_w"), "_outw")
         .localCheckpoint(eager=False))
    n_frame = nodes.agg(F.count(F.lit(1)).alias("_n"))
    ranks = (nodes.crossJoin(F.broadcast(n_frame))
             .select("node", "_n",
                     (F.lit(1.0) / F.col("_n")).alias("rank")))
    base = F.lit(1.0 - DAMPING) / F.col("_n")  # python-float repr: the
    # oracle embeds repr(1 - DAMPING) so both engines use the same bits
    for _ in range(n_iter):
        rvec = ranks.select(F.col("node").alias("_s"), "rank")
        if broadcast_ranks:
            rvec = F.broadcast(rvec)
        contribs = (e.join(rvec, "_s")
                    .select("_d",
                            F.floor(F.col("rank") * F.col("_w")
                                    / F.col("_outw") * F.lit(_GRID)
                                    + F.lit(0.5))
                            .cast("long").alias("_c")))
        sums = contribs.groupBy("_d").agg(F.sum("_c").alias("_sum"))
        ranks = (ranks.join(sums, ranks["node"] == sums["_d"], "left")
                 .select("node", "_n",
                         (base + F.lit(DAMPING)
                          * (F.coalesce(F.col("_sum"), F.lit(0))
                             .cast("double") / F.lit(_GRID)))
                         .alias("rank")))
    # one lineage truncation at the end (the checkpointed `e` already
    # keeps each iteration's inputs flat; per-iteration checkpoints of
    # the small rank vector cost a blocking job each and buy nothing
    # at single-digit n_iter)
    return ranks.select("node", "rank").localCheckpoint(eager=False)


def pagerank_sql(*, n_iter: int = 3) -> str:
    """DuckDB twin of ``pagerank``: unrolled power-iteration CTEs over
    an ``edges(s, d, w)`` CTE the caller must define earlier in the
    WITH chain. Returns the CTE chain text (continuing that chain)
    ending in a SELECT of (node, rank)."""
    rest = repr(1.0 - DAMPING)
    parts = [f"""
nodes AS (SELECT DISTINCT node FROM (
  SELECT s AS node FROM edges UNION ALL SELECT d FROM edges)),
cnt AS (SELECT COUNT(*) AS n FROM nodes),
outw AS (SELECT s, SUM(w) AS ow FROM edges GROUP BY s),
r0 AS (SELECT node, 1.0 / cnt.n AS rank FROM nodes, cnt)"""]
    grid = repr(_GRID)
    for k in range(1, n_iter + 1):
        parts.append(f"""
c{k} AS (
  SELECT e.d, CAST(FLOOR(r.rank * e.w / o.ow * {grid} + 0.5) AS BIGINT)
           AS c
  FROM edges e JOIN r{k - 1} r ON e.s = r.node JOIN outw o ON e.s = o.s),
r{k} AS (
  SELECT n.node,
         {rest} / cnt.n + {DAMPING!r}
           * (CAST(COALESCE(s.sc, 0) AS DOUBLE) / {grid}) AS rank
  FROM nodes n CROSS JOIN cnt
  LEFT JOIN (SELECT d, CAST(SUM(c) AS BIGINT) AS sc FROM c{k} GROUP BY d) s
    ON n.node = s.d)""")
    body = ",".join(parts)
    return body + f"\nSELECT node, rank FROM r{n_iter}"


def triangle_counts(edges: DataFrame, *, src: str = "s",
                    dst: str = "d") -> DataFrame:
    """Per-node triangle counting over an UNDIRECTED edge list
    (``src < dst``, distinct), using DEGREE ORIENTATION — the
    standard scalable algorithm: orient every edge from its
    lower-(degree, id) endpoint to the higher one, so each node's
    out-degree is O(sqrt(m)) and the wedge join never explodes on
    hubs (a hub's triangles are enumerated from its low-degree
    neighbours, not from the hub). Wedges (u->v, u->w with v
    before w in the same total order) close into triangles iff the
    oriented edge v->w exists — a second equi-join, no cartesian.

    Output: (node, degree, n_triangles) — every node of the graph,
    zero-triangle nodes included.
    """
    # `e` is NOT persisted although it is referenced 3x building the
    # oriented cache (deg's two union branches + the ed probe side): an
    # interleaved same-session A/B on q157 measured the persisted
    # variant slower (med 7.9 s vs 7.2 s): the extra materialization
    # barrier costs more than the re-evaluations, which AQE runs as
    # overlapping subtrees inside the one oriented-cache build job.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    deg = (e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))

    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    ed = e.join(da, "a").join(db, "b")
    a_first = ((F.col("dega") < F.col("degb"))
               | ((F.col("dega") == F.col("degb"))
                  & (F.col("a") < F.col("b"))))
    # oriented feeds three consumers (both wedge sides + closure);
    # the persist keeps the upstream edge construction — often an
    # expensive distinct self-join — from re-running per consumer.
    # (NOT localCheckpoint: under AQE its toRdd conversion executes
    # the upstream stages at BUILD time; persist stays fully lazy.)
    # Registered with the operator-cache registry so harnesses can
    # release it between queries (an unregistered persist leaks).
    from ._cache import register_cache
    oriented = register_cache(ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("degb")).otherwise(F.col("dega"))
         .alias("degv")))

    o1 = oriented.select(F.col("u"), F.col("v").alias("x"),
                         F.col("degv").alias("degx"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"),
                         F.col("degv").alias("degy"))
    # wedge endpoints kept in the SAME (degree, id) total order so
    # each wedge is generated exactly once
    wedges = o1.join(o2, "u").filter(
        (F.col("degx") < F.col("degy"))
        | ((F.col("degx") == F.col("degy")) & (F.col("x") < F.col("y"))))
    closing = oriented.select(F.col("u").alias("x"),
                              F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("u", "x", "y")

    per_node = (tris.select(F.col("u").alias("node"))
                    .unionAll(tris.select(F.col("x").alias("node")))
                    .unionAll(tris.select(F.col("y").alias("node")))
                    .groupBy("node")
                    .agg(F.count(F.lit(1)).alias("n_triangles")))
    # The output's node/degree table is re-derived from the CACHED
    # oriented edges, not from `deg`: every edge appears in oriented
    # exactly once as (u, v) with {u, v} = {a, b}, so counting
    # endpoint appearances over oriented equals the original degree
    # count — while referencing `deg` here would re-run the whole
    # upstream edge construction (an expensive distinct self-join in
    # the co-purchase graph) a second time outside the cache.
    deg_out = (oriented.select(F.col("u").alias("node"))
                       .unionAll(oriented.select(F.col("v").alias("node")))
                       .groupBy("node")
                       .agg(F.count(F.lit(1)).alias("degree")))
    return (deg_out.join(per_node, "node", "left")
                   .select("node", "degree",
                           F.coalesce("n_triangles", F.lit(0)).cast("long")
                            .alias("n_triangles")))
