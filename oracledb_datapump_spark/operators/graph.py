"""Graph analytics: integer-quantized PageRank over the
customer-supplier transaction graph.

Nodes are customers and suppliers (supplier ids offset by SUPP_BASE to
disambiguate); an undirected edge connects each (customer, supplier)
pair that transacted (distinct over orders x lineitem). PageRank runs a
FIXED number of power iterations in exact integer arithmetic:

    pr_0(v)   = SCALE DIV N
    contrib   = pr(u) DIV deg(u)                 (per directed edge)
    pr_i+1(v) = (15*SCALE) DIV (100*N) + (85 * sum contribs) DIV 100

Every operation is int64 (sums < 2^53 by construction), so the result
is bit-identical in Spark and DuckDB — the same determinism recipe the
k-means operator uses to put an iterative algorithm inside the hard
hash gate. The DIV-based mass loss (< 1 unit per edge per round) is the
documented cost of exactness; rankings are unaffected.

Plan shape: the edge list is pinned once by a localCheckpoint that
also carries each edge's source degree (a window count over src, so no
degree table and no degree join) and observes N on the same job
(``functions.fixpoint.checkpoint_observed``: the number of src window
partitions), so the driver never runs a separate count. The window
costs one full shuffle and sort of the edges by src, where a
groupBy(src) count shuffles about one partial row per src per map
partition and is then broadcast-joined onto the edges; it saves two
Spark jobs. The checkpoint keeps that src partitioning and sort, so
when the rank join is a sort-merge join (graphs too big to broadcast)
it shuffles only the ranks, never the edges again. Iteration 1
needs no rank join, because every rank is SCALE DIV N; each later
iteration is one join (ranks onto the edge list on src) + one
groupBy(dst) sum, pinned by a localCheckpoint. The edge list is
symmetric, so every node is some edge's dst and the groupBy output is
the whole rank vector: no join against a node list. O(|E|) shuffle per
round, no driver data reads. At 100 TB-scale graphs the same plan
holds; skewed hub nodes are the known risk: the degree window sends a
hub's edges to one task with no map-side partial count (salt the src
key), while the groupBy(dst) sum keeps its partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.fixpoint import checkpoint_observed
from ..functions.local_table import values_df

PR_SCALE = 1_000_000_000
PR_ITERS = 3
SUPP_BASE = 10_000_000
PR_TOPK = 50


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("c"),
            (F.col("l_suppkey").cast("long") + SUPP_BASE).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node_id, pr): top-PR_TOPK nodes after PR_ITERS quantized power
    iterations; ties broken by node id."""
    # One pinned edge list carries each edge's source degree (a window
    # count over src: one edge shuffle and sort, which the rank joins
    # below reuse) and its checkpoint observes n as the number of src
    # partitions. Each checkpoint also cuts the lineage, so the final
    # plan stays one join + one agg regardless of PR_ITERS.
    by_src = Window.partitionBy("src").orderBy("dst")
    everything = by_src.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ed, obs = checkpoint_observed(
        _edges(spark, sf_dir).select(
            "src",
            "dst",
            F.count(F.lit(1)).over(everything).alias("deg"),
            (F.row_number().over(by_src) == 1).alias("first"),
        ),
        F.sum(F.col("first").cast("long")).alias("n"),
    )
    n = obs["n"]
    base = (15 * PR_SCALE) // (100 * n)
    # iteration 1 needs no rank join: every rank is PR_SCALE DIV n
    ranked = ed.select(
        "dst", "deg", F.lit(PR_SCALE // n).cast("long").alias("pr")
    )
    for _ in range(PR_ITERS):
        # _edges is symmetric, so every node is some edge's dst and the
        # groupBy(dst) output is the whole rank vector
        ranks = (
            ranked.groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("pr DIV deg")).alias("s"))
            .select(
                "node",
                (F.lit(base) + F.expr("85 * s DIV 100")).cast("long").alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
        ranked = ed.join(ranks, F.col("src") == F.col("node"))
    return (
        ranks.orderBy(F.desc("pr"), "node")
        .limit(PR_TOPK)
        .select(F.col("node").alias("node_id"), "pr")
    )


def _pagerank_sql() -> str:
    ctes = [
        f"""pairs AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
         CAST(l.l_suppkey AS BIGINT) + {SUPP_BASE} AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)""",
        """edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
)""",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "n AS (SELECT COUNT(*) AS n FROM nodes)",
        f"""r0 AS (
  SELECT node, CAST({PR_SCALE} // n.n AS BIGINT) AS pr FROM nodes, n
)""",
    ]
    for it in range(PR_ITERS):
        ctes.append(
            f"""m{it} AS (
  SELECT e.dst, SUM(r.pr // d.deg) AS s
  FROM edges e JOIN r{it} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{it + 1} AS (
  SELECT nd.node,
         CAST((15::BIGINT * {PR_SCALE}) // (100 * n.n)
              + (85::BIGINT * COALESCE(m.s, 0)) // 100 AS BIGINT) AS pr
  FROM nodes nd CROSS JOIN n LEFT JOIN m{it} m ON nd.node = m.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node AS node_id, pr FROM r{PR_ITERS}
ORDER BY pr DESC, node ASC
LIMIT {PR_TOPK}
"""
    )


PAGERANK_SQL = _pagerank_sql()


# ---------------------------------------------------------------------------
# triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------

TRI_MIN_CO_ORDERS = 3
TRI_TOPK = 20


def _co_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-supplier edges (a < b): supplier pairs that appear
    in at least TRI_MIN_CO_ORDERS common orders.

    r16 (guide §2.4): the pair stream is generated row-locally from one
    groupBy(orderkey)/collect_set — items per order is small and fixed,
    so each order's sorted supplier set expands to its < pairs inside
    the same stage — then one partial-aggregated pair groupBy. The old
    lineitem self-join on orderkey needed two exchanges of the distinct
    (orderkey, sk) stream plus both SMJ sorts for the same pair
    multiset; counts per (u, v) are identical either way."""
    per_order = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", F.col("l_suppkey").cast("long").alias("sk"))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("sk")).alias("sks"))
    )
    return (
        per_order.select(F.posexplode("sks").alias("i", "u"), "sks")
        .select(
            "u",
            F.explode(F.expr("slice(sks, i + 2, size(sks))")).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= TRI_MIN_CO_ORDERS)
        .select("u", "v")
    )


def _tri_graph(spark: SparkSession, sf_dir: str):
    """(degree df, per-node triangle-corner counts df) of the
    co-supplier graph — the shared state behind triangle_participation
    and pipeline59's clustering coefficient.

    The classic scale-safe formulation: orient every undirected edge
    from the lower-(degree, id) endpoint to the higher, so each
    triangle is counted exactly once and the wedge join's fan-out per
    node is bounded by its OUT-degree — O(sqrt(|E|)) after orientation
    even for power-law graphs (the hub's edges all point outward from
    its low-degree neighbors). Plan: wedges = oriented ⋈ oriented on
    the shared source, closed by one more join against the oriented
    edge list; per-node counts explode each triangle to its 3 corners.
    The synthetic corpus's co-supplier graph is near-complete (random
    order assignment) — real co-occurrence graphs are sparse; the
    orientation bound is what matters at scale.
    """
    # localCheckpoint (not persist): the edge list feeds the degree agg,
    # two orientation joins, and three wedge-join aliases — with plain
    # persist the optimizer still re-plans the full lineitem self-join
    # lineage under each consumer (r4 plan audit: 62 exchanges / 30
    # scans); truncating lineage here collapses the plan the way
    # pagerank's per-round checkpoint does.
    edges = _co_supplier_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    # orient low (deg, id) -> high (deg, id)
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    ).localCheckpoint(eager=True)
    # r16 note: an adjacency-array rewrite (attach N+(s)/N+(t) arrays to
    # each oriented edge, close triangles row-locally via
    # array_intersect so the Σ outdeg² wedge stream never crosses an
    # exchange) was A/B-measured same-JVM at sf0.1 and REJECTED:
    # clustering_coefficient_topk 10.1 s → 14.4 s (1.43×),
    # triangle_participation 11.8 s → 13.5 s (1.15×). On this
    # near-complete graph the per-edge hash-set build/probe inside
    # array_intersect (~2·outdeg ops) plus duplicating one fat
    # adjacency array per edge through the second join's exchange cost
    # more than the wedge SMJ it removed — AQE already plans the small
    # post-shuffle edge side of the closing join efficiently. The wedge
    # formulation below stands (OPTIMIZATION_r16.md).
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tris = (
        e1.join(
            e2,
            (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
        )
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.t")) & (F.col("e3.t") == F.col("e2.t")),
        )
        .select(
            F.col("e1.s").alias("x"), F.col("e1.t").alias("y"), F.col("e2.t").alias("z")
        )
    )
    corners = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("suppkey"))
        .groupBy("suppkey")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg, corners


def triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(suppkey, n_triangles): the TRI_TOPK suppliers belonging to the
    most triangles in the co-supplier graph (ties by suppkey asc).

    The classic scale-safe formulation: orient every undirected edge
    from the lower-(degree, id) endpoint to the higher, so each
    triangle is counted exactly once and the wedge join's fan-out per
    node is bounded by its OUT-degree — O(sqrt(|E|)) after orientation
    even for power-law graphs (the hub's edges all point outward from
    its low-degree neighbors). Plan: wedges = oriented ⋈ oriented on
    the shared source, closed by one more join against the oriented
    edge list; per-node counts explode each triangle to its 3 corners
    (shared with the clustering coefficient via _tri_graph)."""
    _deg, corners = _tri_graph(spark, sf_dir)
    return corners.orderBy(
        F.desc("n_triangles"), F.asc("suppkey")
    ).limit(TRI_TOPK)


TRIANGLE_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, CAST(l_suppkey AS BIGINT) AS sk FROM lineitem
), edges AS (
  SELECT a.sk AS u, b.sk AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.sk < b.sk
  GROUP BY a.sk, b.sk
  HAVING COUNT(*) >= {TRI_MIN_CO_ORDERS}
), deg AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
  ) GROUP BY n
), oriented AS (
  SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS t
  FROM edges e
  JOIN deg du ON du.n = e.u
  JOIN deg dv ON dv.n = e.v
), tris AS (
  SELECT e1.s AS x, e1.t AS y, e2.t AS z
  FROM oriented e1
  JOIN oriented e2 ON e1.s = e2.s AND e1.t < e2.t
  JOIN oriented e3 ON e3.s = e1.t AND e3.t = e2.t
), corners AS (
  SELECT unnest([x, y, z]) AS suppkey FROM tris
)
SELECT suppkey, COUNT(*) AS n_triangles
FROM corners
GROUP BY suppkey
ORDER BY n_triangles DESC, suppkey ASC
LIMIT {TRI_TOPK}
"""


# ---------------------------------------------------------------------------
# market-basket association (integer lift)
# ---------------------------------------------------------------------------

LIFT_MIN_CO = 3
LIFT_TOPK = 25
LIFT_SCALE = 1_000_000


def basket_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(supp_a, supp_b, co_orders, lift_q): the LIFT_TOPK supplier pairs
    most over-represented in shared orders — association-rule mining's
    lift, kept integral: lift_q = (co * N * 1e6) div (n_a * n_b), i.e.
    P(a,b)/(P(a)P(b)) scaled to ppm with exact integer arithmetic (no
    log/float, so the ranking hash-matches DuckDB bit for bit).

    Plan: one distinct projection of lineitem, one bounded self-join per
    order (items/order is small), two broadcast joins for the per-item
    order counts and the scalar N. The pair stream is the only large
    shuffle; min-support (co >= {LIFT_MIN_CO}) prunes before ranking.
    At 100 TB this is the standard frequent-pair pass of Apriori with
    support pruning."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", F.col("l_suppkey").cast("long").alias("sk"))
        .distinct()
    )
    n_orders = li.select(F.countDistinct("l_orderkey").alias("n"))
    per_item = li.groupBy("sk").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.sk") < F.col("b.sk")),
        )
        .groupBy(F.col("a.sk").alias("supp_a"), F.col("b.sk").alias("supp_b"))
        .agg(F.count(F.lit(1)).alias("co_orders"))
        .filter(F.col("co_orders") >= LIFT_MIN_CO)
    )
    na = per_item.select(F.col("sk").alias("supp_a"), F.col("n_item").alias("n_a"))
    nb = per_item.select(F.col("sk").alias("supp_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "supp_a")
        .join(F.broadcast(nb), "supp_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "supp_a",
            "supp_b",
            "co_orders",
            F.expr(
                f"CAST((co_orders * n * CAST({LIFT_SCALE} AS BIGINT))"
                " div (n_a * n_b) AS BIGINT)"
            ).alias("lift_q"),
        )
        .orderBy(F.desc("lift_q"), F.asc("supp_a"), F.asc("supp_b"))
        .limit(LIFT_TOPK)
    )


BASKET_LIFT_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, CAST(l_suppkey AS BIGINT) AS sk FROM lineitem
), n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
per_item AS (SELECT sk, COUNT(*) AS n_item FROM li GROUP BY sk),
pairs AS (
  SELECT a.sk AS supp_a, b.sk AS supp_b, COUNT(*) AS co_orders
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.sk < b.sk
  GROUP BY a.sk, b.sk
  HAVING COUNT(*) >= {LIFT_MIN_CO}
)
SELECT p.supp_a, p.supp_b, p.co_orders,
       CAST((p.co_orders * n.n * {LIFT_SCALE}) // (na.n_item * nb.n_item)
            AS BIGINT) AS lift_q
FROM pairs p
JOIN per_item na ON na.sk = p.supp_a
JOIN per_item nb ON nb.sk = p.supp_b
CROSS JOIN n_orders n
ORDER BY lift_q DESC, supp_a ASC, supp_b ASC
LIMIT {LIFT_TOPK}
"""


# ---------------------------------------------------------------------------
# BFS reachability layers (iterative frontier expansion)
# ---------------------------------------------------------------------------

BFS_SEED = 1  # customer node (custkey space; suppliers live at +SUPP_BASE)
BFS_DEPTH = 3


def bfs_reach_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(layer, n_nodes): breadth-first reachability from customer
    {BFS_SEED} over the customer–supplier co-order graph — how many new
    nodes each hop reaches (layer 0 = the seed). The supply-chain
    blast-radius question ("how far does a bad supplier propagate?") as
    an iterative frontier expansion.

    Plan: per hop, frontier ⋈ edges → distinct → anti-join visited,
    localCheckpointed so the lineage stays one-join deep regardless of
    depth (same device as pagerank's power iterations). The frontier
    and visited sets are node-id frames — at 100 TB the joins shuffle
    by node id and the DISTINCT is the standard BFS dedup; no
    path enumeration ever happens (the naive recursive-CTE formulation
    enumerates paths and explodes combinatorially — the oracle
    deliberately unrolls per-layer instead, computing the same layer
    sets)."""
    edges = _edges(spark, sf_dir).localCheckpoint(eager=True)
    seed = values_df(spark,
        [(BFS_SEED,)], "node long"
    ).select(F.col("node"), F.lit(0).alias("layer"))
    visited = seed.localCheckpoint(eager=True)
    frontier = visited.select("node")
    for k in range(1, BFS_DEPTH + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(k).alias("layer"))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    counts = visited.groupBy("layer").agg(F.count(F.lit(1)).alias("n_nodes"))
    # emit every layer 0..BFS_DEPTH even when BFS saturates early (an empty
    # layer-k frontier would otherwise drop the row while the oracle's
    # per-layer UNION ALL of COUNT(*) always emits (k, 0))
    all_layers = spark.range(BFS_DEPTH + 1).select(
        F.col("id").cast("int").alias("layer")
    )
    return (
        all_layers.join(counts, "layer", "left")
        .select("layer", F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"))
        .orderBy("layer")
    )


def _bfs_sql() -> str:
    ctes = [
        f"""pairs AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
         CAST(l.l_suppkey AS BIGINT) + {SUPP_BASE} AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)""",
        """edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
)""",
        f"l0 AS (SELECT CAST({BFS_SEED} AS BIGINT) AS node)",
    ]
    seen = ["l0"]
    for k in range(1, BFS_DEPTH + 1):
        prev = f"l{k - 1}"
        not_in = " AND ".join(
            f"e.dst NOT IN (SELECT node FROM {s})" for s in seen
        )
        ctes.append(
            f"""l{k} AS (
  SELECT DISTINCT e.dst AS node FROM edges e
  WHERE e.src IN (SELECT node FROM {prev}) AND {not_in}
)"""
        )
        seen.append(f"l{k}")
    counts = "\nUNION ALL\n".join(
        f"SELECT {k} AS layer, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM l{k}"
        for k in range(BFS_DEPTH + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT layer, n_nodes FROM ({counts})\nORDER BY layer"
    )


BFS_REACH_LAYERS_SQL = _bfs_sql()
