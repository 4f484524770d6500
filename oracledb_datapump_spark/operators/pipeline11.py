"""Pipeline dashboards, batch 12: iterative connected components, an
l-diversity privacy audit, and a temperature-scaled epoch/mixture plan.

Extension operators past the reference surface (the reference delegates
all query processing to Oracle SQL; SURVEY.md §2 maps its operator
inventory) — these are the data-management queries a 100 TB training-
data pipeline runs between ingest and tokenization:

- ``connected_components_sizes``: exact connected components of the
  sparse customer-part co-purchase graph by large-star/small-star
  contraction (``functions.fixpoint.star_components``, the package's one
  connected-components loop; dedup.dedup_groups and
  pipeline68.dedup_medoid_select run the same loop over near-dup
  edges). Iterative-until-fixpoint
  under the hard value hash: the DuckDB oracle derives the identical
  components with a recursive CTE (min reachable node id), so the
  Spark loop's convergence is checked bit-exactly, not just row counts.
- ``l_diversity_report``: the sensitive-attribute companion to
  privacy.k_anonymity_report — k-anonymity bounds re-identification,
  l-diversity bounds attribute disclosure (a k-anonymous group whose
  every member shares one market segment still leaks the segment).
- ``epoch_mix_plan``: the LLM data-mixing staple — temperature-scaled
  source weights (w_s ∝ tokens_s^(1/2), the alpha=0.5 upsampling used
  to keep small high-quality sources from drowning) with an epoch cap,
  all in integer arithmetic so the plan is bit-identical cross-engine.

Scale notes per operator in the docstrings; the one loop is O(log n)
rounds of keyed shuffles with localCheckpoint lineage cuts, never row
collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.fixpoint import star_components

# -- connected components ----------------------------------------------------

CC_QTY = 50  # only max-quantity lines: ~2% of lineitem, scale-invariant
CC_PART_BASE = 1 << 40  # part node ids, disjoint from custkeys at any SF


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (c, p) edges of the sparse customer—part co-purchase
    graph, one row per edge: an edge connects a customer to every part
    they ordered at the maximum line quantity ({CC_QTY}). The quantity
    filter keeps ~2% of lineitem at every scale while the part side
    stays larger than the edge count, so the graph has REAL component
    structure (hundreds of non-trivial components) instead of one
    supplier-hub giant — the regime where component discovery is the
    interesting question. Part ids offset by CC_PART_BASE into the
    shared node space."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_quantity") == CC_QTY
    ).select("l_orderkey", "l_partkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("c"),
            (F.col("l_partkey").cast("long") + CC_PART_BASE).alias("p"),
        )
        .distinct()
    )


def connected_components_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(component_size, n_components): exact connected components of the
    sparse customer-part co-purchase graph (max-quantity lines only),
    reported as a size histogram. A component's id is its minimum node
    id — exactly the "min reachable node" the oracle's recursive CTE
    computes, so an unconverged loop hash-mismatches.

    Plan: ``functions.fixpoint.star_components`` contracts the edge list
    to per-component stars by alternating large-star/small-star rounds
    (Kiveris et al., SoCC'14; O(log n) rounds, where min-label
    propagation needs O(diameter)). Each round is one eager
    localCheckpoint whose Observation carries the convergence witness,
    so the driver never reads rows and never runs a separate witness
    action. At the fixpoint every non-root node has one edge to its
    component's root, so the histogram is two groupBys over that edge
    set. At 100 TB each round shuffles the edge set three times (two
    per-node windows and a distinct); hub nodes lose the map-side
    partial min a groupBy would give them (see star_components)."""
    edges = _cc_edges(spark, sf_dir)
    stars = star_components(edges, "connected_components_sizes")
    return (
        stars.groupBy("v")
        .agg((F.count(F.lit(1)) + F.lit(1)).cast("long").alias("component_size"))
        .groupBy("component_size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("component_size")
    )


CONNECTED_COMPONENTS_SIZES_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
         CAST(l.l_partkey AS BIGINT) + {CC_PART_BASE} AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_quantity = {CC_QTY}
),
edges AS (
  SELECT c AS src, p AS dst FROM pairs
  UNION ALL
  SELECT p AS src, c AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(start, node) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.start, e.dst FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT start AS node, MIN(node) AS root FROM reach GROUP BY start),
sizes AS (SELECT root, COUNT(*) AS component_size FROM comp GROUP BY root)
SELECT component_size, CAST(COUNT(*) AS BIGINT) AS n_components
FROM sizes GROUP BY component_size
ORDER BY component_size
"""


# -- l-diversity -------------------------------------------------------------

LDIV_BAND_CENTS = 100_000  # $1000 balance bands (k_anonymity's ladder)
LDIV_L = 3  # groups with < 3 distinct segments leak the attribute


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_distinct, n_groups, n_rows, at_risk): the l-diversity audit of
    the customer table — quasi-identifier (nation, $1000 balance band),
    sensitive attribute c_mktsegment. For each distinct-sensitive-count
    l, how many QI groups and rows carry it; ``at_risk`` marks groups
    below l={LDIV_L}, where an attacker who re-identifies the GROUP
    learns the segment with high confidence even if k-anonymity holds
    (privacy.k_anonymity_report bounds the other attack). min(l) is the
    table's l-diversity.

    Plan: groupBy(QI) with countDistinct(sensitive), then a
    count-of-counts reduce — two keyed shuffles, scan-bound at 100 TB
    (the QI cardinality, not the row count, sizes the second stage)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    band = F.expr(
        f"CAST(floor(c_acctbal * 100) AS LONG) div {LDIV_BAND_CENTS}"
    )
    groups = c.groupBy(
        F.col("c_nationkey").cast("long").alias("nation"),
        band.alias("bal_band"),
    ).agg(
        F.countDistinct("c_mktsegment").alias("l_distinct"),
        F.count(F.lit(1)).alias("n_rows_g"),
    )
    return (
        groups.groupBy("l_distinct")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_rows_g").cast("long").alias("n_rows"),
        )
        .select(
            "l_distinct",
            "n_groups",
            "n_rows",
            (F.col("l_distinct") < LDIV_L).alias("at_risk"),
        )
        .orderBy("l_distinct")
    )


L_DIVERSITY_REPORT_SQL = f"""
WITH g AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nation,
         CAST(floor(c_acctbal * 100) AS BIGINT) // {LDIV_BAND_CENTS} AS bal_band,
         COUNT(DISTINCT c_mktsegment) AS l_distinct,
         COUNT(*) AS n_rows_g
  FROM customer GROUP BY 1, 2
)
SELECT l_distinct, CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_rows_g) AS BIGINT) AS n_rows,
       l_distinct < {LDIV_L} AS at_risk
FROM g GROUP BY l_distinct
ORDER BY l_distinct
"""


# -- epoch / mixture plan ----------------------------------------------------

MIX_ALPHA_NOTE = "alpha = 0.5 (square-root temperature scaling)"
MIX_BUDGET_FACTOR = 2  # token budget = 2x the corpus (forces upsampling)
MIX_EPOCH_CAP_PPM = 4_000_000  # no source repeats more than 4 epochs


def epoch_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, weight_ppm, epochs_ppm, planned_tokens,
    capped): the training-mixture plan — per-source sampling weights
    under square-root temperature scaling (w_s ∝ √tokens_s, the
    standard alpha=0.5 that upsamples small high-quality sources), a
    token budget of {MIX_BUDGET_FACTOR}× the corpus, and a
    {MIX_EPOCH_CAP_PPM}-ppm epoch cap: a source asked to repeat more
    than 4 epochs caps there, surfacing how much budget the cap leaves
    unfilled (re-normalization is the planner's next move; the report
    keeps the raw plan auditable).

    Determinism: √n over int64 token counts is IEEE-correctly-rounded
    in both engines (one sqrt per SOURCE, exactly representable int64
    inputs), floor()ed to int64 before any arithmetic; everything after
    is integer div — bit-identical cross-engine. Plan: one corpus scan
    for token counts, then arithmetic over ≤|sources| rows (a broadcast
    total); scan-bound at 100 TB."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ws = F.size(F.filter(F.split(F.col("text"), "\\s+"), lambda t: t != ""))
    per_src = d.groupBy("source").agg(
        F.sum(ws.cast("long")).alias("n_tokens")
    )
    per_src = per_src.withColumn(
        "w_root", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    )
    tot = per_src.agg(
        F.sum("w_root").alias("root_sum"),
        F.sum("n_tokens").alias("tok_sum"),
    )
    j = (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn("weight_ppm", F.expr("w_root * 1000000 div root_sum"))
        .withColumn(
            "raw_planned",
            F.expr(
                f"weight_ppm * (tok_sum * {MIX_BUDGET_FACTOR}) div 1000000"
            ),
        )
        .withColumn(
            "raw_epochs_ppm", F.expr("raw_planned * 1000000 div n_tokens")
        )
        .withColumn("capped", F.col("raw_epochs_ppm") > MIX_EPOCH_CAP_PPM)
    )
    epochs_ppm = F.when(
        F.col("capped"), F.lit(MIX_EPOCH_CAP_PPM).cast("long")
    ).otherwise(F.col("raw_epochs_ppm"))
    planned = F.when(
        F.col("capped"),
        F.expr(f"n_tokens * {MIX_EPOCH_CAP_PPM} div 1000000"),
    ).otherwise(F.col("raw_planned"))
    return j.select(
        "source",
        "n_tokens",
        "weight_ppm",
        epochs_ppm.alias("epochs_ppm"),
        planned.alias("planned_tokens"),
        F.col("capped"),
    ).orderBy("source")


EPOCH_MIX_PLAN_SQL = f"""
WITH per_src AS (
  SELECT source,
         SUM(len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))) AS n_tokens
  FROM documents GROUP BY source
),
rooted AS (
  SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_root
  FROM per_src
),
tot AS (SELECT SUM(w_root) AS root_sum, SUM(n_tokens) AS tok_sum FROM rooted),
calc AS (
  SELECT source, n_tokens,
         CAST(w_root * 1000000 // root_sum AS BIGINT) AS weight_ppm,
         CAST((w_root * 1000000 // root_sum) * (tok_sum * {MIX_BUDGET_FACTOR})
              // 1000000 AS BIGINT) AS raw_planned
  FROM rooted CROSS JOIN tot
)
SELECT source, n_tokens, weight_ppm,
       CASE WHEN CAST(raw_planned * 1000000 // n_tokens AS BIGINT) > {MIX_EPOCH_CAP_PPM}
            THEN CAST({MIX_EPOCH_CAP_PPM} AS BIGINT)
            ELSE CAST(raw_planned * 1000000 // n_tokens AS BIGINT) END AS epochs_ppm,
       CASE WHEN CAST(raw_planned * 1000000 // n_tokens AS BIGINT) > {MIX_EPOCH_CAP_PPM}
            THEN CAST(n_tokens * {MIX_EPOCH_CAP_PPM} // 1000000 AS BIGINT)
            ELSE raw_planned END AS planned_tokens,
       CAST(raw_planned * 1000000 // n_tokens AS BIGINT) > {MIX_EPOCH_CAP_PPM} AS capped
FROM calc
ORDER BY source
"""
