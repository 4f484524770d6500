"""The fixpoint helper and the one connected-components loop built on it.

``star_components`` must return, for every non-root node, an edge to the
smallest node id of its component — what a union-find over the same
edge list gives — for any edge list: long paths, hubs, duplicates, both
orientations, none at all. A loop that runs out of rounds raises.

The two graph queries of the benchmark run on the helper; their Spark
job counts at the test fixture are pinned below so the per-round
witness never turns back into a separate action.
"""

import pytest

from pyspark.sql import functions as F

from oracledb_datapump_spark.functions.fixpoint import (
    checkpoint_observed,
    fixpoint,
    star_components,
)
from oracledb_datapump_spark.operators import graph, pipeline11


def union_find_roots(edges):
    """{node: smallest node id of its component} for every endpoint."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def stars(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    return {r.u: r.v for r in star_components(df, "test").collect()}


GRAPHS = {
    "path_1024": [(i, i + 1) for i in range(1023)],
    # ids shuffled along the path, so labels must travel both ways
    "path_scrambled": [((i * 37) % 101, ((i + 1) * 37) % 101) for i in range(100)],
    "star": [(500, i) for i in range(1, 200)],
    "disjoint": [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (30, 31)],
    "duplicates_both_orientations": [
        (5, 6), (6, 5), (5, 6), (6, 7), (7, 6), (7, 7), (9, 8), (8, 9), (8, 9),
    ],
    "no_edges": [],
}


@pytest.mark.parametrize("name", list(GRAPHS))
def test_star_components_matches_union_find(spark, name):
    edges = GRAPHS[name]
    want = {x: r for x, r in union_find_roots(edges).items() if x != r}
    assert stars(spark, edges) == want


def test_fixpoint_raises_when_rounds_run_out(spark):
    def step(d):
        return d.select((F.col("id") + 1).alias("id"))

    with pytest.raises(RuntimeError, match="test: no fixpoint after 1 rounds"):
        fixpoint(spark.range(1), step, [F.sum("id").alias("s")], 1, "test")


def test_checkpoint_observed_is_one_job(spark, spark_jobs):
    df = spark.range(100)
    j0 = spark_jobs()
    pinned, row = checkpoint_observed(
        df, F.sum("id").alias("s"), F.count("id").alias("c")
    )
    assert spark_jobs() - j0 == 1
    assert row == {"s": 4950, "c": 100}
    assert pinned.count() == 100


# Spark jobs per query at the test fixture (sf0.001, local[8], 4 shuffle
# partitions). The min-label/groupBy+join loops with a separate witness
# collect ran 60 and 35 here.
JOB_BOUNDS = {
    "connected_components_sizes": (pipeline11.connected_components_sizes, 26),
    "pagerank_topk": (graph.pagerank_topk, 19),
}


@pytest.mark.parametrize("name", list(JOB_BOUNDS))
def test_graph_query_spark_jobs(spark, sf_dir, spark_jobs, name):
    fn, bound = JOB_BOUNDS[name]
    j0 = spark_jobs()
    fn(spark, sf_dir).toPandas()
    assert spark_jobs() - j0 <= bound
