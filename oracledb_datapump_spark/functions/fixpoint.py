"""Iterate a Spark frame to a fixpoint, one checkpoint per round.

An iterative operator pins each round's frame with an eager
``localCheckpoint`` so the next round plans against materialized blocks,
not the whole history of rounds. It also needs a small convergence
witness per round (a count, a sum). Reading that witness with its own
aggregate ``collect()`` re-scans what the checkpoint just wrote and costs
one more Spark job per round. ``checkpoint_observed`` puts the witness on
the checkpoint itself as an ``Observation``, so a round is the
checkpoint's jobs and nothing else.

``star_components`` is the package's one connected-components loop
(large-star/small-star, Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14), built on ``fixpoint``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

#: rounds ``star_components`` may take before it gives up; large-star/
#: small-star needs O(log n) rounds, so 40 is far above any real graph
STAR_MAX_ITERS = 40


def checkpoint_observed(df: DataFrame, *exprs: Column) -> tuple[DataFrame, dict]:
    """(pinned frame, observed row): ``df`` pinned by an eager
    ``localCheckpoint`` and the aggregates ``exprs`` over its rows, both
    from the checkpoint's own Spark job(s). Each expression must carry an
    alias; the row maps alias to value."""
    obs = Observation()
    pinned = df.observe(obs, *exprs).localCheckpoint(eager=True)
    return pinned, obs.get


def fixpoint(
    frame: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    witness: list[Column],
    max_iters: int,
    name: str,
) -> DataFrame:
    """Apply ``step`` until the observed ``witness`` of a round equals
    the previous round's, and return that round's pinned frame.

    ``frame`` is checkpointed first, so its witness is the baseline. The
    witness must repeat only at the fixpoint: it is the caller's proof
    that an unchanged witness means an unchanged frame. Raises
    ``RuntimeError`` naming ``name`` once ``max_iters`` rounds pass
    without a repeat, instead of returning an unconverged frame."""
    frame, prev = checkpoint_observed(frame, *witness)
    for _ in range(max_iters):
        frame, cur = checkpoint_observed(step(frame), *witness)
        if cur == prev:
            return frame
        prev = cur
    raise RuntimeError(
        f"{name}: no fixpoint after {max_iters} rounds (last witness {prev})"
    )


def _large_star(E: DataFrame) -> DataFrame:
    """Every node x re-points its larger neighbors at
    m = min(Γ(x) ∪ {x}), over the symmetrized edge set."""
    sym = E.unionAll(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.select("u", "v", m.alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(E: DataFrame) -> DataFrame:
    """Every node u (edges are u > v) re-points itself and its smaller
    neighbors at m = min(Γ≤(u) ∪ {u}) = its smallest v."""
    m = F.min("v").over(Window.partitionBy("u"))
    return (
        E.select(F.explode(F.array("u", "v")).alias("x"), m.alias("m"))
        .filter(F.col("x") != F.col("m"))
        .select(F.col("x").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def star_components(edges: DataFrame, name: str) -> DataFrame:
    """(u, v): the star edge set of the undirected graph whose edges are
    the rows of the two-column frame ``edges`` — one row per non-root
    node ``u``, pointing at ``v``, the smallest node id of its connected
    component. Roots appear only as ``v``; nodes without a (non-loop)
    edge do not appear. Duplicate rows, both orientations and self-loops
    are allowed.

    Each round is large-star then small-star. Both preserve component
    connectivity and only ever lower endpoint ids; the fixpoint is the
    star set. Each half-step's output is a function of its input *set*
    (a window min, then one row per input edge), so large-star needs no
    ``distinct``: small-star's window and the round's final ``distinct``
    give the same edge set as deduplicating in between.

    Witness: the round's output is canonical (u > v), and per distinct
    input edge each half-step emits one edge whose endpoint sum is no
    larger, so (count, Σ(u+v)) over the output never increases and
    repeats only when a round changed nothing. It is observed on the
    round's checkpoint (DECIMAL(38,0): exact for any long ids).

    Plan: three exchanges a round, the large-star window on ``u``, the
    small-star window on the new ``u`` and the ``distinct``. Each window
    shuffles and sorts every edge by ``u`` once; a groupBy+join pair
    shuffles a partial-aggregated min and then the edges again for a
    sort-merge join (or broadcasts the min when it is small). A window
    has no map-side partial min, so a hub node's edges all reach one
    task; at 100 TB a power-law graph wants its hub keys salted. Raises ``RuntimeError`` naming ``name``
    after ``STAR_MAX_ITERS`` rounds without convergence."""
    a, b = edges.columns[:2]
    E = edges.select(
        F.greatest(a, b).alias("u"), F.least(a, b).alias("v")
    ).filter(F.col("u") != F.col("v"))
    witness = [
        F.count(F.lit(1)).alias("c"),
        F.sum((F.col("u") + F.col("v")).cast("decimal(38,0)")).alias("s"),
    ]
    return fixpoint(
        E, lambda e: _small_star(_large_star(e)), witness, STAR_MAX_ITERS, name
    )
