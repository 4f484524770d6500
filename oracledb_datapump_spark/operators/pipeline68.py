"""Batch 68: maximum drawdown, dedup medoid canonicalization,
Johnson–Lindenstrauss distortion audit.

- ``max_drawdown_report`` — the risk-analytics drawdown of the daily
  order-revenue DEVIATION series (cumulative Σ(D·xᵢ) − i·T — the ×D
  integer scaling keeps the mean-removal exact; raw revenue cumsum is
  monotone and has no drawdown by construction): the deepest
  peak-to-trough excursion, its dates, and the recovery date. The
  "worst slump vs trend" readout a revenue dashboard puts next to the
  trend line.
- ``dedup_medoid_select`` — canonical-representative selection for
  duplicate clusters: exact-Jaccard pairs (≥{MEDOID_J_PPM} ppm)
  transitively closed by ``functions.fixpoint.star_components``, then
  per cluster the MEDOID — the member minimizing Σ(1e6 − J) to the
  others (absent pair = distance 1e6). dedup_keep_best keeps the
  highest-QUALITY member; the medoid is the most CENTRAL one — what
  MinHash-cluster canonicalization actually wants when quality scores
  are untrusted.
- ``jl_distortion_report`` — the Johnson–Lindenstrauss check for a
  ±1-sign random projection 64 → {JL_K} dims (signs md5-derived, so
  both engines build the SAME matrix): over consecutive-id vector
  pairs, the exact quantiles of ‖Px−Py‖²/(k·‖x−y‖²) in ppm — 1e6
  means distances survived; the spread IS the distortion. Run before
  trusting any reduced-dimension ANN index.

All integer under the cross-engine hash. Reference scope: analytics
extensions per SURVEY §2.9-2.10 (the reference ships data movement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.fixpoint import star_components
from ..functions.text import hash64, sql_hash64
from ..functions.local_table import values_df

DAY_US = 86_400_000_000
#: medoid clustering threshold (dedup.py's 0.6 in ppm).
MEDOID_J_PPM = 600_000
#: JL target dimensionality and component quantization.
JL_K = 16
JL_QUANT = 1_000


# ---------------------------------------------------------------------------
# Maximum drawdown
# ---------------------------------------------------------------------------


def max_drawdown_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(peak_day, trough_day, drawdown_q, dd_days, recovered_day): the
    maximum drawdown of the detrended daily revenue path. Daily order
    revenue xᵢ over the dense day axis (absent days = 0), deviation
    path c_d = Σᵢ≤d(D·xᵢ) − d·T (D = #days, T = Σx — every point
    integer, no mean division); peak = running max, drawdown = peak −
    c, the report row is the argmax drawdown (earliest trough on
    ties), with recovered_day = first later day whose c regains the
    peak (−1 if never). dd_days = trough − peak day distance.

    Scale shape: one scan → (day) groupBy, dense axis via sequence
    explode (calendar-bounded), two windows over |days| rows, one
    argmax and one conditional-min reduce."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.expr(
            "CAST(datediff(o_orderdate, to_date('1992-01-01')) AS LONG)"
        ).alias("day"),
        F.expr("CAST(round(o_totalprice * 100) AS LONG)").alias("rc"),
    )
    daily = o.groupBy("day").agg(F.sum("rc").alias("x"))
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    dense = (
        bounds.select(F.explode(F.expr("sequence(d0, d1)")).alias("day"))
        .join(daily, "day", "left")
        .select("day", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    )
    tot = dense.agg(
        F.count(F.lit(1)).alias("dd"), F.sum("x").alias("t")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    path = (
        dense.crossJoin(F.broadcast(tot))
        .withColumn("i", F.row_number().over(Window.orderBy("day")))
        .withColumn(
            "c", F.expr("sum(dd * x) over (order by day rows unbounded "
                        "preceding) - i * t")
        )
        .withColumn("peak", F.max("c").over(wcum))
        .withColumn("dd_q", F.col("peak") - F.col("c"))
        .localCheckpoint(eager=True)
    )
    trough = (
        path.orderBy(F.desc("dd_q"), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("trough_day"),
            F.col("dd_q").alias("drawdown_q"),
            F.col("peak").alias("peak_c"),
        )
    )
    peak_row = (
        path.join(F.broadcast(trough), F.col("c") == F.col("peak_c"))
        .filter(F.col("day") <= F.col("trough_day"))
        .agg(F.max("day").alias("peak_day"))
    )
    recov = (
        path.crossJoin(F.broadcast(trough))
        .filter(
            (F.col("day") > F.col("trough_day"))
            & (F.col("c") >= F.col("peak_c"))
        )
        .agg(F.coalesce(F.min("day"), F.lit(-1)).alias("recovered_day"))
    )
    return (
        trough.crossJoin(F.broadcast(peak_row))
        .crossJoin(F.broadcast(recov))
        .select(
            F.col("peak_day").cast("long"),
            F.col("trough_day").cast("long"),
            F.col("drawdown_q").cast("long"),
            (F.col("trough_day") - F.col("peak_day"))
            .cast("long")
            .alias("dd_days"),
            F.col("recovered_day").cast("long"),
        )
    )


MAX_DRAWDOWN_SQL = f"""
WITH o AS (
  SELECT CAST(date_diff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS rc
  FROM orders
),
daily AS (SELECT day, SUM(rc) AS x FROM o GROUP BY day),
bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
dense AS (
  SELECT g.day, COALESCE(d.x, 0) AS x
  FROM (SELECT unnest(range((SELECT d0 FROM bounds),
                            (SELECT d1 FROM bounds) + 1)) AS day) g
  LEFT JOIN daily d ON d.day = g.day
),
tot AS (SELECT COUNT(*) AS dd, SUM(x) AS t FROM dense),
path AS (
  SELECT day,
         SUM((SELECT dd FROM tot) * x)
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           - ROW_NUMBER() OVER (ORDER BY day) * (SELECT t FROM tot) AS c
  FROM dense
),
pk AS (
  SELECT day, c,
         MAX(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
  FROM path
),
trough AS (
  SELECT day AS trough_day, peak - c AS drawdown_q, peak AS peak_c
  FROM pk ORDER BY peak - c DESC, day LIMIT 1
),
peak_row AS (
  SELECT MAX(pk.day) AS peak_day
  FROM pk CROSS JOIN trough
  WHERE pk.c = trough.peak_c AND pk.day <= trough.trough_day
),
recov AS (
  SELECT COALESCE(MIN(pk.day), -1) AS recovered_day
  FROM pk CROSS JOIN trough
  WHERE pk.day > trough.trough_day AND pk.c >= trough.peak_c
)
SELECT CAST(peak_day AS BIGINT) AS peak_day,
       CAST(trough_day AS BIGINT) AS trough_day,
       CAST(drawdown_q AS BIGINT) AS drawdown_q,
       CAST(trough_day - peak_day AS BIGINT) AS dd_days,
       CAST(recovered_day AS BIGINT) AS recovered_day
FROM trough CROSS JOIN peak_row CROSS JOIN recov
"""


# ---------------------------------------------------------------------------
# Dedup medoid selection
# ---------------------------------------------------------------------------


def dedup_medoid_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(group_id, group_size, medoid_doc, sum_dist_q): for every
    duplicate cluster (transitive closure of exact-Jaccard ≥
    {MEDOID_J_PPM} ppm pairs; ``functions.fixpoint.star_components``,
    the loop dedup_groups runs), the medoid — the member whose
    Σ(1e6 − J_ppm) over the other members is smallest (pairs the
    verifier never scored count the full 1e6; ties → smaller doc_id).
    Only clusters of size ≥ 2 appear. Where dedup_keep_best trusts a
    quality column, the medoid is pure geometry — the canonicalization
    default.

    Scale shape: the pair stage is the blocked shingle join
    (guarded-quadratic posture at 100 TB: ride LSH candidates);
    star contraction is O(|pairs|) per round over O(log n) rounds; the
    medoid reduce is pair-list-sized."""
    from .dedup import _shingles, shingle_pair_intersections

    # r16: pin the shingle table once (sizes + the pair stage both ride
    # it) and expand pairs row-locally from per-shingle posting lists
    # instead of the shingle self-join — same pair multiset, half the
    # tokenize passes, two fewer exchanges (guide §2.4).
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    jac = (
        shingle_pair_intersections(sh)
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
            ),
            "d1",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
            ),
            "d2",
        )
        .filter(
            F.expr(
                f"inter * 1000000 >= {MEDOID_J_PPM} * (n1 + n2 - inter)"
            )
        )
        .select(
            "d1",
            "d2",
            F.expr("inter * 1000000 div (n1 + n2 - inter)").alias("j_ppm"),
        )
        .localCheckpoint(eager=True)
    )
    stars = star_components(jac.select("d1", "d2"), "dedup_medoid_select")
    gsize = stars.groupBy(F.col("v").alias("group_id")).agg(
        (F.count(F.lit(1)) + 1).alias("group_size")
    )
    # every pair endpoint is a star member (u) or a root (v)
    groups = stars.select(
        F.col("u").alias("doc_id"), F.col("v").alias("group_id")
    ).unionAll(gsize.select(F.col("group_id").alias("doc_id"), "group_id"))
    # per member: sum of distances to scored partners + 1e6 per
    # unscored co-member
    pair_dist = (
        jac.select(
            F.col("d1").alias("doc_id"),
            (1_000_000 - F.col("j_ppm")).alias("dist"),
        )
        .unionAll(
            jac.select(
                F.col("d2").alias("doc_id"),
                (1_000_000 - F.col("j_ppm")).alias("dist"),
            )
        )
        .groupBy("doc_id")
        .agg(
            F.sum("dist").alias("scored_dist"),
            F.count(F.lit(1)).alias("n_scored"),
        )
    )
    member = (
        groups.join(F.broadcast(gsize), "group_id")
        .join(pair_dist, "doc_id", "left")
        .select(
            "group_id",
            "group_size",
            "doc_id",
            (
                F.coalesce("scored_dist", F.lit(0))
                + (
                    F.col("group_size")
                    - 1
                    - F.coalesce("n_scored", F.lit(0))
                )
                * 1_000_000
            ).alias("sum_dist_q"),
        )
    )
    top = Window.partitionBy("group_id").orderBy(
        F.asc("sum_dist_q"), F.asc("doc_id")
    )
    return (
        member.withColumn("rnk", F.row_number().over(top))
        .filter(F.col("rnk") == 1)
        .select(
            F.col("group_id").cast("long"),
            F.col("group_size").cast("long"),
            F.col("doc_id").cast("long").alias("medoid_doc"),
            F.col("sum_dist_q").cast("long"),
        )
        .orderBy("group_id")
    )


def _medoid_sql() -> str:
    from .dedup import SQL_SHINGLES_CTE

    return f"""
WITH RECURSIVE {SQL_SHINGLES_CTE.strip()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
jac AS (
  SELECT i.d1, i.d2,
         i.inter * 1000000 // (s1.n + s2.n - i.inter) AS j_ppm
  FROM (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
    FROM shingles a JOIN shingles b
      ON b.shingle = a.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ) i JOIN sizes s1 ON s1.doc_id = i.d1
      JOIN sizes s2 ON s2.doc_id = i.d2
  WHERE i.inter * 1000000 >= {MEDOID_J_PPM} * (s1.n + s2.n - i.inter)
),
edges AS (
  SELECT d1, d2 FROM jac UNION ALL SELECT d2, d1 FROM jac
),
reach(src, dst) AS (
  SELECT d1, d2 FROM edges
  UNION
  SELECT r.src, e.d2 FROM reach r JOIN edges e ON e.d1 = r.dst
),
groups AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS group_id
  FROM reach GROUP BY src
),
gsize AS (SELECT group_id, COUNT(*) AS group_size FROM groups
          GROUP BY group_id),
pair_dist AS (
  SELECT doc_id, SUM(dist) AS scored_dist, COUNT(*) AS n_scored
  FROM (
    SELECT d1 AS doc_id, 1000000 - j_ppm AS dist FROM jac
    UNION ALL
    SELECT d2, 1000000 - j_ppm FROM jac
  ) GROUP BY doc_id
),
member AS (
  SELECT g.group_id, s.group_size, g.doc_id,
         COALESCE(p.scored_dist, 0)
           + (s.group_size - 1 - COALESCE(p.n_scored, 0)) * 1000000
           AS sum_dist_q
  FROM groups g JOIN gsize s ON s.group_id = g.group_id
  LEFT JOIN pair_dist p ON p.doc_id = g.doc_id
)
SELECT CAST(group_id AS BIGINT) AS group_id,
       CAST(group_size AS BIGINT) AS group_size,
       CAST(doc_id AS BIGINT) AS medoid_doc,
       CAST(sum_dist_q AS BIGINT) AS sum_dist_q
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY group_id
                               ORDER BY sum_dist_q, doc_id) AS rnk
  FROM member
) WHERE rnk = 1
ORDER BY group_id
"""


DEDUP_MEDOID_SQL = _medoid_sql()


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss distortion
# ---------------------------------------------------------------------------


def jl_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stat, ratio_ppm, n_pairs): distance-distortion quantiles of a
    ±1-sign projection to {JL_K} dims, signs = md5(hash('jl:j:d')) %
    2 — both engines assemble the identical matrix. For consecutive-id
    vector pairs, ratio = ‖Px − Py‖²·1e6 div ({JL_K}·‖x − y‖²); rows
    are the exact p10/p50/p90 order statistics. E[ratio] = 1e6 by the
    JL lemma; the p10–p90 spread is the distortion an ANN index built
    on the projection inherits.

    Scale shape: projection is one row-local {JL_K}-term aggregate per
    vector (the sign matrix is a literal, never a table); the pair set
    is the O(n) consecutive-id join; quantiles are a rank window over
    n−1 ratios."""
    import hashlib

    def sign(j: int, d: int) -> int:
        h = hashlib.md5(f"jl:{j}:{d}".encode()).hexdigest()[:15]
        return 1 if int(h, 16) % 2 == 0 else -1

    dims = 64
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {JL_QUANT}) AS BIGINT))"
        ).alias("q"),
    )
    proj_cols = [
        F.expr(
            "("
            + " + ".join(
                f"({sign(j, d)}) * q[{d}]" for d in range(dims)
            )
            + f") AS p{j}"
        )
        for j in range(JL_K)
    ]
    pv = vecs.select("vec_id", *proj_cols)
    vj = vecs.join(
        pv, "vec_id"
    ).localCheckpoint(eager=True)
    x = vj.alias("x")
    y = vj.alias("y")
    d2p = " + ".join(
        f"(x.p{j} - y.p{j}) * (x.p{j} - y.p{j})" for j in range(JL_K)
    )
    pairs = (
        x.join(y, F.expr("y.vec_id = x.vec_id + 1"))
        .select(
            F.expr(
                "aggregate(zip_with(x.q, y.q, (a, b) -> (a - b) * (a - b)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d2"),
            F.expr(d2p).alias("d2p"),
        )
        .filter(F.col("d2") > 0)
        .select(
            F.expr(f"d2p * 1000000 div ({JL_K} * d2)").alias("ratio_ppm"),
            # unique tiebreaker for the range-partitioned rank (helper
            # contract); the picked VALUE at a rank is tie-insensitive,
            # so the output does not depend on the tiebreak order
            F.monotonically_increasing_id().alias("__tb"),
        )
    )
    from ..functions.global_order import with_global_order_stat

    ranked, n = with_global_order_stat(
        pairs, [F.col("ratio_ppm"), F.col("__tb")], out="rn"
    )
    picks = [("p10", (n - 1) * 1 // 10 + 1), ("p50", (n - 1) * 5 // 10 + 1),
             ("p90", (n - 1) * 9 // 10 + 1)]
    # r16 (guide §2.4): the three order statistics ride ONE pass over
    # the ranked stream — a broadcast join against the 3-row pick table
    # — instead of three union arms that each re-ran the rank window
    # (duplicate pick indices at tiny n still yield one row per pick,
    # exactly as the old per-pick filters did). The rank rides the
    # range-partitioned global-order helper (no SinglePartition window;
    # its offset collect also supplies n, replacing the count() action).
    picks_df = values_df(spark, picks, "stat string, idx long")
    return (
        ranked.join(F.broadcast(picks_df), ranked.rn == picks_df.idx)
        .select(
            "stat",
            F.col("ratio_ppm").cast("long"),
            F.lit(n).cast("long").alias("n_pairs"),
        )
        .orderBy("stat")
    )


def _jl_sql() -> str:
    import hashlib

    def sign(j: int, d: int) -> int:
        h = hashlib.md5(f"jl:{j}:{d}".encode()).hexdigest()[:15]
        return 1 if int(h, 16) % 2 == 0 else -1

    dims = 64
    proj = ", ".join(
        "("
        + " + ".join(f"({sign(j, d)}) * q[{d + 1}]" for d in range(dims))
        + f") AS p{j}"
        for j in range(JL_K)
    )
    d2p = " + ".join(
        f"(x.p{j} - y.p{j}) * (x.p{j} - y.p{j})" for j in range(JL_K)
    )
    return f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding, v ->
           CAST(floor(CAST(v AS DOUBLE) * {JL_QUANT}) AS BIGINT)) AS q
  FROM embeddings
),
pv AS (SELECT vec_id, q, {proj} FROM vecs),
pairs AS (
  SELECT list_aggregate(
           list_transform(range(1, 65),
                          i -> (x.q[i] - y.q[i]) * (x.q[i] - y.q[i])),
           'sum') AS d2,
         {d2p} AS d2p
  FROM pv x JOIN pv y ON y.vec_id = x.vec_id + 1
),
ratios AS (
  SELECT d2p * 1000000 // ({JL_K} * d2) AS ratio_ppm
  FROM pairs WHERE d2 > 0
),
n AS (SELECT COUNT(*) AS n FROM ratios),
ranked AS (
  SELECT ratio_ppm, ROW_NUMBER() OVER (ORDER BY ratio_ppm) AS rn
  FROM ratios
)
SELECT stat, CAST(ratio_ppm AS BIGINT) AS ratio_ppm,
       CAST((SELECT n FROM n) AS BIGINT) AS n_pairs
FROM (
  SELECT 'p10' AS stat, ratio_ppm FROM ranked
  WHERE rn = ((SELECT n FROM n) - 1) * 1 // 10 + 1
  UNION ALL
  SELECT 'p50', ratio_ppm FROM ranked
  WHERE rn = ((SELECT n FROM n) - 1) * 5 // 10 + 1
  UNION ALL
  SELECT 'p90', ratio_ppm FROM ranked
  WHERE rn = ((SELECT n FROM n) - 1) * 9 // 10 + 1
)
ORDER BY stat
"""


JL_DISTORTION_SQL = _jl_sql()
