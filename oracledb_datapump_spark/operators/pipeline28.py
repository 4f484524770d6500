"""Batch 28 — reciprocal-rank fusion, B-cubed clustering evaluation,
U-shaped attribution, stratified k-fold planning.

Retrieval/evaluation/experimentation operators for the training-data
pipeline surface (SURVEY.md §6), each with a DuckDB twin under the
cross-engine value hash. Determinism: integer ppm credits and scores
throughout (truncating div), rank ties broken by id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# -- reciprocal-rank fusion -----------------------------------------------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al., SIGIR'09)
RRF_TOP_K = 5


def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_doc, match_doc, rank, rrf_score): hybrid retrieval by
    reciprocal-rank fusion (Cormack, Clarke, Büttcher, SIGIR'09) over
    the TF-IDF and BM25 rankers — score(d) = Σ_systems 1e6 div
    ({RRF_K} + rank_system(d)), documents missing from a system's list
    contribute 0. RRF is the standard way to fuse lexical and semantic
    rankers without score calibration; here it fuses the two lexical
    systems whose rankings are already under the driver hash
    (tfidf_search_topk, bm25_search_topk), so the fusion layer itself
    is what this query adds to the gate.

    Plan: both ranker outputs are |queries|×top-k rows (tiny); the
    fusion is a union + keyed sum + per-query window. The expensive
    part — the inverted indexes — is built once per ranker exactly as
    in the benched originals (shared localCheckpointed index)."""
    from .sparse_text import bm25_search_topk, tfidf_search_topk

    contrib = F.expr(f"CAST(1000000 div ({RRF_K} + rank) AS BIGINT)")
    t = tfidf_search_topk(spark, sf_dir).select(
        "query_doc", "match_doc", contrib.alias("c")
    )
    b = bm25_search_topk(spark, sf_dir).select(
        "query_doc", "match_doc", contrib.alias("c")
    )
    fused = (
        t.unionByName(b)
        .groupBy("query_doc", "match_doc")
        .agg(F.sum("c").cast("long").alias("rrf_score"))
    )
    w = Window.partitionBy("query_doc").orderBy(
        F.desc("rrf_score"), F.asc("match_doc")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RRF_TOP_K)
        .select("query_doc", "match_doc", "rank", "rrf_score")
        .orderBy("query_doc", "rank")
    )


def _rrf_sql() -> str:
    from .sparse_text import BM25_SEARCH_SQL, TFIDF_SEARCH_SQL

    return f"""
WITH u AS (
  SELECT query_doc, match_doc,
         CAST(1000000 // ({RRF_K} + rank) AS BIGINT) AS c
  FROM ({TFIDF_SEARCH_SQL})
  UNION ALL
  SELECT query_doc, match_doc,
         CAST(1000000 // ({RRF_K} + rank) AS BIGINT) AS c
  FROM ({BM25_SEARCH_SQL})
),
fused AS (
  SELECT query_doc, match_doc, CAST(SUM(c) AS BIGINT) AS rrf_score
  FROM u GROUP BY query_doc, match_doc
),
ranked AS (
  SELECT query_doc, match_doc, rrf_score,
         ROW_NUMBER() OVER (PARTITION BY query_doc
                            ORDER BY rrf_score DESC, match_doc) AS rank
  FROM fused
)
SELECT query_doc, match_doc, CAST(rank AS BIGINT) AS rank, rrf_score
FROM ranked WHERE rank <= {RRF_TOP_K}
ORDER BY query_doc, rank
"""


RRF_FUSION_TOPK_SQL = _rrf_sql()


# -- B-cubed clustering evaluation ----------------------------------------------


def dedup_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_docs, bcubed_precision_ppm, bcubed_recall_ppm, bcubed_f1_ppm):
    B-cubed extrinsic clustering evaluation (Bagga & Baldwin '98; the
    standard dedup-clustering metric, per-item so large clusters can't
    hide errors) of the MinHash-LSH-verified clustering
    (``dedup_groups``) against exact-content truth (md5(text) groups).
    Per item: P_i = |C(i)∩T(i)| · 1e6 div |C(i)|, R_i likewise over
    |T(i)|; the report averages the integer per-item ppms (truncating
    div) and takes F1 = 2·P·R div (P+R). Completes the dedup evaluation
    family (threshold curve, method agreement, transitivity audit) with
    the per-item metric.

    Plan: two assignment tables (pred rides the verified-pair memo +
    star_components; truth is one groupBy), one (pred,truth)
    intersection count, three keyed side-table joins (unhinted — AQE
    broadcasts at small sf, shuffle-joins at scale; the side tables are
    O(#clusters) ~ corpus-proportional, so a forced broadcast would be
    a driver OOM at 100 TB), one final 1-row aggregate. Nothing
    driver-side."""
    from .dedup import _docs, dedup_groups

    pred = dedup_groups(spark, sf_dir).select("doc_id", F.col("group_id").alias("p"))
    truth = (
        _docs(spark, sf_dir)
        .select("doc_id", F.md5(F.col("text")).alias("th"))
        .withColumn("t", F.min("doc_id").over(Window.partitionBy("th")))
        .select("doc_id", "t")
    )
    a = pred.join(truth, "doc_id")
    npt = a.groupBy("p", "t").agg(F.count(F.lit(1)).alias("npt"))
    np_ = a.groupBy("p").agg(F.count(F.lit(1)).alias("np"))
    nt = a.groupBy("t").agg(F.count(F.lit(1)).alias("nt"))
    # no broadcast hints: the side tables are O(#docs/#clusters) — at
    # 100 TB that is corpus-proportional and a forced broadcast would
    # OOM the driver. All three joins are keyed; let AQE pick
    # broadcast at small sf and shuffle-join at scale.
    per_item = (
        a.join(npt, ["p", "t"])
        .join(np_, "p")
        .join(nt, "t")
        .select(
            F.expr("CAST(npt * 1000000 div np AS BIGINT)").alias("p_ppm"),
            F.expr("CAST(npt * 1000000 div nt AS BIGINT)").alias("r_ppm"),
        )
    )
    return per_item.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("CAST(sum(p_ppm) div count(1) AS BIGINT)").alias(
            "bcubed_precision_ppm"
        ),
        F.expr("CAST(sum(r_ppm) div count(1) AS BIGINT)").alias(
            "bcubed_recall_ppm"
        ),
    ).select(
        "n_docs",
        "bcubed_precision_ppm",
        "bcubed_recall_ppm",
        F.expr(
            "CAST(2 * bcubed_precision_ppm * bcubed_recall_ppm div "
            "greatest(bcubed_precision_ppm + bcubed_recall_ppm, 1) AS BIGINT)"
        ).alias("bcubed_f1_ppm"),
    )


def _bcubed_sql() -> str:
    from .dedup import DEDUP_GROUPS_SQL

    return f"""
WITH pred AS (
  SELECT doc_id, group_id AS p FROM ({DEDUP_GROUPS_SQL})
),
truth AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS t
  FROM documents
),
a AS (SELECT pred.doc_id, p, t FROM pred JOIN truth USING (doc_id)),
npt AS (SELECT p, t, COUNT(*) AS npt FROM a GROUP BY p, t),
np_ AS (SELECT p, COUNT(*) AS np FROM a GROUP BY p),
nt AS (SELECT t, COUNT(*) AS nt FROM a GROUP BY t),
per_item AS (
  SELECT CAST(npt.npt * 1000000 // np_.np AS BIGINT) AS p_ppm,
         CAST(npt.npt * 1000000 // nt.nt AS BIGINT) AS r_ppm
  FROM a JOIN npt USING (p, t) JOIN np_ USING (p) JOIN nt USING (t)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS bcubed_precision_ppm,
         CAST(SUM(r_ppm) // COUNT(*) AS BIGINT) AS bcubed_recall_ppm
  FROM per_item
)
SELECT n_docs, bcubed_precision_ppm, bcubed_recall_ppm,
       CAST(2 * bcubed_precision_ppm * bcubed_recall_ppm
            // GREATEST(bcubed_precision_ppm + bcubed_recall_ppm, 1)
            AS BIGINT) AS bcubed_f1_ppm
FROM agg
"""


DEDUP_BCUBED_EVAL_SQL = _bcubed_sql()


# -- U-shaped (position-based) attribution ---------------------------------------

U_FIRST_PPM = 400_000
U_LAST_PPM = 400_000
U_MIDDLE_POOL_PPM = 200_000


def attribution_u_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_touches, credit_total_ppm): position-based
    ("U-shaped" / 40-20-40) multi-touch attribution — each purchase
    conversion distributes 1e6 ppm of credit across the user's
    touchpoints since the previous purchase: 40% to the first touch,
    40% to the last, the 20% pool split evenly (truncating div) across
    the middles with the remainder assigned to the last touch; single
    touch takes 100%, a two-touch journey splits 50/50. Completes the
    attribution family (as-of last-touch, horizon pairs, latency
    histogram) with the position-weighted model marketing teams
    actually run.

    Journey segmentation is windowed: an event's journey index is the
    count of purchases strictly before it in (ts, event_id) order, so a
    purchase owns exactly the touches with its own index — no
    self-join, one user-keyed shuffle. Credits are integers by
    construction (remainder-to-last), so the per-channel totals hash
    exactly."""
    from ..events_source import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts_us"
    )
    wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    tagged = ev.withColumn(
        "journey",
        F.coalesce(
            F.sum((F.col("event_type") == "purchase").cast("long")).over(
                wu.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    convs = tagged.filter(F.col("event_type") == "purchase").select(
        "user_id", "journey"
    )
    touches = (
        tagged.filter(F.col("event_type") != "purchase")
        .join(convs, ["user_id", "journey"], "left_semi")
    )
    wj = Window.partitionBy("user_id", "journey").orderBy("ts_us", "event_id")
    wn = Window.partitionBy("user_id", "journey")
    credited = (
        touches.withColumn("rn", F.row_number().over(wj))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .withColumn(
            "credit_ppm",
            F.expr(
                f"""CASE
                WHEN n = 1 THEN 1000000
                WHEN n = 2 THEN 500000
                WHEN rn = 1 THEN {U_FIRST_PPM}
                WHEN rn = n THEN {U_LAST_PPM}
                     + ({U_MIDDLE_POOL_PPM} - ({U_MIDDLE_POOL_PPM} div (n - 2))
                        * (n - 2))
                ELSE {U_MIDDLE_POOL_PPM} div (n - 2)
                END"""
            ).cast("long"),
        )
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("credit_ppm").cast("long").alias("credit_total_ppm"),
        )
        .orderBy("event_type")
    )


ATTRIBUTION_U_SHAPED_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
tagged AS (
  SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS journey
  FROM e
),
convs AS (
  SELECT DISTINCT user_id, journey FROM tagged WHERE event_type = 'purchase'
),
touches AS (
  SELECT t.* FROM tagged t JOIN convs c USING (user_id, journey)
  WHERE t.event_type <> 'purchase'
),
credited AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, journey
                            ORDER BY ts_us, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, journey) AS n
  FROM touches
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CASE
            WHEN n = 1 THEN 1000000
            WHEN n = 2 THEN 500000
            WHEN rn = 1 THEN {U_FIRST_PPM}
            WHEN rn = n THEN {U_LAST_PPM}
                 + ({U_MIDDLE_POOL_PPM} - ({U_MIDDLE_POOL_PPM} // (n - 2))
                    * (n - 2))
            ELSE {U_MIDDLE_POOL_PPM} // (n - 2)
            END) AS BIGINT) AS credit_total_ppm
FROM credited
GROUP BY event_type
ORDER BY event_type
"""


# -- stratified k-fold plan -------------------------------------------------------

KFOLD_K = 5


def stratified_kfold_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(fold, priority, n_rows, share_of_stratum_ppm): deterministic
    {KFOLD_K}-fold assignment for cross-validation over ``orders`` —
    fold = md5-hash64(o_orderkey) mod {KFOLD_K} (the same cross-engine
    hash the SAMPLE directive uses, so folds are reproducible on any
    engine and disjoint by construction), reported per
    (fold, o_orderpriority) with each cell's share of its stratum so
    imbalance is visible in ppm. The experiment-design sibling of
    ``stratified_sample``/``neyman_allocation_plan``: those draw one
    sample, this partitions everything for k-fold evaluation.

    Plan: one map-side hash + a (k×|strata|)-key groupBy + a stratum-
    total broadcast join. Hash-mod assignment is partition-layout
    independent — no zipWithIndex, no RNG."""
    from ..functions.text import hash64

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        (hash64(F.col("o_orderkey").cast("string")) % KFOLD_K).alias("fold"),
        F.col("o_orderpriority").alias("priority"),
    )
    cells = o.groupBy("fold", "priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    strata = cells.groupBy("priority").agg(F.sum("n_rows").alias("n_stratum"))
    return (
        cells.join(F.broadcast(strata), "priority")
        .select(
            "fold",
            "priority",
            "n_rows",
            F.expr(
                "CAST(n_rows * 1000000 div greatest(n_stratum, 1) AS BIGINT)"
            ).alias("share_of_stratum_ppm"),
        )
        .orderBy("fold", "priority")
    )


def _kfold_sql() -> str:
    from ..functions.text import sql_hash64

    h = sql_hash64("CAST(o_orderkey AS VARCHAR)")
    return f"""
WITH o AS (
  SELECT {h} % {KFOLD_K} AS fold, o_orderpriority AS priority FROM orders
),
cells AS (
  SELECT fold, priority, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM o GROUP BY fold, priority
),
strata AS (
  SELECT priority, SUM(n_rows) AS n_stratum FROM cells GROUP BY priority
)
SELECT fold, priority, n_rows,
       CAST(n_rows * 1000000 // GREATEST(n_stratum, 1) AS BIGINT)
         AS share_of_stratum_ppm
FROM cells JOIN strata USING (priority)
ORDER BY fold, priority
"""


STRATIFIED_KFOLD_PLAN_SQL = _kfold_sql()
