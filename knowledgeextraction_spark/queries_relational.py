"""Query registry, batch 2: MRC-path analogs + relational coverage.

Completes the SURVEY.md §2 inventory lines that batch 1 didn't cover:
W2 max-context election, the MRC n-best assembly (A6→W4→A8 compose),
S4's running-sum group assignment (as sessionization), U3 anti-join,
J7 coalesce-fallback join, plus grouped-agg/rollup breadth over the
TPC-H-ish tables. Every query here has a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .materialize import local_frame


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


# --------------------------------------------------------------------------
# S4-shaped: running-sum group assignment (sessionization)
# --------------------------------------------------------------------------


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4's pattern (blank-line-delimited grouping via
    sum(when(boundary,1)) over an ordered window — chinese_CONLL.py:202)
    as gap-based sessionization: a >30 min gap starts a new session."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond-exact gaps: second-truncated casts diverge from the
    # oracle when a gap straddles the 1800s boundary by <1s.
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    with_s = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
    ).withColumn("session_id", F.sum("new_session").over(w))
    return (
        with_s.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .orderBy("user_id", "session_id")
    )


def sql_sessionize() -> str:
    return """
SELECT user_id, session_id, count(*) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM (
  SELECT user_id, event_id,
         CAST(sum(new_session) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
           AS session_id
  FROM (
    SELECT user_id, event_id, ts,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > 1800 * 1000000
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
  ) g
) s GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


# --------------------------------------------------------------------------
# U3: anti-join
# --------------------------------------------------------------------------


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 seen-exclusion as a left-anti join: customers with no orders."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


def sql_anti_join() -> str:
    return """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# grouped aggregates + rollup breadth
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped multi-aggregate grouped summary over lineitem."""
    li = _lineitem(spark, sf_dir).filter(F.col("l_shipdate") <= F.lit("2001-09-01"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def sql_pricing_summary() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) — grouping-sets coverage."""
    li = _lineitem(spark, sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def sql_rollup_revenue() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + top-k: revenue per customer segment with nation dim
    (J-family breadth: two joins, one broadcastable dim chain)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_mktsegment"))
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 2)
        .orderBy("n_name", "rank")
    )


def sql_top_customers() -> str:
    return """
SELECT * FROM (
  SELECT n_name, c_mktsegment, revenue, n_orders,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY revenue DESC, c_mktsegment ASC) AS rank
  FROM (
    SELECT n.n_name, c.c_mktsegment,
           round(sum(o.o_totalprice), 2) AS revenue, count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, c.c_mktsegment
  ) r
) t WHERE rank <= 2 ORDER BY n_name, rank
"""


# --------------------------------------------------------------------------
# J7: left join with coalesce fallback
# --------------------------------------------------------------------------


def q_coalesce_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (GloVe init join, chinese_CONLL.py:177-188): left join on the
    exact key, fall back to a normalized-key join, coalesce."""
    ev = _events(spark, sf_dir)
    dim = local_frame(
        spark,
        [("click", 10.0), ("VIEW", 20.0), ("purchase", 30.0)],
        "key string, weight double",
    )
    exact = dim.withColumnRenamed("key", "event_type").withColumnRenamed(
        "weight", "w_exact"
    )
    norm = (
        dim.select(F.lower("key").alias("lkey"), F.col("weight").alias("w_norm"))
        .groupBy("lkey")
        .agg(F.min("w_norm").alias("w_norm"))
    )
    return (
        ev.join(F.broadcast(exact), "event_type", "left")
        .join(F.broadcast(norm), F.lower(F.col("event_type")) == F.col("lkey"), "left")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.coalesce("w_exact", "w_norm", F.lit(0.0))), 4).alias("avg_w"),
        )
        .orderBy("event_type")
    )


def sql_coalesce_join() -> str:
    return """
WITH dim(key, weight) AS (VALUES ('click', 10.0), ('VIEW', 20.0), ('purchase', 30.0)),
norm AS (SELECT lower(key) AS lkey, min(weight) AS w_norm FROM dim GROUP BY 1)
SELECT e.event_type, count(*) AS n,
       round(avg(coalesce(d.weight, n.w_norm, 0.0)), 4) AS avg_w
FROM events e
LEFT JOIN dim d ON e.event_type = d.key
LEFT JOIN norm n ON lower(e.event_type) = n.lkey
GROUP BY e.event_type ORDER BY e.event_type
"""


# --------------------------------------------------------------------------
# MRC-path analogs: W2 max-context election, A6→W4→A8 n-best assembly
# --------------------------------------------------------------------------

_STRIDE, _SPAN = 16, 32


def q_max_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (_check_is_max_context, mrc_utils.py:80-114): each token
    belongs to the span where min(left_ctx, right_ctx) + 0.01·len is
    max. Spans = sliding windows over document words."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split(F.trim("text"), " ")).alias("n_words")
    )
    starts = F.sequence(F.lit(0), F.greatest(F.col("n_words") - 1, F.lit(0)), F.lit(_STRIDE))
    spans = d.select("doc_id", "n_words", F.explode(starts).alias("start")).withColumn(
        "span_len", F.least(F.lit(_SPAN), F.col("n_words") - F.col("start"))
    ).filter(F.col("span_len") > 0)
    toks = spans.withColumn(
        "pos", F.explode(F.sequence(F.col("start"), F.col("start") + F.col("span_len") - 1))
    )
    score = (
        F.least(F.col("pos") - F.col("start"), F.col("start") + F.col("span_len") - 1 - F.col("pos"))
        + 0.01 * F.col("span_len")
    )
    w = Window.partitionBy("doc_id", "pos").orderBy(F.desc("score"), F.asc("start"))
    return (
        toks.withColumn("score", F.round(score, 4))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("pos").cast("long").alias("pos"), F.col("start").cast("long").alias("best_start"))
        .orderBy("doc_id", "pos")
    )


def sql_max_context() -> str:
    return f"""
WITH d AS (SELECT doc_id, len(string_split(trim(text), ' ')) AS n_words FROM documents),
spans AS (
  SELECT doc_id, start, least({_SPAN}, n_words - start) AS span_len FROM (
    SELECT doc_id, n_words,
           unnest(range(0, greatest(n_words - 1, 0) + 1, {_STRIDE})) AS start
    FROM d
  ) s WHERE least({_SPAN}, n_words - start) > 0
),
toks AS (
  SELECT doc_id, start, span_len, unnest(range(start, start + span_len)) AS pos
  FROM spans
),
scored AS (
  SELECT doc_id, pos, start,
         round(least(pos - start, start + span_len - 1 - pos) + 0.01 * span_len, 4) AS score
  FROM toks
)
SELECT doc_id, pos, best_start FROM (
  SELECT doc_id, pos, start AS best_start,
         row_number() OVER (PARTITION BY doc_id, pos
                            ORDER BY score DESC, start ASC) AS rn
  FROM scored
) t WHERE rn = 1 ORDER BY doc_id, pos
"""


def q_mrc_nbest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MRC post-model pipeline (SURVEY.md §3.2): per-(example,span)
    logprobs → A6 mean over duplicate spans → W4 top-5 → A8 softmax.
    Span scores derive deterministically from the events table."""
    ev = _events(spark, sf_dir)
    spans = ev.select(
        F.col("user_id").alias("example_id"),
        (F.col("event_id") % 17).alias("start_idx"),
        (F.col("event_id") % 17 + F.col("event_id") % 5 + 1).alias("end_idx"),
        F.round(F.col("value") / 10.0, 6).alias("start_lp"),
        F.round(F.col("value") / 20.0, 6).alias("end_lp"),
    )
    agg = spans.groupBy("example_id", "start_idx", "end_idx").agg(
        F.round(F.avg("start_lp"), 6).alias("m_start"),
        F.round(F.avg("end_lp"), 6).alias("m_end"),
    )
    scored = agg.withColumn("score", F.round(F.col("m_start") + F.col("m_end"), 6))
    w = Window.partitionBy("example_id").orderBy(
        F.desc("score"), F.asc("start_idx"), F.asc("end_idx")
    )
    top = scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 5
    )
    wex = Window.partitionBy("example_id")
    shifted = F.exp(F.col("score") - F.max("score").over(wex))
    return top.select(
        "example_id",
        "start_idx",
        "end_idx",
        "rank",
        F.round(shifted / F.sum(shifted).over(wex), 6).alias("prob"),
    ).orderBy("example_id", "rank")


def sql_mrc_nbest() -> str:
    return """
WITH spans AS (
  SELECT user_id AS example_id,
         event_id % 17 AS start_idx,
         event_id % 17 + event_id % 5 + 1 AS end_idx,
         round(value / 10.0, 6) AS start_lp,
         round(value / 20.0, 6) AS end_lp
  FROM events
),
agg AS (
  SELECT example_id, start_idx, end_idx,
         round(avg(start_lp), 6) AS m_start, round(avg(end_lp), 6) AS m_end
  FROM spans GROUP BY 1, 2, 3
),
scored AS (SELECT *, round(m_start + m_end, 6) AS score FROM agg),
top AS (
  SELECT * FROM (
    SELECT example_id, start_idx, end_idx, score,
           row_number() OVER (PARTITION BY example_id
                              ORDER BY score DESC, start_idx ASC, end_idx ASC) AS rank
    FROM scored
  ) t WHERE rank <= 5
)
SELECT example_id, start_idx, end_idx, rank,
       round(shifted / sum(shifted) OVER (PARTITION BY example_id), 6) AS prob
FROM (
  SELECT example_id, start_idx, end_idx, rank,
         exp(score - max(score) OVER (PARTITION BY example_id)) AS shifted
  FROM top
) s ORDER BY example_id, rank
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts over events: users grouped by the ISO
    week of their FIRST event, counted distinct per activity-week
    offset — the standard product-analytics rollup.  One
    groupBy(user), a join back on the pre-hashed user key, one bounded
    groupBy(cohort, offset); weeks as strings so the driver hash sees
    identical dtypes in both engines."""
    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cw = F.date_trunc("week", F.col("first_ts"))
    aw = F.date_trunc("week", F.col("ts"))
    j = ev.join(firsts, "user_id").select(
        "user_id",
        F.date_format(cw, "yyyy-MM-dd").alias("cohort_week"),
        F.floor(
            F.datediff(aw.cast("date"), cw.cast("date")) / 7
        ).cast("long").alias("week_offset"),
    )
    return (
        j.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def sql_retention_cohorts() -> str:
    return """
WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
a AS (
  SELECT e.user_id,
         date_trunc('week', f.first_ts) AS cw,
         date_trunc('week', e.ts) AS aw
  FROM events e JOIN f USING (user_id)
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST(floor(date_diff('day', cw::DATE, aw::DATE) / 7) AS BIGINT)
         AS week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM a GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → signup → purchase: a
    user reaches step k when the first occurrence of each step is at
    or after the previous step's first occurrence.  One
    groupBy(user_id) with conditional mins, a single-row total, and a
    4-row stack — nothing bigger than the user table ever shuffles."""
    ev = _events(spark, sf_dir)

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    u = ev.groupBy("user_id").agg(
        first_ts("view").alias("v"),
        first_ts("click").alias("c"),
        first_ts("signup").alias("s"),
        first_ts("purchase").alias("p"),
    )
    r1 = F.col("v").isNotNull()
    r2 = r1 & (F.col("c") >= F.col("v"))
    r3 = r2 & (F.col("s") >= F.col("c"))
    r4 = r3 & (F.col("p") >= F.col("s"))
    tot = u.agg(
        *[
            F.sum(F.when(r, 1).otherwise(0)).cast("long").alias(f"r{i}")
            for i, r in enumerate([r1, r2, r3, r4], start=1)
        ]
    )
    steps = tot.selectExpr(
        "r1 AS base",
        """stack(4,
           CAST(1 AS BIGINT), 'view', r1,
           CAST(2 AS BIGINT), 'click', r2,
           CAST(3 AS BIGINT), 'signup', r3,
           CAST(4 AS BIGINT), 'purchase', r4) AS (step, step_name, n_users)""",
    )
    return steps.select(
        "step",
        "step_name",
        "n_users",
        F.round(
            F.col("n_users") / F.greatest(F.col("base"), F.lit(1)), 6
        ).alias("conv"),
    ).orderBy("step")


def sql_event_funnel() -> str:
    return """
WITH u AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS v,
         min(CASE WHEN event_type = 'click' THEN ts END) AS c,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS s,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
  FROM events GROUP BY user_id
),
r AS (
  SELECT
    CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS r1,
    CAST(sum(CASE WHEN v IS NOT NULL AND c >= v
             THEN 1 ELSE 0 END) AS BIGINT) AS r2,
    CAST(sum(CASE WHEN v IS NOT NULL AND c >= v AND s >= c
             THEN 1 ELSE 0 END) AS BIGINT) AS r3,
    CAST(sum(CASE WHEN v IS NOT NULL AND c >= v AND s >= c AND p >= s
             THEN 1 ELSE 0 END) AS BIGINT) AS r4
  FROM u
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, r1 AS n_users,
         round(r1 / greatest(r1, 1), 6) AS conv FROM r
  UNION ALL SELECT 2, 'click', r2, round(r2 / greatest(r1, 1), 6) FROM r
  UNION ALL SELECT 3, 'signup', r3, round(r3 / greatest(r1, 1), 6) FROM r
  UNION ALL SELECT 4, 'purchase', r4, round(r4 / greatest(r1, 1), 6) FROM r
) t ORDER BY step
"""


QUERIES2 = {
    "sessionize": q_sessionize,
    "retention_cohorts": q_retention_cohorts,
    "event_funnel": q_event_funnel,
    "anti_join": q_anti_join,
    "pricing_summary": q_pricing_summary,
    "rollup_revenue": q_rollup_revenue,
    "top_customers": q_top_customers,
    "coalesce_join": q_coalesce_join,
    "max_context": q_max_context,
    "mrc_nbest": q_mrc_nbest,
}

ORACLES2 = {
    "sessionize": sql_sessionize(),
    "retention_cohorts": sql_retention_cohorts(),
    "event_funnel": sql_event_funnel(),
    "anti_join": sql_anti_join(),
    "pricing_summary": sql_pricing_summary(),
    "rollup_revenue": sql_rollup_revenue(),
    "top_customers": sql_top_customers(),
    "coalesce_join": sql_coalesce_join(),
    "max_context": sql_max_context(),
    "mrc_nbest": sql_mrc_nbest(),
}
