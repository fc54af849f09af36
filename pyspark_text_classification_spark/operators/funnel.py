"""Ordered funnel analysis over the event log.

The classic product-analytics question — "of the users who did step 1,
how many went on to do step 2 AFTER step 1, and step 3 after that?" —
expressed as sequenced per-user min-timestamp aggregates.  The reference
engine's query surface has no funnel operator; this is part of the
events extension surface (SURVEY.md §2.10) that a training-data /
product-analytics pipeline needs at scale.

Shape at 100 TB: every stage is a per-user aggregate or a user-keyed
join — all three shuffles hash on ``user_id``, so Catalyst reuses one
exchange partitioning end-to-end and nothing ever funnels through a
single reducer.  The final regroup is 3 rows (one per step), combined
in ONE wide conditional aggregate and unpivoted with ``stack`` —
join-free and order-free.

Sequencing rule: step N counts only events at-or-after the user's step
N-1 time (``>=``: a same-microsecond follow-up counts, which is the
deterministic choice — both engines compare the same integer micros).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_text_classification_spark.functions.time import SQL_TS_US, ts_us
from pyspark_text_classification_spark.registry import query
from pyspark_text_classification_spark.sources.parquet import load_table

# The funnel definition: view -> click -> purchase.
FUNNEL_STEPS = ("view", "click", "purchase")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", ts_us().alias("ts_us")
    )


def _step_counts(ev: DataFrame, window_us: int | None = None) -> DataFrame:
    """One row (n1, n2, n3): the users who reached each of FUNNEL_STEPS
    in order, over ``ev`` (user_id, event_type, ts_us).

    Step N is min(ts_us) per user over step-N events at-or-after the
    user's step N-1 time and, given ``window_us``, strictly before that
    time plus the window.  The user-keyed joins share one hash
    partitioning; the counts come from one global conditional aggregate
    over the tagged union of the three stages."""

    def after(prev_t: str):
        cond = F.col("ts_us") >= F.col(prev_t)
        if window_us is not None:
            cond = cond & (F.col("ts_us") < F.col(prev_t) + window_us)
        return cond

    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(after("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(after("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    tall = (
        s1.select(F.lit(1).alias("step"))
        .unionByName(s2.select(F.lit(2).alias("step")))
        .unionByName(s3.select(F.lit(3).alias("step")))
    )
    return tall.agg(
        F.sum(F.when(F.col("step") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("step") == 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("step") == 3, 1).otherwise(0)).alias("n3"),
    )


@query(
    "events_funnel_steps",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, {SQL_TS_US} AS ts_us FROM events
    ),
    s1 AS (
      SELECT user_id, min(ts_us) AS t1 FROM ev
      WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts_us) AS t2
      FROM ev e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts_us >= s1.t1
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts_us) AS t3
      FROM ev e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts_us >= s2.t2
      GROUP BY 1
    ),
    wide AS (
      SELECT (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s3) AS n3
    )
    SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type,
           CAST(n1 AS BIGINT) AS n_users,
           CAST(10000 AS BIGINT) AS conv_prev_bp,
           CAST(10000 AS BIGINT) AS conv_first_bp
    FROM wide
    UNION ALL
    SELECT 2, '{FUNNEL_STEPS[1]}', CAST(n2 AS BIGINT),
           CAST(n2 * 10000 // nullif(n1, 0) AS BIGINT),
           CAST(n2 * 10000 // nullif(n1, 0) AS BIGINT)
    FROM wide
    UNION ALL
    SELECT 3, '{FUNNEL_STEPS[2]}', CAST(n3 AS BIGINT),
           CAST(n3 * 10000 // nullif(n2, 0) AS BIGINT),
           CAST(n3 * 10000 // nullif(n1, 0) AS BIGINT)
    FROM wide
    """,
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step ordered funnel (view -> click -> purchase): per step,
    the number of users who reached it IN ORDER, plus step-over-step and
    overall conversion in basis points (truncating integer division —
    identical ``div``/``//`` semantics on positive operands).

    Each step is min(ts) per user over events at-or-after the previous
    step's per-user time; the three user-keyed joins share one hash
    partitioning.  The 3-row readout comes from one global conditional
    aggregate unpivoted with stack() — no window, no collect.  nullif
    guards the conversion divisions so an empty previous step degrades
    to NULL identically in both engines instead of erroring (ANSI
    div-by-zero)."""
    wide = _step_counts(_events(spark, sf_dir))
    return wide.selectExpr(
        f"""stack(3,
          1, '{FUNNEL_STEPS[0]}', CAST(n1 AS BIGINT),
             CAST(10000 AS BIGINT), CAST(10000 AS BIGINT),
          2, '{FUNNEL_STEPS[1]}', CAST(n2 AS BIGINT),
             n2 * 10000L div nullif(n1, 0), n2 * 10000L div nullif(n1, 0),
          3, '{FUNNEL_STEPS[2]}', CAST(n3 AS BIGINT),
             n3 * 10000L div nullif(n2, 0), n3 * 10000L div nullif(n1, 0)
        ) AS (step, event_type, n_users, conv_prev_bp, conv_first_bp)"""
    )


# conversion window: a step only counts within this long after the
# previous step (the form every product-analytics funnel actually uses)
FUNNEL_WINDOW_US = 3 * 24 * 3_600_000_000  # 3 days in µs


@query(
    "events_funnel_windowed",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, {SQL_TS_US} AS ts_us FROM events
    ),
    s1 AS (
      SELECT user_id, min(ts_us) AS t1 FROM ev
      WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts_us) AS t2
      FROM ev e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[1]}'
        AND e.ts_us >= s1.t1 AND e.ts_us < s1.t1 + {FUNNEL_WINDOW_US}
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts_us) AS t3
      FROM ev e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[2]}'
        AND e.ts_us >= s2.t2 AND e.ts_us < s2.t2 + {FUNNEL_WINDOW_US}
      GROUP BY 1
    ),
    wide AS (
      SELECT (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s3) AS n3
    )
    SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type,
           CAST(n1 AS BIGINT) AS n_users,
           CAST(10000 AS BIGINT) AS conv_prev_bp
    FROM wide
    UNION ALL
    SELECT 2, '{FUNNEL_STEPS[1]}', CAST(n2 AS BIGINT),
           CAST(n2 * 10000 // nullif(n1, 0) AS BIGINT)
    FROM wide
    UNION ALL
    SELECT 3, '{FUNNEL_STEPS[2]}', CAST(n3 AS BIGINT),
           CAST(n3 * 10000 // nullif(n2, 0) AS BIGINT)
    FROM wide
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel with a CONVERSION WINDOW: each step counts only within
    {FUNNEL_WINDOW_US // 86_400_000_000} days of the user's previous
    step — the form product funnels actually ship (an unwindowed funnel
    credits a purchase months after the click).  Identical plan shape to
    events_funnel_steps (user_id-keyed stages); the window is one extra
    integer bound on each stage's filter, which at 100 TB also BOUNDS
    per-user state for the streaming twin (expired steps are evictable
    the way the sessionizer evicts idle sessions)."""
    wide = _step_counts(_events(spark, sf_dir), FUNNEL_WINDOW_US)
    return wide.selectExpr(
        f"""stack(3,
          1, '{FUNNEL_STEPS[0]}', CAST(n1 AS BIGINT), CAST(10000 AS BIGINT),
          2, '{FUNNEL_STEPS[1]}', CAST(n2 AS BIGINT),
             n2 * 10000L div nullif(n1, 0),
          3, '{FUNNEL_STEPS[2]}', CAST(n3 AS BIGINT),
             n3 * 10000L div nullif(n2, 0)
        ) AS (step, event_type, n_users, conv_prev_bp)"""
    )
