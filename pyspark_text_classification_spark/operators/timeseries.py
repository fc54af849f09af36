"""Time-series diagnostics over the events stream: autocorrelation,
CUSUM change-point detection, and Allen interval algebra.

Three operators a metrics/training-data pipeline runs over event
series that the rest of the events family doesn't cover:

- events_autocorr_lag: lag-k Pearson autocorrelation (k = 1..{LAGS})
  of the gap-filled hourly count series per event type — the
  seasonality probe behind "is this metric hourly-periodic?";
- events_cusum_changepoint: the classic CUSUM statistic (Page 1954)
  S_t = sum_{{i<=t}}(y_i - mean) maximized over t — where a series'
  level shifted, computed shift-free as n*prefix_t - t*total;
- events_allen_relations: Allen's interval algebra (Allen, CACM 1983)
  classifying every user session interval against a small set of
  campaign windows into the 13 canonical relations — the temporal-join
  taxonomy behind overlap/containment audits.

Cross-engine determinism: everything is integer arithmetic on epoch
micros and counts.  Autocorrelation avoids the sqrt in Pearson's r by
reporting the SIGNED SQUARE r^2 * sign(cov) in micro-units — r^2 =
cov^2 / (vx*vy) is a ratio of exact integers, so one positive integer
division (identical truncating semantics both engines) plus a CASE for
the sign reproduces bit-identically; sums are accumulated in
DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so no intermediate ever
wraps.  CUSUM's S_t = n*prefix - t*total is exact integer per row; the
peak row is the (|S| desc, t asc) row_number=1, a total order.  Allen
classification is a single shared CASE over strict/equal comparisons
of int64 micros — no floats anywhere.

Scale shape (100 TB): the hourly series is an (event_type, hour)
map-side-combined count whose row count is bounded by types x wall
hours, NOT input rows — a decade is < 90k hours per type, so the
per-type windows (6 lags share ONE WindowExec; one running sum for
CUSUM) run over bounded partitions.  The Allen join broadcasts the
tiny campaign table into the session aggregate; sessions shuffle once
on user_id (the same partitioning every other sessionizer here uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_text_classification_spark.functions.time import SQL_TS_US, ts_us
from pyspark_text_classification_spark.operators.events import SESSION_GAP_US
from pyspark_text_classification_spark.plans.shared import shared_intermediate
from pyspark_text_classification_spark.registry import query
from pyspark_text_classification_spark.sources.parquet import fan_out, load_table

HOUR_US = 3_600_000_000
AC_LAGS = 6

# Shared gap-filled hourly count series: (event_type, h, y) over the
# FULL contiguous hour grid [h0, h1] x distinct types, absent hours = 0.
_SQL_SERIES = f"""
    ev AS (SELECT event_type, {SQL_TS_US} // {HOUR_US} AS h FROM events),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
    grid AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM b),
    types AS (SELECT DISTINCT event_type FROM ev),
    cnt AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS y
            FROM ev GROUP BY 1, 2),
    series AS (
      SELECT t.event_type, g.h, COALESCE(c.y, 0) AS y
      FROM types t CROSS JOIN grid g
      LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = g.h
    )
"""


def series_from_counts(cnt: DataFrame) -> DataFrame:
    """Gap-fill an (event_type, h, y) hourly-count table onto the full
    contiguous [min h, max h] grid x distinct types — shared by the
    batch queries and the streaming CUSUM twin (which drains the same
    counts from a complete-mode stream aggregate).  The grid bounds
    derive from the counts themselves (identical to deriving them from
    the raw rows: every observed hour has a count row)."""
    b = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = b.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    types = cnt.select("event_type").distinct()
    return (
        types.crossJoin(F.broadcast(grid))
        .join(cnt, ["event_type", "h"], "left")
        .select(
            "event_type", "h", F.coalesce(F.col("y"), F.lit(0)).alias("y")
        )
    )


def hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, h, y): observed hourly event counts (no gap fill)."""
    ev = fan_out(load_table(spark, sf_dir, "events")).select(
        "event_type", (ts_us() / HOUR_US).cast("long").alias("h")
    )
    return ev.groupBy("event_type", "h").agg(F.count("*").alias("y"))


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SQL_SERIES: the gap-filled (event_type, h, y) grid.

    Session-cached (plans.shared): the grid is types x wall-clock hours
    by construction — thousands of rows at any corpus size — and three
    queries (autocorr, CUSUM, Holt) would otherwise each rescan the
    events fact table to rebuild the identical series (the same rebuild
    waste the retrieval family's postings slot eliminated).  The
    streaming CUSUM twin deliberately does NOT use this slot: its
    series derives from drained stream state, not the batch scan."""
    return shared_intermediate(
        spark,
        sf_dir,
        "timeseries_hourly_series",
        lambda: series_from_counts(hourly_counts(spark, sf_dir)),
    )


@query(
    "events_autocorr_lag",
    oracle=f"""
    WITH {_SQL_SERIES},
    lagged AS (
      SELECT event_type, y,
             {", ".join(
                 f"lag(y, {k}) OVER (PARTITION BY event_type ORDER BY h)"
                 f" AS y{k}"
                 for k in range(1, AC_LAGS + 1)
             )}
      FROM series
    ),
    pairs AS (
      {" UNION ALL ".join(
          f"SELECT event_type, {k} AS lag, y, y{k} AS x"
          f" FROM lagged WHERE y{k} IS NOT NULL"
          for k in range(1, AC_LAGS + 1)
      )}
    ),
    stats AS (
      SELECT event_type, lag,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(x AS HUGEINT) * y) AS sxy
      FROM pairs GROUP BY 1, 2
    ),
    parts AS (
      SELECT event_type, lag, n,
             n * sxy - sx * sy AS cov,
             (n * sxx - sx * sx) * (n * syy - sy * sy) AS den
      FROM stats
    )
    SELECT event_type, CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           CAST(CASE WHEN den = 0 THEN 0
                     WHEN cov < 0
                       THEN -((cov * cov * 1000000) // den)
                     ELSE (cov * cov * 1000000) // den
                END AS BIGINT) AS r2_signed_micro
    FROM parts
    """,
)
def events_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..{AC_LAGS} autocorrelation of the gap-filled hourly count
    series per event type, reported as sign(cov) * r^2 in micro-units
    (the sqrt-free Pearson twin — see module docstring).

    One WindowExec computes all {AC_LAGS} lag columns (they share the
    per-type (h) window spec, the events_ewma_smooth pattern), a stack
    unpivots them to (lag, y, x) pairs, and one map-side-combined
    aggregate produces the six sufficient statistics per (type, lag).
    The division's operands are made positive first (abs + CASE sign);
    both engines truncate integer division toward zero (verified:
    -7 div 2 = -3 = DuckDB -7 // 2), so this is belt-and-braces — it
    also keeps the quotient independent of any future rounding-mode
    drift, since floor == truncate on non-negatives.

    Magnitude bound (the ml_auc_rank documentation convention): the
    hour count n is wall-clock-bounded (~1e5 over a decade), but
    ``den = vx * vy <= (n * ymax)^4`` must stay inside DECIMAL(38,0) /
    HUGEINT, i.e. n * max-hourly-count < ~3e9 — both engines fail
    together (HUGEINT errors, ANSI decimal errors) rather than
    diverging, and the per-row x*y products bound ymax < ~3e9 in int64
    the same way.  Past that, PRE-SCALE the counts (y div 10^k before
    the statistic): Pearson r^2 is scale-invariant, so the reported
    micro-units are unchanged up to the integer-division quantum."""
    series = _hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("h")
    lag_cols = [
        F.lag("y", k).over(w).alias(f"y{k}") for k in range(1, AC_LAGS + 1)
    ]
    lagged = series.select("event_type", "y", *lag_cols)
    stack_expr = ", ".join(
        f"{k}, y{k}" for k in range(1, AC_LAGS + 1)
    )
    pairs = lagged.select(
        "event_type",
        "y",
        F.expr(f"stack({AC_LAGS}, {stack_expr}) AS (lag, x)"),
    ).filter(F.col("x").isNotNull())
    d38 = "decimal(38,0)"
    # Convention (module-wide, the ml_auc_rank pattern): cast each FACTOR
    # to DECIMAL(19,0) before multiplying so the product itself is decimal
    # (d19 * d19 -> DECIMAL(38,0)) — never form an int64 product of two
    # row-level counts and cast afterwards.  Oracle twin: CAST(x AS
    # HUGEINT) * y inside the sum.  Values are unchanged below the int64
    # bound; above it both engines stay exact instead of failing together.
    d19 = "decimal(19,0)"
    stats = pairs.groupBy("event_type", "lag").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d19) * F.col("x").cast(d19)).alias("sxx"),
        F.sum(F.col("y").cast(d19) * F.col("y").cast(d19)).alias("syy"),
        F.sum(F.col("x").cast(d19) * F.col("y").cast(d19)).alias("sxy"),
    )
    parts = stats.select(
        "event_type",
        "lag",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov"),
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        ).alias("den"),
    )
    return parts.selectExpr(
        "event_type",
        "CAST(lag AS INT) AS lag",
        "CAST(n AS BIGINT) AS n_pairs",
        "CAST(CASE WHEN den = 0 THEN 0"
        "          WHEN cov < 0 THEN -((cov * cov * 1000000) div den)"
        "          ELSE (cov * cov * 1000000) div den"
        "     END AS BIGINT) AS r2_signed_micro",
    )


@query(
    "events_cusum_changepoint",
    oracle=f"""
    WITH {_SQL_SERIES},
    pre AS (
      SELECT event_type, h, y,
             CAST(sum(y) OVER (PARTITION BY event_type ORDER BY h)
                  AS HUGEINT) AS prefix,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
                  AS HUGEINT) AS t,
             CAST(sum(y) OVER (PARTITION BY event_type) AS HUGEINT) AS tot,
             CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT) AS n
      FROM series
    ),
    s AS (
      SELECT event_type, h, t, n, tot,
             abs(n * prefix - t * tot) AS s_abs
      FROM pre
    ),
    peak AS (
      SELECT event_type, h, t, n, tot, s_abs,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY s_abs DESC, t) AS rk
      FROM s
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(tot AS BIGINT) AS total_events,
           CAST(t AS BIGINT) AS peak_t,
           CAST(h AS BIGINT) AS peak_hour,
           CAST(s_abs AS BIGINT) AS s_abs_peak,
           CAST(CASE WHEN tot = 0 THEN 0
                     ELSE s_abs * 1000000 // (n * tot) END AS BIGINT)
             AS cusum_micro
    FROM peak WHERE rk = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan (Page 1954) per event type: the hour t
    maximizing |S_t|, S_t = sum_{{i<=t}}(y_i - mean), computed
    division-free as n*prefix_t - t*total so every intermediate is an
    exact integer (DECIMAL(38,0) / HUGEINT — n*prefix reaches ~1e18
    already at 1e13 events x a decade of hours, past int64).

    The peak statistic normalized by n*total (micro-units) is the
    scale-free level-shift score; peak_t near the middle with a large
    score flags a regime change, the standard drift tripwire on a
    training-data ingest feed.  One running-sum window per type over
    the BOUNDED hour grid (wall-clock hours, not input rows), then a
    (|S| desc, t asc) top-1 — no global window anywhere."""
    return cusum_peak(_hourly_series(spark, sf_dir))


def cusum_peak(series: DataFrame) -> DataFrame:
    """The CUSUM peak reduction over a gap-filled (event_type, h, y)
    series — shared verbatim by the batch query and the streaming twin
    so both are held to the identical statistic definition."""
    d38 = "decimal(38,0)"
    wrun = Window.partitionBy("event_type").orderBy("h")
    wall = Window.partitionBy("event_type")
    pre = series.select(
        "event_type",
        "h",
        F.sum(F.col("y").cast(d38)).over(wrun).alias("prefix"),
        F.row_number().over(wrun).cast(d38).alias("t"),
        F.sum(F.col("y").cast(d38)).over(wall).alias("tot"),
        F.count("*").over(wall).cast(d38).alias("n"),
    )
    s = pre.select(
        "event_type",
        "h",
        "t",
        "n",
        "tot",
        F.abs(
            F.col("n") * F.col("prefix") - F.col("t") * F.col("tot")
        ).alias("s_abs"),
    )
    wpk = Window.partitionBy("event_type").orderBy(
        F.col("s_abs").desc(), F.col("t")
    )
    return (
        s.withColumn("rk", F.row_number().over(wpk))
        .filter(F.col("rk") == 1)
        .selectExpr(
            "event_type",
            "CAST(n AS BIGINT) AS n_hours",
            "CAST(tot AS BIGINT) AS total_events",
            "CAST(t AS BIGINT) AS peak_t",
            "CAST(h AS BIGINT) AS peak_hour",
            "CAST(s_abs AS BIGINT) AS s_abs_peak",
            "CAST(CASE WHEN tot = 0 THEN 0"
            "     ELSE s_abs * 1000000 div (n * tot) END AS BIGINT)"
            " AS cusum_micro",
        )
    )


# --- Allen interval algebra ---------------------------------------------------
N_CAMPAIGNS = 6
CAMPAIGN_STRIDE_US = 5 * 24 * HOUR_US   # one window every 5 days
CAMPAIGN_LEN_US = 3 * 24 * HOUR_US      # each lasting 3 days (closed)

# The 13 Allen relations as ONE mutually-exclusive CASE over closed
# intervals [s1,e1] (session) vs [s2,e2] (campaign).  Order matters:
# equality relations are tested before the strict ones they border.
_ALLEN_CASE = """
    CASE
      WHEN s1 = s2 AND e1 = e2 THEN 'equals'
      WHEN e1 < s2 THEN 'before'
      WHEN s1 > e2 THEN 'after'
      WHEN e1 = s2 THEN 'meets'
      WHEN s1 = e2 THEN 'met_by'
      WHEN s1 = s2 AND e1 < e2 THEN 'starts'
      WHEN s1 = s2 THEN 'started_by'
      WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
      WHEN e1 = e2 THEN 'finished_by'
      WHEN s1 > s2 AND e1 < e2 THEN 'during'
      WHEN s1 < s2 AND e1 > e2 THEN 'contains'
      WHEN s1 < s2 THEN 'overlaps'
      ELSE 'overlapped_by'
    END
"""


@query(
    "events_allen_relations",
    oracle=f"""
    WITH se AS (
      SELECT user_id, {SQL_TS_US} AS us, event_id,
             CASE WHEN {SQL_TS_US}
                    - lag({SQL_TS_US}) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                    > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sid AS (
      SELECT user_id, us,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS sid
      FROM se
    ),
    sess AS (
      SELECT user_id, sid, min(us) AS s1, max(us) AS e1
      FROM sid GROUP BY 1, 2
    ),
    t0 AS (SELECT min({SQL_TS_US}) AS m0 FROM events),
    camp AS (
      SELECT w AS campaign_id,
             m0 + w * {CAMPAIGN_STRIDE_US} AS s2,
             m0 + w * {CAMPAIGN_STRIDE_US} + {CAMPAIGN_LEN_US} AS e2
      FROM t0 CROSS JOIN (SELECT unnest(range({N_CAMPAIGNS})) AS w) ws
    ),
    cls AS (
      SELECT c.campaign_id, {_ALLEN_CASE} AS relation
      FROM sess CROSS JOIN camp c
    )
    SELECT CAST(campaign_id AS INT) AS campaign_id, relation,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM cls GROUP BY 1, 2
    """,
)
def events_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra (Allen, CACM 1983): classify every user
    session interval against {N_CAMPAIGNS} fixed campaign windows into
    the 13 canonical temporal relations, counting sessions per
    (campaign, relation) — the full taxonomy behind "did this session
    start inside / span / merely touch the campaign?" audits.

    Sessions are the repo's standard 30-min-gap sessionization (same
    (ts, event_id) total order as events_sessionize); campaign windows
    derive deterministically from the corpus min timestamp (stride 5d,
    length 3d, closed on int64 micros).  The classifier is a single
    shared CASE of pure integer comparisons — mutually exclusive by
    construction, identical text on both engines.  Scale: sessions
    shuffle once on user_id; the {N_CAMPAIGNS}-row campaign table
    broadcasts into the session aggregate, and the output is bounded
    by campaigns x 13 relations regardless of input size."""
    ev = fan_out(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_id", F.col("ts"), ts_us().alias("us")
    )
    worder = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_session = (
        F.when(
            F.col("us") - F.lag("us").over(worder) > SESSION_GAP_US, 1
        ).otherwise(0)
    )
    wrun = Window.partitionBy("user_id").orderBy("us", "event_id")
    sid = ev.select(
        "user_id",
        "us",
        F.sum(new_session).over(wrun).alias("sid"),
    )
    sess = sid.groupBy("user_id", "sid").agg(
        F.min("us").alias("s1"), F.max("us").alias("e1")
    )
    t0 = ev.agg(F.min("us").alias("m0"))
    camp = (
        t0.select(
            F.explode(F.sequence(F.lit(0), F.lit(N_CAMPAIGNS - 1))).alias(
                "campaign_id"
            ),
            "m0",
        )
        .select(
            "campaign_id",
            (
                F.col("m0") + F.col("campaign_id") * CAMPAIGN_STRIDE_US
            ).alias("s2"),
            (
                F.col("m0")
                + F.col("campaign_id") * CAMPAIGN_STRIDE_US
                + CAMPAIGN_LEN_US
            ).alias("e2"),
        )
    )
    cls = sess.crossJoin(F.broadcast(camp)).select(
        "campaign_id", F.expr(_ALLEN_CASE).alias("relation")
    )
    return cls.groupBy("campaign_id", "relation").agg(
        F.count("*").alias("n_sessions")
    ).selectExpr(
        "CAST(campaign_id AS INT) AS campaign_id",
        "relation",
        "CAST(n_sessions AS BIGINT) AS n_sessions",
    )


# --- Mann-Kendall trend test --------------------------------------------------
DAY_US = 86_400_000_000

_SQL_DAILY = f"""
    evd AS (SELECT event_type, {SQL_TS_US} // {DAY_US} AS d FROM events),
    db AS (SELECT min(d) AS d0, max(d) AS d1 FROM evd),
    dgrid AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM db),
    dtypes AS (SELECT DISTINCT event_type FROM evd),
    dcnt AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS y
             FROM evd GROUP BY 1, 2),
    dseries AS (
      SELECT t.event_type, g.d, COALESCE(c.y, 0) AS y
      FROM dtypes t CROSS JOIN dgrid g
      LEFT JOIN dcnt c ON c.event_type = t.event_type AND c.d = g.d
    )
"""


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled (event_type, d, y) DAILY count series — the Spark twin
    of _SQL_DAILY, shared by events_mann_kendall and events_theil_sen.
    Wall-clock-bounded (a decade is 3650 days x |types|), deterministic,
    and consumed by two trend queries per session — exactly the
    build-once-serve-many shape plans/shared.py exists for, so the
    fact-scale events scan behind it runs once per (session, sf_dir)."""
    def build() -> DataFrame:
        ev = fan_out(load_table(spark, sf_dir, "events")).select(
            "event_type", (ts_us() / DAY_US).cast("long").alias("d")
        )
        dcnt = ev.groupBy("event_type", "d").agg(F.count("*").alias("y"))
        db = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        dgrid = db.select(
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
        )
        dtypes = ev.select("event_type").distinct()
        return (
            dtypes.crossJoin(F.broadcast(dgrid))
            .join(dcnt, ["event_type", "d"], "left")
            .select(
                "event_type", "d", F.coalesce(F.col("y"), F.lit(0)).alias("y")
            )
        )

    return shared_intermediate(spark, sf_dir, "daily_series", build)


@query(
    "events_mann_kendall",
    oracle=f"""
    WITH {_SQL_DAILY},
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                  ELSE 0 END AS sgn
      FROM dseries a JOIN dseries b
        ON b.event_type = a.event_type AND b.d > a.d
    ),
    s AS (
      SELECT event_type, CAST(sum(sgn) AS HUGEINT) AS s_stat
      FROM pairs GROUP BY 1
    ),
    nn AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n
      FROM dseries GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS HUGEINT) AS tie_term
      FROM (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS t
        FROM dseries GROUP BY event_type, y
      ) tg GROUP BY 1
    ),
    v AS (
      SELECT nn.event_type, nn.n, s.s_stat,
             nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term AS var18
      FROM nn JOIN s ON s.event_type = nn.event_type
      JOIN ties ON ties.event_type = nn.event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(var18 AS BIGINT) AS var18,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS trend,
           CAST(CASE WHEN var18 = 0 OR abs(s_stat) < 1 THEN 0
                     ELSE (abs(s_stat) - 1) * (abs(s_stat) - 1) * 18000
                          // var18 END AS BIGINT) AS zsq_milli
    FROM v
    """,
)
def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test (Mann 1945; Kendall 1975) on the
    gap-filled DAILY count series per event type: S = sum over day
    pairs i<j of sign(y_j - y_i), the tie-corrected variance times 18
    (kept as the exact integer var18 = n(n-1)(2n+5) - sum t(t-1)(2t+5)),
    and the continuity-corrected squared z statistic in milli-units
    ((|S|-1)^2 * 18000 // var18 — the sqrt-free twin, same convention
    as events_autocorr_lag's signed r^2).

    The pair join is per-type over the WALL-CLOCK-bounded daily grid
    (a decade is 3650 days -> 6.7M sign pairs per type, independent of
    input row count; the per-day aggregate underneath is map-side
    combined at fact scale), signs are a CASE shared verbatim by both
    engines, and every accumulation runs in DECIMAL(38,0)/HUGEINT."""
    dseries = _daily_series(spark, sf_dir)
    d38 = "decimal(38,0)"
    a = dseries.alias("a")
    b = dseries.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.d") > F.col("a.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.expr(
            "CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1"
            " ELSE 0 END"
        ).alias("sgn"),
    )
    s = pairs.groupBy("event_type").agg(
        F.sum(F.col("sgn").cast(d38)).alias("s_stat")
    )
    nn = dseries.groupBy("event_type").agg(F.count("*").cast(d38).alias("n"))
    ties = (
        dseries.groupBy("event_type", "y")
        .agg(F.count("*").cast(d38).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.expr("t * (t - 1) * (2 * t + 5)")
            ).alias("tie_term")
        )
    )
    v = (
        nn.join(s, "event_type")
        .join(ties, "event_type")
        .withColumn(
            "var18",
            F.expr("n * (n - 1) * (2 * n + 5) - tie_term"),
        )
    )
    out = v.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_days",
        "CAST(s_stat AS BIGINT) AS s_stat",
        "CAST(var18 AS BIGINT) AS var18",
        "CASE WHEN s_stat > 0 THEN 'increasing'"
        " WHEN s_stat < 0 THEN 'decreasing'"
        " ELSE 'no_trend' END AS trend",
        "CAST(CASE WHEN var18 = 0 OR abs(s_stat) < 1 THEN 0"
        " ELSE (abs(s_stat) - 1) * (abs(s_stat) - 1) * 18000"
        " div var18 END AS BIGINT) AS zsq_milli",
    ).localCheckpoint(eager=True)
    # dseries is the session-shared slot (plans/shared.py) — never
    # unpersisted by a consumer; the slot owns its lifetime.
    return out


# --- Theil-Sen robust trend slope ---------------------------------------------
SEN_SCALE = 1_000_000  # slope reported in micro-counts per day


def sen_ranked_slopes(dseries: DataFrame) -> DataFrame:
    """All pairwise daily slopes, ranked per type under the total order
    (slope_micro, da, db) with the per-type pair count — the lazy core
    of events_theil_sen, shared by the registered query, the plan
    contract, and the property test so they all exercise ONE plan."""
    a = dseries.alias("a")
    b = dseries.alias("b")
    spairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.d") > F.col("a.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.expr(f"((b.y - a.y) * {SEN_SCALE}) div (b.d - a.d)").alias(
            "slope_micro"
        ),
        F.col("a.d").alias("da"),
        F.col("b.d").alias("db2"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        "slope_micro", "da", "db2"
    )
    w_all = Window.partitionBy("event_type")
    return spairs.select(
        "event_type",
        "slope_micro",
        F.row_number().over(w_rank).alias("rk"),
        F.count("*").over(w_all).alias("m"),
    )


def sen_median_slopes(dseries: DataFrame) -> DataFrame:
    """(event_type, slope_micro, n_pairs): the LOWER median — the row at
    rank (m+1) div 2 — of the ranked pairwise slopes."""
    return (
        sen_ranked_slopes(dseries)
        .filter(F.col("rk") == F.expr("(m + 1) div 2"))
        .select(
            "event_type",
            "slope_micro",
            F.col("m").cast("long").alias("n_pairs"),
        )
    )


@query(
    "events_theil_sen",
    oracle=f"""
    WITH {_SQL_DAILY},
    spairs AS (
      SELECT a.event_type,
             ((b.y - a.y) * {SEN_SCALE}) // (b.d - a.d) AS slope_micro,
             a.d AS da, b.d AS db2
      FROM dseries a JOIN dseries b
        ON b.event_type = a.event_type AND b.d > a.d
    ),
    rankeds AS (
      SELECT event_type, slope_micro,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY slope_micro, da, db2) AS rk,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM spairs
    ),
    med AS (
      SELECT event_type, slope_micro, CAST(m AS BIGINT) AS n_pairs
      FROM rankeds WHERE rk = (m + 1) // 2
    ),
    dn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
      FROM dseries GROUP BY 1
    )
    SELECT dn.event_type, dn.n_days, med.n_pairs,
           CAST(med.slope_micro AS BIGINT) AS sen_slope_micro,
           CASE WHEN med.slope_micro > 0 THEN 'increasing'
                WHEN med.slope_micro < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM dn JOIN med ON med.event_type = dn.event_type
    """,
)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator (Theil 1950; Sen 1968) on the
    gap-filled daily count series per event type: the median of all
    pairwise slopes (y_j - y_i)/(d_j - d_i), i < j — the outlier-proof
    companion to events_mann_kendall's S test (up to ~29% of the days
    can be corrupted before the estimate moves, vs one bad day for OLS).

    Integer-exact cross-engine: slopes are quantized to micro-counts/day
    with truncating division (Spark `div` == DuckDB `//` toward zero,
    module convention), and the median is the LOWER median — the row at
    rank (m+1) div 2 under the total order (slope, da, db) — so both
    engines pick the identical element; no averaging, no floats.  The
    per-row product (y_j - y_i) * 1e6 bounds the daily count < ~9.2e12
    in int64 (the events_autocorr_lag magnitude-bound convention; past
    that, pre-scale y — the slope ranking is scale-invariant up to the
    division quantum).  Pair work is per-type over the WALL-CLOCK-bounded
    day grid exactly like Mann-Kendall (a decade -> 6.7M pairs/type,
    independent of fact rows); the fact table itself only feeds the
    map-side-combined per-day aggregate."""
    dseries = _daily_series(spark, sf_dir)
    med = sen_median_slopes(dseries)
    dn = dseries.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days")
    )
    out = (
        dn.join(med, "event_type")
        .selectExpr(
            "event_type",
            "n_days",
            "n_pairs",
            "CAST(slope_micro AS BIGINT) AS sen_slope_micro",
            "CASE WHEN slope_micro > 0 THEN 'increasing'"
            " WHEN slope_micro < 0 THEN 'decreasing'"
            " ELSE 'no_trend' END AS trend",
        )
        .localCheckpoint(eager=True)
    )
    # dseries is the session-shared slot — consumers never unpersist it.
    return out


# --- Holt linear-trend forecast ----------------------------------------------
HOLT_LAGS = 8  # dyadic truncation depth (tail weight < 2^-8)


def _holt_terms_sql(expr_fmt: str) -> str:
    """Sum of dyadic-weighted lag terms via ARITHMETIC RIGHT SHIFT —
    >> floors in BOTH engines (verified: -5 >> 1 = -3 on each).
    Integer division also agrees cross-engine (both truncate toward
    zero; verified -7 div 2 = -3 = DuckDB -7 // 2), but truncation is
    NOT division by 2^k on negative trend diffs — the shift IS the
    exact floored dyadic weight, so no sign-CASE is needed.  Never mix
    >> and div on signed values in one statistic: floor vs truncate
    differ by 1 on negative odd operands."""
    return " + ".join(
        f"({expr_fmt.format(j=j)} >> {j + 1})" for j in range(HOLT_LAGS)
    )


@query(
    "events_holt_forecast",
    oracle=f"""
    WITH {_SQL_SERIES},
    lagged AS (
      SELECT event_type, h, y,
             {", ".join(
                 f"COALESCE(lag(y, {j}) OVER w, 0) AS l{j}"
                 for j in range(HOLT_LAGS + 1)
             )}
      FROM series
      WINDOW w AS (PARTITION BY event_type ORDER BY h)
    ),
    sm AS (
      SELECT event_type, h, y,
             {_holt_terms_sql("l{j}")} AS level_s,
             {" + ".join(
                 f"((l{j} - l{j + 1}) >> {j + 1})" for j in range(HOLT_LAGS)
             )} AS trend_s
      FROM lagged
    )
    SELECT event_type, h, y,
           CAST(level_s AS BIGINT) AS level_s,
           CAST(trend_s AS BIGINT) AS trend_s,
           CAST(level_s + trend_s AS BIGINT) AS forecast_next
    FROM sm
    """,
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (Holt 1957) as a
    TRUNCATED DYADIC CONVOLUTION over the gap-filled hourly series:
    level_t = sum_j y_(t-j) >> (j+1) (alpha = 1/2, {HOLT_LAGS} lags,
    tail weight < 2^-{HOLT_LAGS}), trend_t = the same smoothing over
    first differences, forecast_(t+1) = level_t + trend_t — the
    recursive Holt form is sequential and float-fragile (the same
    argument events_ewma_smooth makes); the windowed convolution is
    one WindowExec per type and bit-identical cross-engine because
    every weight is an ARITHMETIC SHIFT (>> floors identically in both
    engines even on the signed trend diffs — integer div would not).

    The per-(type, hour) forecast next to its actual is the backtest
    table a capacity-planning monitor tracks.  Scale: all
    {HOLT_LAGS + 1} lag columns share ONE window spec over the
    wall-clock-bounded grid."""
    series = _hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("h")
    lag_cols = [
        F.coalesce(F.lag("y", j).over(w), F.lit(0)).alias(f"l{j}")
        for j in range(HOLT_LAGS + 1)
    ]
    lagged = series.select("event_type", "h", "y", *lag_cols)
    level = " + ".join(
        f"(l{j} >> {j + 1})" for j in range(HOLT_LAGS)
    )
    trend = " + ".join(
        f"((l{j} - l{j + 1}) >> {j + 1})" for j in range(HOLT_LAGS)
    )
    return lagged.selectExpr(
        "event_type",
        "h",
        "y",
        f"CAST({level} AS BIGINT) AS level_s",
        f"CAST({trend} AS BIGINT) AS trend_s",
        f"CAST(({level}) + ({trend}) AS BIGINT) AS forecast_next",
    )
