"""Event-stream analytics: sessionization, tumbling windows, as-of
join — the [EXT] stream-shaped surface over the ``events`` fixture.

The reference's only temporal operator is the LWW window
(``/root/reference/pipelines/daily_data_handler.py:106-109``); these
generalize it.  Every query here is batch DataFrame algebra that
transfers unchanged to Structured Streaming (``readStream`` +
``withWatermark``) because it uses only event-time columns.

Timestamp precision: the fixture's ``ts`` is parquet TIMESTAMP(NANOS);
Spark reads it truncated to microseconds (fixtures.load_table), so
every oracle CTE applies ``CAST(ts AS TIMESTAMP)`` to pin DuckDB to
the identical microsecond values before any comparison or bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fixtures import load_table
from ..operators.asofjoin import asof_join
from ..operators.merge import latest_per_key
from ..operators.rangejoin import range_join
from ..operators.windows import hopping_counts, sessionize, tumbling_counts
from ..sources import artifacts, versions

#: µs-pinned events relation for every oracle below.
_EV_US = "ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events)"


# --------------------------------------------------------------------------
# Gap-based sessionization (lag + running sum; one shuffle, two frames)
# --------------------------------------------------------------------------

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = sessionize(ev, ["user_id"], "ts", gap="30 minutes", order_tiebreak=["event_id"])
    return out.select("user_id", "event_id", "ts", "session_id")


ORACLE_SESSIONIZE = f"""
WITH {_EV_US},
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id, event_id, ts,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM flagged
"""


# --------------------------------------------------------------------------
# Tumbling-window aggregate (epoch-aligned 6h buckets; F.window is the
# same operator Structured Streaming uses for windowed aggs)
# --------------------------------------------------------------------------

def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev, "ts", "6 hours", ["event_type"], agg_col="value")


ORACLE_TUMBLING = f"""
WITH {_EV_US}
SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket, event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(27,8))), 4) AS DOUBLE) AS total
FROM ev
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Hopping (sliding) window aggregate: 6h windows every 2h — each event
# lands in exactly width/slide = 3 overlapping windows.  The oracle
# reconstructs the same window set by unrolling the 3 slide offsets
# per event (epoch-aligned, so time_bucket(slide) - k*slide enumerates
# exactly the covering starts).
# --------------------------------------------------------------------------

def q_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return hopping_counts(ev, "ts", "6 hours", "2 hours", ["event_type"], agg_col="value")


ORACLE_HOPPING = f"""
WITH {_EV_US},
hops AS (
  SELECT time_bucket(INTERVAL '2 hours', ts) - k * INTERVAL '2 hours' AS bucket,
         event_type, value
  FROM ev CROSS JOIN range(0, 3) offs(k)
)
SELECT bucket, event_type, count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(27,8))), 4) AS DOUBLE) AS total
FROM hops
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Metric anomaly detection (operators/anomaly.py): hourly event
# volumes per type, hours beyond 3 sample standard deviations (the
# fixture's traffic bursts) flagged by the
# EXACT-INTEGER z-score inequality (x·n−S)²·(n−1) > t²·n·(n·Q−S²) —
# no float mean/stddev anywhere, so the decision is bit-identical in
# both engines (a stddev_samp formulation would depend on float
# summation order).
# --------------------------------------------------------------------------

def q_events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anomaly import zscore_outliers

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    return zscore_outliers(hourly, ["event_type"], "n", threshold=3)


ORACLE_EVENTS_ANOMALY_DAYS = """
WITH d AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, count(n) AS nn, sum(n) AS ss, sum(n * n) AS qq
  FROM d GROUP BY 1
)
SELECT event_type, hour, n
FROM d JOIN s USING (event_type)
WHERE nn >= 2
  AND (n * nn - ss) * (n * nn - ss) * (nn - 1) > 9 * nn * (nn * qq - ss * ss)
"""


# --------------------------------------------------------------------------
# As-of join: each purchase paired with the user's latest prior view
# (point-in-time feature lookup).  Merge/union plan — see
# operators/asofjoin.py; the oracle is DuckDB's native ASOF JOIN.
# --------------------------------------------------------------------------

def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    # One view per (user, µs-timestamp): ASOF ties are otherwise
    # engine-defined.  Keep the max event_id, same rule as the oracle.
    views = latest_per_key(views, ["user_id", "ts"], ["view_event_id"])
    out = asof_join(purchases, views, on=["user_id"], ts_col="ts")
    return out.select("user_id", "event_id", "ts", "value", "view_event_id", "view_value")


ORACLE_ASOF_PURCHASE_VIEW = f"""
WITH {_EV_US},
purchases AS (
  SELECT user_id, event_id, ts, value FROM ev WHERE event_type = 'purchase'
),
views AS (
  SELECT user_id, ts, event_id AS view_event_id, value AS view_value
  FROM ev WHERE event_type = 'view'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT p.user_id, p.event_id, p.ts, p.value, v.view_event_id, v.view_value
FROM purchases p
ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def q_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: each purchase paired with the
    user's NEXT view within 1 hour (nulls beyond) — the pandas
    ``merge_asof(direction='forward', tolerance=...)`` contract, run as
    one distributed window pass."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_event_id"),
    )
    # One view per (user, µs): forward ties keep the MIN event_id (the
    # first row the scan meets), so pre-dedup to min like the oracle.
    w_min = F.min("view_event_id")
    views = views.groupBy("user_id", "ts").agg(w_min.alias("view_event_id"))
    out = asof_join(
        purchases, views, on=["user_id"], ts_col="ts",
        direction="forward", tolerance="1 HOUR",
    )
    return out.select("user_id", "event_id", "ts", "value", "view_event_id")


ORACLE_ASOF_FORWARD_TOLERANCE = f"""
WITH {_EV_US},
purchases AS (
  SELECT user_id, event_id, ts, value FROM ev WHERE event_type = 'purchase'
),
views AS (
  SELECT user_id, ts, min(event_id) AS view_event_id
  FROM ev WHERE event_type = 'view' GROUP BY user_id, ts
),
nearest AS (
  SELECT p.user_id, p.event_id, p.ts, p.value, v.view_event_id, v.ts AS v_ts,
         row_number() OVER (PARTITION BY p.user_id, p.event_id
                            ORDER BY v.ts ASC NULLS LAST) AS rn
  FROM purchases p LEFT JOIN views v
    ON p.user_id = v.user_id AND v.ts >= p.ts
)
SELECT user_id, event_id, ts, value,
       CASE WHEN v_ts <= ts + INTERVAL 1 HOUR THEN view_event_id END AS view_event_id
FROM nearest WHERE rn = 1
"""


def q_range_join_signup_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment via the bucketized range join: views within
    1 hour of the same user's signup.  The plan is an EQUI-join on
    (user_id, hour-bucket) + in-bucket filter — never the
    BroadcastNestedLoopJoin Spark plans for a raw BETWEEN join (plan
    shape asserted in tests/test_plans.py)."""
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_event_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"), "ts"
    )
    out = range_join(
        views, signups, point_ts="ts", start_col="start_ts", end_col="end_ts",
        on=["user_id"], bucket="1 hour",
    )
    return out.select("user_id", "signup_event_id", "view_event_id", "ts")


ORACLE_RANGE_JOIN_SIGNUP_VIEWS = f"""
WITH {_EV_US}
SELECT s.user_id, s.event_id AS signup_event_id, v.event_id AS view_event_id, v.ts
FROM ev s JOIN ev v
  ON s.user_id = v.user_id
 AND v.ts >= s.ts AND v.ts <= s.ts + INTERVAL 1 HOUR
WHERE s.event_type = 'signup' AND v.event_type = 'view'
"""


# --------------------------------------------------------------------------
# Native session windows: Spark's F.session_window gap-merge aggregate
# — the SAME operator Structured Streaming uses for stateful session
# aggregation, so this batch query is also the streaming contract
# (equivalence tested in test_streaming_window.py).  End = last event
# + gap by session_window's definition; the oracle reproduces that
# from the lag/running-sum sessionization.
# --------------------------------------------------------------------------

def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(27,8)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


ORACLE_SESSION_WINDOW = f"""
WITH {_EV_US},
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(27,8))), 4) AS DOUBLE) AS total_value
FROM sessions GROUP BY user_id, sid
"""


# --------------------------------------------------------------------------
# Approximate-aggregate bound queries: the sketch runs INSIDE the
# query next to its exact twin and the driver hash-checks the bound —
# making sketch quality gate-visible, not buried in pytest.  At 100 TB
# you run ONLY the sketch (one pass, constant memory per group); these
# twins are the certification harness.
# --------------------------------------------------------------------------

def q_approx_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ (rsd=1%) vs exact count-distinct, asserted within
    ±5% per group — 5 standard errors, so a hash-fail means the sketch
    is broken, not unlucky."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("__approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                <= F.col("exact_users") * 0.05
            ).alias("within_5pct"),
        )
    )


ORACLE_APPROX_DISTINCT_BOUND = f"""
WITH {_EV_US}
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS within_5pct
FROM ev GROUP BY event_type
"""


def q_approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch median (accuracy=10000 => rank error <= N/10000) vs
    the exact 0.499/0.501 quantile envelope — a 10x-slack rank bound
    the sketch must always satisfy."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10000).alias("__approx"),
            F.expr("percentile(value, 0.499)").alias("__lo"),
            F.expr("percentile(value, 0.501)").alias("__hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            "n",
            (
                (F.col("__approx") >= F.col("__lo"))
                & (F.col("__approx") <= F.col("__hi"))
            ).alias("within_rank_bound"),
        )
    )


ORACLE_APPROX_PERCENTILE_BOUND = f"""
WITH {_EV_US}
SELECT event_type, count(*) AS n, TRUE AS within_rank_bound
FROM ev GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Funnel conversion: signup -> view -> purchase, each stage's timestamp
# the MIN at-or-after the previous stage's.  Three role-scans of events
# (each with its event_type filter pushed to parquet) chained by
# per-user joins; the per-user stage tables shrink at every step, and
# AQE broadcasts them when small.
# --------------------------------------------------------------------------

def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def stage(etype):
        return ev.filter(F.col("event_type") == etype).select("user_id", "ts")

    s = stage("signup").groupBy("user_id").agg(F.min("ts").alias("t_s"))
    v = (
        stage("view")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t_s"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_v"))
    )
    p = (
        stage("purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_p"))
    )
    return (
        s.join(v, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_signup"),
            F.count("t_v").alias("n_viewed"),
            F.count("t_p").alias("n_purchased"),
        )
    )


ORACLE_FUNNEL_CONVERSION = f"""
WITH {_EV_US},
s AS (
  SELECT user_id, min(ts) AS t_s FROM ev WHERE event_type = 'signup'
  GROUP BY user_id
),
v AS (
  SELECT ev.user_id, min(ev.ts) AS t_v
  FROM ev JOIN s ON ev.user_id = s.user_id
  WHERE ev.event_type = 'view' AND ev.ts >= s.t_s
  GROUP BY ev.user_id
),
p AS (
  SELECT ev.user_id, min(ev.ts) AS t_p
  FROM ev JOIN v ON ev.user_id = v.user_id
  WHERE ev.event_type = 'purchase' AND ev.ts >= v.t_v
  GROUP BY ev.user_id
)
SELECT count(*) AS n_signup, count(t_v) AS n_viewed, count(t_p) AS n_purchased
FROM s LEFT JOIN v ON s.user_id = v.user_id LEFT JOIN p ON s.user_id = p.user_id
"""


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week, activity
# counted per week offset.  ONE events scan: the first-event week is a
# min() window over user_id riding the same exchange as the
# per-(user, week) dedup that follows it.
# --------------------------------------------------------------------------

def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    w_user = Window.partitionBy("user_id")
    per = (
        ev.select("user_id", week.alias("wk"))
        .withColumn("cohort_wk", F.min("wk").over(w_user))
        .select("user_id", "cohort_wk", "wk")
        .distinct()
    )
    return per.groupBy(
        F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
        ((F.datediff(F.col("wk"), F.col("cohort_wk"))) / 7)
        .cast("bigint")
        .alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


ORACLE_COHORT_RETENTION = f"""
WITH {_EV_US},
per AS (
  SELECT DISTINCT user_id,
         min(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS cohort_wk,
         date_trunc('week', ts) AS wk
  FROM ev
)
SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT) AS week_offset,
       count(*) AS n_users
FROM per GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Time-series similarity search: each user's activity becomes a fixed
# 24-dim hour-of-day vector (one conditional-aggregate pass — exact
# decimal sums, so the vectors are engine-identical), then top-k
# cosine against a BOUNDED query set via broadcast — the same
# bounded-queries/corpus-scanned-once contract as brute_force_topk,
# on derived behavior vectors instead of stored embeddings.
# --------------------------------------------------------------------------

_HOURS = list(range(24))


def q_user_behavior_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity, l2_norm

    ev = load_table(spark, sf_dir, "events")
    sums = [
        F.coalesce(
            F.round(
                F.sum(
                    F.when(
                        F.hour("ts") == h, F.col("value").cast("decimal(27,8)")
                    )
                ),
                4,
            ).cast("double"),
            F.lit(0.0),
        ).alias(f"h{h}")
        for h in _HOURS
    ]
    # 24 flat columns collapse into ONE array column immediately:
    # per-hour column chains (24-term dot/norm expressions over both
    # join sides) blow up Catalyst's commutative canonicalization
    # (measured: driver OOM in orderCommutative) — arrays +
    # zip_with/aggregate fold left-to-right, IEEE-identical to the SQL
    # twin's h0+h1+... chain, and the plan stays linear.
    vec = (
        ev.groupBy("user_id")
        .agg(*sums)
        .select(
            "user_id", F.array(*[F.col(f"h{h}") for h in _HOURS]).alias("v")
        )
        .withColumn("__norm", l2_norm("v"))
        .filter(F.col("__norm") > 0)
    )
    q = vec.filter(F.col("user_id") < 5).select(
        F.col("user_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("__norm").alias("__qnorm"),
    )
    pairs = vec.join(F.broadcast(q), F.col("user_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("user_id").alias("neighbor_id"),
        cosine_similarity("v", "qv", "__norm", "__qnorm").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


def _behavior_sql() -> str:
    sums = ", ".join(
        "coalesce(CAST(round(sum(CASE WHEN hour(ts) = {h} THEN "
        "CAST(value AS DECIMAL(27,8)) END), 4) AS DOUBLE), 0.0) AS h{h}".format(h=h)
        for h in _HOURS
    )
    sq = " + ".join(f"h{h} * h{h}" for h in _HOURS)
    dot = " + ".join(f"v.h{h} * q.h{h}" for h in _HOURS)
    return f"""
WITH {_EV_US},
vec0 AS (SELECT user_id, {sums} FROM ev GROUP BY user_id),
vec AS (SELECT *, sqrt({sq}) AS nrm FROM vec0 WHERE sqrt({sq}) > 0),
q AS (SELECT * FROM vec WHERE user_id < 5)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT q.user_id AS query_id, v.user_id AS neighbor_id,
         ({dot}) / (v.nrm * q.nrm) AS cosine,
         row_number() OVER (PARTITION BY q.user_id
                            ORDER BY ({dot}) / (v.nrm * q.nrm) DESC,
                                     v.user_id ASC) AS rank
  FROM vec v JOIN q ON v.user_id <> q.user_id
) WHERE rank <= 5
"""


ORACLE_USER_BEHAVIOR_TOPK = _behavior_sql()




def q_events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report (PSI) between two deterministic
    cohorts of the event stream — even vs odd ``user_id`` — over
    ``event_type``: the ingest-day composition check every production
    pipeline alerts on.  Per-bucket PSI terms (no cross-row float
    summation), exactly oracle-hash-checkable."""
    from ..operators.validate import drift_report

    ev = load_table(spark, sf_dir, "events")
    return drift_report(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
        "event_type",
    )


ORACLE_EVENTS_DRIFT_PSI = """
WITH ca AS (
  SELECT event_type AS category, count(*) AS n_a FROM events
  WHERE user_id % 2 = 0 GROUP BY 1
),
cb AS (
  SELECT event_type AS category, count(*) AS n_b FROM events
  WHERE user_id % 2 = 1 GROUP BY 1
),
j AS (
  SELECT coalesce(ca.category, cb.category) AS category,
         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM ca FULL OUTER JOIN cb ON ca.category IS NOT DISTINCT FROM cb.category
),
t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb, count(*) AS k FROM j)
SELECT category, n_a, n_b,
  round((n_a + 0.5) / (ta + 0.5 * k), 6) AS share_a,
  round((n_b + 0.5) / (tb + 0.5 * k), 6) AS share_b,
  round(((n_a + 0.5) / (ta + 0.5 * k) - (n_b + 0.5) / (tb + 0.5 * k))
        * ln(((n_a + 0.5) / (ta + 0.5 * k)) / ((n_b + 0.5) / (tb + 0.5 * k))), 6)
    AS psi_term
FROM j CROSS JOIN t
"""



def _drift_report_store(spark: SparkSession, sf_dir: str) -> str:
    """Committed drift-monitor artifact root for the events table, kept
    in the artifact store (``sources/artifacts.py``): the availableNow
    streaming run happens ONCE per table version outside any consumer,
    and the gate query only READS the committed report, proving the
    counts-first/report-second epoch protocol end-to-end under the
    driver's hash (VERDICT r7 next #7)."""
    import os

    from ..streaming import finish_artifact_build
    from ..streaming.drift_stream import drift_stream

    def build(root):
        ev = load_table(spark, sf_dir, "events")  # sets the nanos conf
        ref_counts = (
            ev.filter(F.col("user_id") % 2 == 0)
            .groupBy(F.col("event_type").alias("category"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .parquet(artifacts.stage_table(sf_dir, "events", root))
            .select("user_id", "event_type")
            .filter(F.col("user_id") % 2 == 1)
        )
        q = drift_stream(
            stream,
            ref_counts,
            "event_type",
            os.path.join(root, "counts"),
            os.path.join(root, "report"),
            os.path.join(root, "ckpt"),
        )
        finish_artifact_build(q, root, what="drift artifact")
        return root

    return artifacts.get(spark, sf_dir, "drift", build)


def q_events_drift_psi_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events_drift_psi`` SERVED from the streaming monitor's
    committed artifact instead of recomputed: an ``availableNow``
    ``drift_stream`` run ingests the odd-user cohort against the
    even-user reference counts, and this query reads the latest
    committed epoch's report (``versions.read_latest``) — the
    ``text_bm25_topk`` persisted-serve pattern applied to the drift
    monitor, driver-hash-checked against the same PSI oracle as the
    batch query.  Proves counts-first/report-second epoch commit +
    additive count IVM end-to-end, not just batch≡stream in pytest."""
    import os

    root = _drift_report_store(spark, sf_dir)
    return versions.read_latest(
        spark, [os.path.join(root, "counts"), os.path.join(root, "report")]
    )[1]


def q_events_drift_psi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events_drift_psi`` sliced per ingest DAY — the monitor shape
    production actually alerts on ("which day drifted?"): PSI terms
    between the even- and odd-user cohorts of ``event_type``, computed
    independently within each day (group-local shares and category
    count), via ``drift_report_grouped``."""
    from ..operators.validate import drift_report_grouped

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    return drift_report_grouped(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
        "event_type",
        ["day"],
    )


ORACLE_EVENTS_DRIFT_PSI_DAILY = """
WITH ev AS (
  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id, event_type
  FROM events
),
ca AS (
  SELECT day, event_type AS category, count(*) AS n_a FROM ev
  WHERE user_id % 2 = 0 GROUP BY 1, 2
),
cb AS (
  SELECT day, event_type AS category, count(*) AS n_b FROM ev
  WHERE user_id % 2 = 1 GROUP BY 1, 2
),
j AS (
  SELECT coalesce(ca.day, cb.day) AS day,
         coalesce(ca.category, cb.category) AS category,
         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM ca FULL OUTER JOIN cb
    ON ca.category IS NOT DISTINCT FROM cb.category
   AND ca.day IS NOT DISTINCT FROM cb.day
),
t AS (SELECT day, sum(n_a) AS ta, sum(n_b) AS tb, count(*) AS k
      FROM j GROUP BY 1)
SELECT j.day, category, n_a, n_b,
  round((n_a + 0.5) / (ta + 0.5 * k), 6) AS share_a,
  round((n_b + 0.5) / (tb + 0.5 * k), 6) AS share_b,
  round(((n_a + 0.5) / (ta + 0.5 * k) - (n_b + 0.5) / (tb + 0.5 * k))
        * ln(((n_a + 0.5) / (ta + 0.5 * k)) / ((n_b + 0.5) / (tb + 0.5 * k))), 6)
    AS psi_term
FROM j JOIN t ON j.day IS NOT DISTINCT FROM t.day
"""


def q_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split of the event stream: train strictly
    before Jan 22, a 1-day purge gap (de Prado embargo), test from
    Jan 23 — per-row assignment so the oracle hash pins every row's
    fate, not just the counts."""
    from ..operators.sampling import split_temporal

    ev = load_table(spark, sf_dir, "events")
    out = split_temporal(ev, "ts", train_end="2024-01-22 00:00:00", embargo="1 day")
    return out.select("event_id", "split")


ORACLE_SPLIT_TEMPORAL = """
SELECT event_id,
  CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-22 00:00:00' THEN 'train'
       WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-23 00:00:00' THEN 'test'
       WHEN ts IS NOT NULL THEN 'embargo'
  END AS split
FROM events
"""

QUERIES = {
    "events_sessionize": q_sessionize,
    "events_tumbling_6h": q_tumbling,
    "events_hopping_6h_2h": q_hopping,
    "events_anomaly_days": q_events_anomaly_days,
    "events_drift_psi": q_events_drift_psi,
    "events_drift_psi_served": q_events_drift_psi_served,
    "events_drift_psi_daily": q_events_drift_psi_daily,
    "split_temporal": q_split_temporal,
    "asof_purchase_view": q_asof_purchase_view,
    "asof_forward_tolerance": q_asof_forward_tolerance,
    "range_join_signup_views": q_range_join_signup_views,
    "events_session_window": q_session_window,
    "approx_distinct_bound": q_approx_distinct_bound,
    "approx_percentile_bound": q_approx_percentile_bound,
    "funnel_conversion": q_funnel_conversion,
    "cohort_retention": q_cohort_retention,
    "user_behavior_topk": q_user_behavior_topk,
}

ORACLE = {
    "events_sessionize": ORACLE_SESSIONIZE,
    "events_tumbling_6h": ORACLE_TUMBLING,
    "events_hopping_6h_2h": ORACLE_HOPPING,
    "events_anomaly_days": ORACLE_EVENTS_ANOMALY_DAYS,
    "events_drift_psi": ORACLE_EVENTS_DRIFT_PSI,
    "events_drift_psi_served": ORACLE_EVENTS_DRIFT_PSI,
    "events_drift_psi_daily": ORACLE_EVENTS_DRIFT_PSI_DAILY,
    "split_temporal": ORACLE_SPLIT_TEMPORAL,
    "asof_purchase_view": ORACLE_ASOF_PURCHASE_VIEW,
    "asof_forward_tolerance": ORACLE_ASOF_FORWARD_TOLERANCE,
    "range_join_signup_views": ORACLE_RANGE_JOIN_SIGNUP_VIEWS,
    "events_session_window": ORACLE_SESSION_WINDOW,
    "approx_distinct_bound": ORACLE_APPROX_DISTINCT_BOUND,
    "approx_percentile_bound": ORACLE_APPROX_PERCENTILE_BOUND,
    "funnel_conversion": ORACLE_FUNNEL_CONVERSION,
    "cohort_retention": ORACLE_COHORT_RETENTION,
    "user_behavior_topk": ORACLE_USER_BEHAVIOR_TOPK,
}
