"""CDC merge-algebra queries (SURVEY.md §2) with DuckDB oracles.

Each query re-expresses one or more reference operators over the
driver's ``events`` fixture; the paired ORACLE entry is the ANSI-SQL
statement of the same semantics (SURVEY.md §3.3 "top-3 queries").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import CDC_PAYLOAD_SCHEMA, OP_CASE_SQL, cdc_envelope, load_table, op_expr
from ..operators.cdc_parse import parse_envelope, route_ops
from ..operators.merge import (
    apply_changes,
    coalesce_updates,
    increment_append,
    latest_per_key,
    merge_snapshot,
)
from ..sources import artifacts

PK = ["id"]
ORDER = ["timestamp", "event_id"]

#: Shared oracle CTE: events -> typed change rows with __op.
_OPS_CTE = f"""
ops AS (
  SELECT user_id, event_id, ts, value,
         json_extract_string(props, '$.k') AS k,
         {OP_CASE_SQL} AS op
  FROM events
)
"""


def _changes(spark: SparkSession, sf_dir: str, where: str | None = None) -> DataFrame:
    """envelope -> parsed change rows (P1+P3+P5+S6 path), persisted in
    the artifact store (``sources/artifacts.py``) — the A3 pattern
    (cache before multi-consume): merge_snapshot consumes the batch
    two-to-three times (upserts, touched keys), and the CDC headline
    queries share it; without the store, the envelope synth + JSON
    parse re-executes for every consumer.

    Only the UNFILTERED parse is stored; ``where`` is a predicate over
    the *parsed* columns (e.g. ``timestamp < '...'``) applied as a
    row-local filter on top of the persisted frame.  Every filtered
    variant therefore reuses the one warmed frame instead of paying its
    own envelope-synth + JSON-parse + persist (round 3's
    ``cdc_merge_incremental`` regression was exactly two cold cache
    builds landing inside the timed region).

    The build materializes the frame before the store serves it, so no
    consumer's plan builds the cache: a cold ``cdc_antijoin_survivors``
    would otherwise scan the unbuilt frame from both sides of its
    anti-join at once, one scan waiting on the other's blocks."""

    def build():
        df = parse_envelope(cdc_envelope(spark, sf_dir), CDC_PAYLOAD_SCHEMA).persist()
        df.count()
        return df

    base = artifacts.get(spark, sf_dir, "changes", build)
    return base.where(where) if where else base


def warm_changes(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the shared parsed-change frame outside any timed
    region.  bench.py calls this in warm-up so the one-time envelope
    synth + JSON parse + persist() does not land in whichever headline
    query happens to run first (it skewed ``cdc_snapshot_merge`` +41%
    in round 2's recording).  Filtered variants (``where=...``) are
    plain filters over this same persisted frame, so this single warm
    covers them all."""
    _changes(spark, sf_dir)


def _present(df: DataFrame) -> DataFrame:
    """Project merged snapshot rows to the oracle output shape."""
    return df.select(
        F.col("id").cast("bigint").alias("user_id"),
        F.col("event_id"),
        F.col("timestamp").alias("ts"),
        F.col("value"),
        F.col("k"),
    )


# --------------------------------------------------------------------------
# Flagship: full snapshot merge (W1 + J1 + U1 + P1/P3/P5/P7/P8, §3.3 query 1)
# --------------------------------------------------------------------------

def q_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold the entire change log into the current snapshot:
    last-writer-wins per key, keys whose latest op is delete vanish."""
    return _present(apply_changes(_changes(spark, sf_dir), PK, ORDER))


ORACLE_SNAPSHOT_MERGE = f"""
WITH {_OPS_CTE},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM ops
)
SELECT user_id, event_id, ts, value, k
FROM ranked WHERE rn = 1 AND op <> 'd'
"""


# --------------------------------------------------------------------------
# Incremental: snapshot(days 1-15) merged with changes(days 16+) must equal
# the global fold — proves the daily->history merge algebra (§3.2 steps 4-7)
# --------------------------------------------------------------------------

_SPLIT = "2024-01-16 00:00:00"


def q_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    snapshot = apply_changes(
        _changes(spark, sf_dir, where=f"timestamp < '{_SPLIT}'"), PK, ORDER
    )
    changes = _changes(spark, sf_dir, where=f"timestamp >= '{_SPLIT}'")
    return _present(merge_snapshot(snapshot, changes, PK, ORDER))


# The oracle is deliberately the ONE-SHOT fold: incremental merge must
# be indistinguishable from replaying the full log.
ORACLE_MERGE_INCREMENTAL = ORACLE_SNAPSHOT_MERGE


# --------------------------------------------------------------------------
# Point-in-time rollback: replaying the log day-window by day-window
# through chained merge folds must equal the one-shot fold at the
# cutoff — the cross-day composition invariant behind
# CdcPipeline.rebuild_snapshot (the per-batch replay ≡ fold law is
# property-tested; this pins the multi-batch chain against an oracle
# that knows nothing about batches).
# --------------------------------------------------------------------------

_ASOF_CUTS = ("2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-21 00:00:00")


def q_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    snapshot = apply_changes(
        _changes(spark, sf_dir, where=f"timestamp < '{_ASOF_CUTS[0]}'"), PK, ORDER
    )
    for lo, hi in zip(_ASOF_CUTS, _ASOF_CUTS[1:]):
        batch = _changes(
            spark, sf_dir, where=f"timestamp >= '{lo}' AND timestamp < '{hi}'"
        )
        snapshot = merge_snapshot(snapshot, batch, PK, ORDER)
    return _present(snapshot)


ORACLE_SNAPSHOT_ASOF = f"""
WITH {_OPS_CTE},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM ops WHERE ts < TIMESTAMP '{_ASOF_CUTS[-1]}'
)
SELECT user_id, event_id, ts, value, k
FROM ranked WHERE rn = 1 AND op <> 'd'
"""


# --------------------------------------------------------------------------
# W1 in isolation: latest event per user over the raw events table
# --------------------------------------------------------------------------

def q_last_writer_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return latest_per_key(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


ORACLE_LAST_WRITER_WINS = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# A1 (fixed): column-wise latest-non-null coalescing merge policy
# --------------------------------------------------------------------------

def q_coalesce_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update feed: clicks carry no value, purchases no k —
    the coalescing policy recovers the latest non-null per column."""
    ev = load_table(spark, sf_dir, "events")
    partial = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") != "click", F.col("value")).alias("value"),
        F.when(
            F.col("event_type") != "purchase", F.get_json_object("props", "$.k")
        ).alias("k"),
    )
    out = coalesce_updates(partial, ["user_id"], ["ts", "event_id"])
    return out.select("user_id", "ts", "event_id", "value", "k")


ORACLE_COALESCE_UPDATES = """
SELECT DISTINCT user_id,
  last_value(ts) OVER w AS ts,
  last_value(event_id) OVER w AS event_id,
  last_value(CASE WHEN event_type <> 'click' THEN value END IGNORE NULLS) OVER w AS value,
  last_value(CASE WHEN event_type <> 'purchase' THEN json_extract_string(props, '$.k') END IGNORE NULLS) OVER w AS k
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --------------------------------------------------------------------------
# P7/P8: op routing (three-way __op split), observed via per-class stats
# --------------------------------------------------------------------------

def q_route_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = route_ops(_changes(spark, sf_dir), PK)

    def stats(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("op_class"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("n_keys"),
        )

    return (
        stats(routed.inserts, "insert")
        .unionByName(stats(routed.updates, "update"))
        .unionByName(stats(routed.delete_keys, "delete"))
    )


ORACLE_ROUTE_OPS = f"""
WITH {_OPS_CTE}
SELECT CASE WHEN op IN ('c','r') THEN 'insert' WHEN op = 'u' THEN 'update' ELSE 'delete' END AS op_class,
       count(*) AS n,
       count(DISTINCT user_id) AS n_keys
FROM ops
GROUP BY 1
"""


# --------------------------------------------------------------------------
# J1 in isolation: anti-join survivors (snapshot keys untouched later)
# --------------------------------------------------------------------------

# A narrow final window so only a few keys are "touched" and the
# anti-join provably keeps survivors (a full day touches every key in
# this fixture).
_TOUCH_SPLIT = "2024-01-30 22:00:00"


def q_antijoin_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    snapshot = apply_changes(
        _changes(spark, sf_dir, where=f"timestamp < '{_TOUCH_SPLIT}'"), PK, ORDER
    )
    touched = (
        _changes(spark, sf_dir, where=f"timestamp >= '{_TOUCH_SPLIT}'")
        .select(*PK)
        .distinct()
    )
    return _present(snapshot.join(touched, on=PK, how="left_anti"))


ORACLE_ANTIJOIN_SURVIVORS = f"""
WITH {_OPS_CTE},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM ops WHERE ts < TIMESTAMP '{_TOUCH_SPLIT}'
)
SELECT user_id, event_id, ts, value, k
FROM ranked
WHERE rn = 1 AND op <> 'd'
  AND user_id NOT IN (SELECT user_id FROM ops WHERE ts >= TIMESTAMP '{_TOUCH_SPLIT}')
"""


# --------------------------------------------------------------------------
# U1 + A4: name-safe union of overlapping slices + full-row dedup
# --------------------------------------------------------------------------

def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("ts") < "2024-01-21")
    b = ev.filter(F.col("ts") >= "2024-01-10").select(*reversed(ev.columns))
    return a.unionByName(b).dropDuplicates().select(*ev.columns)


ORACLE_UNION_DEDUP = """
SELECT DISTINCT * FROM (
  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-21'
  UNION ALL
  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-10'
)
"""


# --------------------------------------------------------------------------
# P4 + X3: raw-landing partition-column derivation + per-partition stats
# (§3.3 query 2, raw_data_handler.py:68-75)
# --------------------------------------------------------------------------

def q_raw_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = cdc_envelope(spark, sf_dir)
    landed = env.select(
        "timestamp",
        "value",
        F.year("timestamp").alias("op_year"),
        F.month("timestamp").alias("op_month"),
        F.dayofmonth("timestamp").alias("op_day"),
    )
    return landed.groupBy("op_year", "op_month", "op_day").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("timestamp").alias("first_ts"),
        F.max("timestamp").alias("last_ts"),
    )


ORACLE_RAW_PARTITION_STATS = """
SELECT year(ts)::INT AS op_year, month(ts)::INT AS op_month, dayofmonth(ts)::INT AS op_day,
       count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts
FROM events
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Increment mode (§3.3 query 3): DISTINCT changes + partition cols, append
# --------------------------------------------------------------------------

def q_increment_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    changes = _changes(spark, sf_dir)
    # Duplicate the batch to prove the dedup actually fires.
    doubled = changes.unionByName(changes)
    out = increment_append(doubled).select(
        F.col("id").cast("bigint").alias("user_id"),
        "event_id",
        F.col("timestamp").alias("ts"),
        "value",
        "k",
        F.col("__op").alias("op"),
        F.year("timestamp").alias("op_year"),
        F.month("timestamp").alias("op_month"),
        F.dayofmonth("timestamp").alias("op_day"),
    )
    return out


ORACLE_INCREMENT_APPEND = f"""
WITH {_OPS_CTE}
SELECT DISTINCT user_id, event_id, ts, value, k, op,
       year(ts)::INT AS op_year, month(ts)::INT AS op_month, dayofmonth(ts)::INT AS op_day
FROM ops
"""


# --------------------------------------------------------------------------
# S4/P3: JSON parse + struct flatten over the real `props` column
# --------------------------------------------------------------------------

def q_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", "k string").alias("data"),
    ).select("event_id", "data.*")
    return parsed.select("event_id", F.col("k").cast("int").alias("k"))


ORACLE_JSON_FLATTEN = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


# --------------------------------------------------------------------------
# P5: name sanitization through the live parse path — payload keys with
# '/' and case collisions, including one literally named 'Timestamp'
# (the reference's daily/history asymmetry, SURVEY.md §1.3, unified here)
# --------------------------------------------------------------------------

def q_name_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import StringType, StructField, StructType

    ev = load_table(spark, sf_dir, "events")
    messy = ev.select(
        F.col("ts").alias("timestamp"),
        F.to_json(
            F.struct(
                F.col("user_id").cast("string").alias("ID"),
                F.col("event_id").cast("string").alias("Props/EventId"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("Timestamp"),
            )
        ).alias("value"),
    )
    schema = StructType(
        [
            StructField("ID", StringType()),
            StructField("Props/EventId", StringType()),
            StructField("Timestamp", StringType()),
        ]
    )
    parsed = parse_envelope(messy, schema)
    # 'ID' -> id, 'Props/EventId' -> props_eventid, 'Timestamp' ->
    # source_timestamp (reserved-name collision with the ingest ts).
    return parsed.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("props_eventid").cast("bigint").alias("props_eventid"),
        "source_timestamp",
    )


ORACLE_NAME_SANITIZE = """
SELECT user_id AS id, event_id AS props_eventid,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS source_timestamp
FROM events
"""


# --------------------------------------------------------------------------
# Incremental view maintenance: an additive rollup of the snapshot
# state (per-`k` live-user count + value sum) maintained across three
# CDC batches by signed deltas — never recomputed from the snapshot.
# The oracle knows nothing about batches: it GROUP BYs the one-shot
# fold of the full log, so the chain of maintain_rollup folds must be
# indistinguishable from a from-scratch aggregate (the counting-IVM
# invariant, operators/incremental.py).
# --------------------------------------------------------------------------

_ROLLUP_CUTS = ("2024-01-10 00:00:00", "2024-01-20 00:00:00")
_ROLLUP_DIMS = ["k"]
_ROLLUP_SUMS = ["value"]


def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import additive_rollup, maintain_rollup

    # The measure folds through a chain of signed add/subtract deltas
    # whose partial order differs from the oracle's one-shot SUM —
    # double arithmetic would leave an order-dependent residue, so the
    # measure is cast to DECIMAL(27,8) up front: every delta is exact
    # integer-scaled arithmetic and the maintained sum equals the
    # direct sum bit-for-bit (the tumbling/hopping `total` discipline,
    # applied to the incremental path).  Presented as DOUBLE at the end.
    def _dec(df: DataFrame) -> DataFrame:
        return df.withColumn("value", F.col("value").cast("decimal(27,8)"))

    snapshot = apply_changes(
        _dec(_changes(spark, sf_dir, where=f"timestamp < '{_ROLLUP_CUTS[0]}'")),
        PK,
        ORDER,
    )
    rollup = additive_rollup(snapshot, _ROLLUP_DIMS, _ROLLUP_SUMS, count_col="n_users")
    bounds = list(_ROLLUP_CUTS) + [None]
    for lo, hi in zip(bounds, bounds[1:]):
        where = f"timestamp >= '{lo}'"
        if hi is not None:
            where += f" AND timestamp < '{hi}'"
        batch = _dec(_changes(spark, sf_dir, where=where))
        rollup = maintain_rollup(
            rollup, snapshot, batch, PK, ORDER, _ROLLUP_DIMS, _ROLLUP_SUMS,
            count_col="n_users",
        )
        if hi is not None:  # the post-final snapshot feeds nothing
            snapshot = merge_snapshot(snapshot, batch, PK, ORDER)
    return rollup.select(
        "k", "n_users", F.col("sum_value").cast("double").alias("sum_value")
    )


ORACLE_ROLLUP_INCREMENTAL = f"""
WITH {_OPS_CTE},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM ops
)
SELECT k, count(*) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) AS sum_value
FROM ranked WHERE rn = 1 AND op <> 'd'
GROUP BY k
"""


QUERIES = {
    "cdc_snapshot_merge": q_snapshot_merge,
    "cdc_merge_incremental": q_merge_incremental,
    "cdc_snapshot_asof": q_snapshot_asof,
    "cdc_last_writer_wins": q_last_writer_wins,
    "cdc_coalesce_updates": q_coalesce_updates,
    "cdc_route_ops": q_route_ops,
    "cdc_antijoin_survivors": q_antijoin_survivors,
    "cdc_union_dedup": q_union_dedup,
    "cdc_raw_partition_stats": q_raw_partition_stats,
    "cdc_increment_append": q_increment_append,
    "cdc_json_flatten": q_json_flatten,
    "cdc_name_sanitize": q_name_sanitize,
    "rollup_incremental": q_rollup_incremental,
}

ORACLE = {
    "cdc_name_sanitize": ORACLE_NAME_SANITIZE,
    "cdc_snapshot_merge": ORACLE_SNAPSHOT_MERGE,
    "cdc_merge_incremental": ORACLE_MERGE_INCREMENTAL,
    "cdc_snapshot_asof": ORACLE_SNAPSHOT_ASOF,
    "cdc_last_writer_wins": ORACLE_LAST_WRITER_WINS,
    "cdc_coalesce_updates": ORACLE_COALESCE_UPDATES,
    "cdc_route_ops": ORACLE_ROUTE_OPS,
    "cdc_antijoin_survivors": ORACLE_ANTIJOIN_SURVIVORS,
    "cdc_union_dedup": ORACLE_UNION_DEDUP,
    "cdc_raw_partition_stats": ORACLE_RAW_PARTITION_STATS,
    "cdc_increment_append": ORACLE_INCREMENT_APPEND,
    "cdc_json_flatten": ORACLE_JSON_FLATTEN,
    "rollup_incremental": ORACLE_ROLLUP_INCREMENTAL,
}
