"""Seeded Debezium-envelope generator and its independent reference fold.

The engine sees only what :class:`CdcGen` writes: parquet files of
Kafka-shaped ``(timestamp, value)`` rows whose ``value`` is the JSON
payload of ``spark_cdc_replication_spark.fixtures.CDC_PAYLOAD_SCHEMA``
(``id, event_id, value, k, __op, __deleted``).

* A bootstrap drop snapshots ``keys`` rows (op ``r``) on day 0.
* Each simulated day is 24 hourly drops.  Drop ``j`` carries the
  events of hour ``j`` and is delivered at tick hour ``(j + 1) % 24``,
  so the drop of the last hour is the hour-0 tick that promotes the
  day to history.
* Ops are c/u/d/r = 10/75/10/5.  Creates take fresh keys; the other
  ops pick keys from a power law over a fixed random permutation of
  the keys created so far, so a few keys are hot.
* A share of each drop is late (event time uniform over the day's
  earlier hours) and a share redelivers rows of the previous drop
  byte for byte.  Late events stay inside their day: the raw layer is
  partitioned by event time and history-load reads one day, so an
  event late across midnight would never reach history.

:func:`reference_history` folds the same envelopes in DuckDB
(last writer wins on ``(timestamp, event_id)``, deletes removed); it
shares no code with the engine.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OPS = np.array(["c", "u", "d", "r"])
OP_P = [0.10, 0.75, 0.10, 0.05]
LATE_SHARE = 0.05
DUP_SHARE = 0.02
#: Key rank = floor(n * U ** SKEW): density falls as rank ** (1/SKEW - 1).
SKEW = 3.0
DAY0 = dt.date(2024, 3, 1)
_HOUR_US = 3600 * 10**6
_ENVELOPE = pa.schema(
    [("timestamp", pa.timestamp("us", tz="UTC")), ("value", pa.string())]
)


class CdcGen:
    """Deterministic envelope drops for one benchmark seed."""

    def __init__(self, seed: int, keys: int, changes_per_hour: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.keys = keys
        self.changes_per_hour = changes_per_hour
        self.perm = self.rng.permutation(keys * 4)
        self.next_key = keys
        self.next_event = 0

    @staticmethod
    def day(n: int) -> dt.date:
        """Calendar date of simulated day ``n`` (day 0 is the bootstrap)."""
        return DAY0 + dt.timedelta(days=n)

    def _envelopes(self, ts_us, keys, ops) -> pa.Table:
        n = len(keys)
        event_ids = np.arange(self.next_event, self.next_event + n, dtype=np.int64)
        self.next_event += n
        value = np.round(self.rng.uniform(0, 1000, n), 2)
        k = self.rng.integers(0, 100, n)
        deleted = np.where(ops == "d", "true", "false")
        parts = [
            '{"id":"', pa.array(keys).cast(pa.string()),
            '","event_id":', pa.array(event_ids).cast(pa.string()),
            ',"value":', pa.array(value).cast(pa.string()),
            ',"k":"', pa.array(k).cast(pa.string()),
            '","__op":"', pa.array(ops),
            '","__deleted":"', pa.array(deleted),
            '"}',
        ]
        value_json = pc.binary_join_element_wise(*parts, "")
        return pa.table(
            [pa.array(ts_us, pa.timestamp("us", tz="UTC")), value_json],
            schema=_ENVELOPE,
        )

    def bootstrap(self) -> pa.Table:
        """Snapshot-read rows for every initial key, during day 0."""
        start = _epoch_us(self.day(0))
        ts = start + np.sort(self.rng.integers(0, 24 * _HOUR_US, self.keys))
        keys = self.perm[: self.keys]
        return self._envelopes(ts, keys, np.full(self.keys, "r"))

    def _pick_keys(self, n: int) -> np.ndarray:
        rank = np.floor(self.next_key * self.rng.random(n) ** SKEW).astype(np.int64)
        return self.perm[rank]

    def day_drops(self, n: int) -> list[tuple[int, pa.Table]]:
        """The 24 ``(tick_hour, envelopes)`` drops of simulated day ``n``."""
        start = _epoch_us(self.day(n))
        drops = []
        prev = None
        for j in range(24):
            m = self.changes_per_hour
            ops = OPS[self.rng.choice(4, m, p=OP_P)]
            keys = self._pick_keys(m)
            creates = ops == "c"
            n_new = int(creates.sum())
            if self.next_key + n_new > len(self.perm):
                raise ValueError("key space exhausted; raise the permutation size")
            keys[creates] = self.perm[self.next_key : self.next_key + n_new]
            self.next_key += n_new
            lo = np.full(m, j * _HOUR_US)
            late = self.rng.random(m) < LATE_SHARE if j else np.zeros(m, bool)
            lo[late] = 0
            hi = (j + 1) * _HOUR_US
            ts = start + lo + (self.rng.random(m) * (hi - lo)).astype(np.int64)
            drop = self._envelopes(ts, keys, ops)
            if prev is not None:
                dup = self.rng.random(prev.num_rows) < DUP_SHARE
                drop = pa.concat_tables([drop, prev.filter(pa.array(dup))])
            drops.append(((j + 1) % 24, drop))
            prev = drop
        return drops


def _epoch_us(day: dt.date) -> int:
    return int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp()) * 10**6


def write_drop(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def reference_history(envelope_glob: str, through: dt.date | None = None) -> pa.Table:
    """Last-writer-wins fold of every envelope file matching the glob
    (only events dated ``through`` or earlier, if given), sorted by
    ``id``: columns ``id, event_id, value, k, ts_us``."""
    cutoff = "" if through is None else (
        f"WHERE timestamp < TIMESTAMPTZ '{through + dt.timedelta(days=1)} 00:00:00+00'"
    )
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH ch AS (
              SELECT epoch_us(timestamp) AS ts_us,
                     json_extract_string(value, '$.id') AS id,
                     CAST(json_extract(value, '$.event_id') AS BIGINT) AS event_id,
                     CAST(json_extract(value, '$.value') AS DOUBLE) AS value,
                     json_extract_string(value, '$.k') AS k,
                     json_extract_string(value, '$.__op') AS op
              FROM read_parquet('{envelope_glob}') {cutoff}
            ), last AS (
              SELECT *, row_number() OVER (
                PARTITION BY id ORDER BY ts_us DESC, event_id DESC) AS rn
              FROM ch
            )
            SELECT id, event_id, value, k, ts_us FROM last
            WHERE rn = 1 AND op <> 'd' ORDER BY id
            """
        ).arrow()
    finally:
        con.close()
