"""Continuously-maintained materialized rollup: the streaming twin of
``operators/incremental.maintain_rollup``.

A stream of parsed CDC change rows maintains TWO artifacts per epoch:

* the **snapshot** (current state per key — the reference's
  daily/history table, ``/root/reference/pipelines/
  history_data_handler.py:111-141``), and
* the **additive rollup** of that snapshot (per-dimension live-row
  count + sums), advanced by counting-IVM signed deltas — O(batch),
  never recomputed from the snapshot.

Both are committed, snapshot first, under the epoch protocol of
``sources/versions.py``; read them with
``versions.read_latest(spark, [snapshot_dir, rollup_dir])``.
``tests/test_rollup_stream.py`` pins convergence across restarts,
duplicate delivery and retention, and that a replay with different
content raises.

Scale: the rollup side is dimension-bounded and the maintenance reads
the snapshot only through one semi-join on the batch's keys.  The
snapshot side rewrites per epoch here (plain parquet, exactly the
reference's overwrite dance); on a Delta/Iceberg catalog route the
snapshot through ``sources/catalog.merge_into`` instead and keep only
the rollup on this epoch protocol.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.incremental import additive_rollup, maintain_rollup
from ..operators.merge import apply_changes, merge_snapshot
from ..sources import versions


def rollup_stream(
    changes: DataFrame,
    snapshot_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    primary_keys: Sequence[str],
    order_by: Sequence[str],
    dims: Sequence[str],
    sum_cols: Sequence[str],
    count_col: str = "n_rows",
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain snapshot + rollup from a stream of parsed change rows.

    ``changes`` must carry ``primary_keys``, ``order_by``, ``dims``,
    ``sum_cols`` and the ``__op`` meta column (the ``parse_envelope``
    output shape).  Batches must be time-ordered between epochs (the
    same contract as the batch merge fold)."""

    def fold(batch, prev):
        if prev is None:
            snapshot = apply_changes(batch, primary_keys, order_by)
            rollup = additive_rollup(snapshot, dims, sum_cols, count_col)
        else:
            old_snap, old_roll = prev
            rollup = maintain_rollup(
                old_roll, old_snap, batch, primary_keys, order_by,
                dims, sum_cols, count_col,
            )
            snapshot = merge_snapshot(old_snap, batch, primary_keys, order_by)
        yield snapshot
        yield rollup

    return versions.start(
        changes, [snapshot_dir, rollup_dir], checkpoint_dir, fold, available_now
    )
