"""CDC envelope parsing and op routing.

Reference behavior being re-expressed (never copied):

* Kafka record cast ``(timestamp, value)``:
  ``/root/reference/pipelines/raw_data_handler.py:51`` (P1).
* ``from_json`` + ``select("data.*")`` struct flatten:
  ``daily_data_handler.py:63-66``, ``history_data_handler.py:88-90``
  (P3).  Split here into two steps: the ``from_json``, run ONCE inside
  the raw-load stream (:func:`..sources.raw.landing_projection`), and
  :func:`flatten_payload` (names and the reserved-``timestamp``
  rename), run on every read of the typed ``payload`` column.
  :func:`parse_envelope` composes the two for frames that still carry
  only the JSON string (registry queries, tests).  The reference's ORC
  raw layer holds only the JSON, so each of its stages parses it again;
  this engine's raw layer is ``(timestamp, value, payload, op_year,
  op_month, op_day)`` with ``value`` verbatim, so no raw read parses.
  With the payload fixed at landing, a registry field added later reads
  NULL for older rows, a field the registry did not know at landing
  lives only in ``value`` (re-land to recover it), a changed field type
  fails the read (parquet), and roots landed in the JSON-only layout
  must be re-landed — see :mod:`..sources.raw`.
* Name sanitization: ``daily_data_handler.py:70-72``,
  ``history_data_handler.py:94-109`` (P5) — unified here, see
  :mod:`..functions.names`.
* Op routing by ``__op``: inserts ``isin('c','r')``, updates ``== 'u'``,
  deletes ``== 'd'`` projected to PK: ``daily_data_handler.py:33-35``,
  ``history_data_handler.py:38-40`` (P7, P8).

Everything here is a narrow projection/filter over the scan, so
Catalyst pushes the predicates into the source and prunes columns —
no RDDs, no Python UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.names import INGEST_TS, sanitized_payload_names
from ..schemas import DELETE_OP, DELETED_COL, INSERT_OPS, META_COLS, OP_COL, UPDATE_OP


def decode_envelope(df: DataFrame, ts_col: str = "timestamp", value_col: str = "value") -> DataFrame:
    """Kafka binary -> typed ``(timestamp, value)`` (reference P1)."""
    return df.select(
        F.col(ts_col).cast("timestamp").alias(INGEST_TS),
        F.col(value_col).cast("string").alias("value"),
    )


def flatten_payload(
    df: DataFrame,
    payload_col: str,
    keep_cols: Sequence[str] = (INGEST_TS,),
) -> DataFrame:
    """Typed payload struct -> flattened, name-sanitized change rows.

    The ingest timestamp (and any other ``keep_cols``) stay top-level;
    a payload field that collides with a reserved name is renamed
    deterministically *at flatten time* (a naive ``select("data.*")``
    would materialize two same-named columns and make the rename
    ambiguous).  The fields come from the struct's own type, so the
    frame's schema — the registry schema the raw layer is read with —
    is the only source of truth.
    """
    keep = [c for c in keep_cols if c in df.columns]
    fields = [f.name for f in df.schema[payload_col].dataType.fields]
    renames = sanitized_payload_names(fields, reserved=tuple(keep))
    payload = F.col(payload_col)
    return df.select(
        *keep, *[payload.getField(f).alias(renames[f]) for f in fields]
    )


def parse_envelope(
    df: DataFrame,
    payload_schema: StructType,
    value_col: str = "value",
    keep_cols: Sequence[str] = (INGEST_TS,),
) -> DataFrame:
    """JSON payload -> flattened, name-sanitized change rows, for frames
    that hold only the JSON string: ``from_json`` then
    :func:`flatten_payload`.  The raw layer already holds the parsed
    struct; its reads call :func:`flatten_payload` alone.

    ``from_json`` takes an *explicit* schema (no per-run inference scan
    — SURVEY.md §4 "double scan") and is PERMISSIVE: a malformed
    payload, or a field missing from the JSON, reads NULL; a JSON key
    the schema does not name is dropped."""
    keep = [c for c in keep_cols if c in df.columns]
    data = F.from_json(F.col(value_col), payload_schema).alias("__payload")
    return flatten_payload(df.select(*keep, data), "__payload", keep)


@dataclass
class RoutedOps:
    """The three-way ``__op`` split (reference step 4, §3.2)."""

    inserts: DataFrame  # __op in ('c','r')
    updates: DataFrame  # __op == 'u'
    delete_keys: DataFrame  # __op == 'd', projected to the primary key


def route_ops(changes: DataFrame, primary_keys: Sequence[str]) -> RoutedOps:
    """Split a parsed change batch by operation.

    Meta columns are dropped from inserts/updates
    (``daily_data_handler.py:33-34``); deletes are projected to the PK
    only (``daily_data_handler.py:35``) since a delete needs no payload.
    """
    keep = [c for c in changes.columns if c not in META_COLS]
    return RoutedOps(
        inserts=changes.filter(F.col(OP_COL).isin(list(INSERT_OPS))).select(keep),
        updates=changes.filter(F.col(OP_COL) == UPDATE_OP).select(keep),
        delete_keys=changes.filter(F.col(OP_COL) == DELETE_OP).select(
            [F.col(k) for k in primary_keys]
        ),
    )


def drop_meta(df: DataFrame) -> DataFrame:
    """Drop ``__op`` / ``__deleted`` after routing (reference P6)."""
    return df.drop(*[c for c in META_COLS if c in df.columns])


__all__ = [
    "decode_envelope",
    "flatten_payload",
    "parse_envelope",
    "route_ops",
    "drop_meta",
    "RoutedOps",
    "OP_COL",
    "DELETED_COL",
]
