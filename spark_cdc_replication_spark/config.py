"""Typed per-table pipeline configuration.

Replaces the reference's stringified-dict-in-an-environment-variable
IPC (``/root/reference/raw_load.py:7-9``, ``daily_load.py:11-18``,
``history_load.py:19-29`` — all ``ast.literal_eval(os.environ[...])``)
with a plain dataclass.  Field names mirror the reference settings dict
consumed at ``pipelines/daily_data_handler.py:22-23`` and
``pipelines/history_data_handler.py:24-26``.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class TableSpec:
    """Everything the engine needs to know about one replicated table."""

    name: str
    #: Composite primary key (``settings['primary_keys']`` in the
    #: reference, e.g. ``daily_data_handler.py:23``).
    primary_keys: tuple[str, ...]
    #: Event-time column used for last-writer-wins ordering (the
    #: reference hardcodes the Kafka ingest ``timestamp``,
    #: ``daily_data_handler.py:107``).
    order_by: tuple[str, ...] = ("timestamp",)
    #: ``merge`` (snapshot upsert) or ``increment`` (append-only log),
    #: reference mode switch at ``history_data_handler.py:24,37-46``.
    mode: str = "merge"
    #: Raw-layer root directory (``settings['data_dir']``).
    data_dir: str | None = None
    #: Streaming checkpoint dir (``settings['ckpt_dir']``).
    ckpt_dir: str | None = None
    #: Source topic / stream name (``settings['kafka_topic']``).
    topic: str | None = None
    #: ``lww`` (whole-row last-writer-wins, reference W1) or
    #: ``coalesce`` (column-wise latest-non-null, the reference's dead
    #: ``_coalesce_updates``, ``daily_data_handler.py:111-114``).
    merge_policy: str = "lww"
    #: Raw-layer on-disk format.  The reference writes ORC everywhere
    #: (``raw_data_handler.py:86``); parquet is the Spark-native
    #: default here, with ORC supported end to end (stream land ->
    #: day read -> compact).
    fmt: str = "parquet"
    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not self.primary_keys:
            raise ValueError(f"TableSpec {self.name!r} needs >=1 primary key")
        if self.mode not in ("merge", "increment"):
            raise ValueError(f"mode must be merge|increment, got {self.mode!r}")
        if self.merge_policy not in ("lww", "coalesce"):
            raise ValueError(
                f"merge_policy must be lww|coalesce, got {self.merge_policy!r}"
            )
        if self.fmt not in ("parquet", "orc"):
            raise ValueError(f"fmt must be parquet|orc, got {self.fmt!r}")
