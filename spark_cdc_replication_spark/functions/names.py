"""Column-name sanitization for CDC payloads.

The reference sanitizes names in two inconsistent places:

* daily handler: only ``/`` -> ``_``
  (``/root/reference/pipelines/daily_data_handler.py:70-72``);
* history handler: also lowercases and resolves a payload column
  literally named ``timestamp`` colliding with the Kafka ingest
  timestamp (``history_data_handler.py:94-109``) — the daily handler
  does not, a latent bug flagged in SURVEY.md §1.3.

We implement ONE deterministic rule used by every stage.
"""

from __future__ import annotations

#: Name the Kafka/ingest timestamp keeps after flattening.
INGEST_TS = "timestamp"
#: Deterministic rename target for a payload column named `timestamp`
#: (reference picks `source_timestamp`, then `timestamp_in_source` if
#: that is also taken — `history_data_handler.py:96-105`).
SOURCE_TS_RENAMES = ("source_timestamp", "timestamp_in_source")


def sanitize_name(name: str) -> str:
    """``/`` -> ``_``, lowercase, strip — a single deterministic rule."""
    return name.replace("/", "_").strip().lower()


def sanitized_payload_names(payload_cols: list[str], reserved: tuple[str, ...] = (INGEST_TS,)) -> dict[str, str]:
    """Old-name -> new-name map for payload columns.

    A payload column that sanitizes to a reserved name (e.g. the ingest
    ``timestamp``) is deterministically renamed to the first free entry
    of :data:`SOURCE_TS_RENAMES`.
    """
    taken = {sanitize_name(c) for c in payload_cols} | set(reserved)
    out: dict[str, str] = {}
    for c in payload_cols:
        clean = sanitize_name(c)
        if clean in reserved:
            for candidate in SOURCE_TS_RENAMES:
                if candidate not in taken:
                    clean = candidate
                    taken.add(candidate)
                    break
            else:  # pragma: no cover - >2 collisions
                i = 2
                while f"source_timestamp_{i}" in taken:
                    i += 1
                clean = f"source_timestamp_{i}"
                taken.add(clean)
        out[c] = clean
    return out

