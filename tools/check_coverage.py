"""Coverage honesty checks:

1. every ``queries()`` key must appear in COVERAGE.md (the judge-facing
   operator map), and every query name mentioned there must still exist
   in the registry;
2. every operator FAMILY — SURVEY.md §2 surfaces and the [EXT]
   LLM-data surfaces — must keep at least one ``oracle_sql()``-paired
   query, so a refactor can never silently drop a family out of the
   driver's correctness gate;
3. ROTATION STALENESS: against the CORRECTNESS_r*.json history, no
   oracle-bearing query may go more than ``MAX_STALE_ROUNDS`` rounds
   without a driver-green row — the 50-slot gate window over a ~100
   query registry is a deliberate rotation, and this makes "rotate
   back in time" mechanical instead of a per-round judgment call.
   Never-green queries must be in the CURRENT window (a new oracle
   earns its first driver row next round, not eventually).

    python tools/check_coverage.py          # per-round honesty gate
    python tools/check_coverage.py --plan   # NEXT round's mandatory
                                            # rotations + floor gaps
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

#: the repo root (parent of ``tools/``): the history, COVERAGE.md and
#: ``__spark_entry__`` are found there whatever the working directory
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, REPO_ROOT)

#: family -> query-name prefixes; each family must have >=1 registered
#: query with an oracle.  Names mirror SURVEY.md §2 (cdc/analytics/
#: events) and the [EXT] north-star families (dedup/similarity/text/
#: multimodal/sampling/hygiene).
FAMILIES: dict[str, tuple[str, ...]] = {
    "cdc merge algebra": ("cdc_",),
    "tpch analytics": tuple(f"q{i}" for i in range(1, 10)),
    "olap extensions": ("rollup_", "cube_", "pivot_"),
    "events/windows": ("events_",),
    "asof/range join": ("asof_", "range_join"),
    "dedup": ("dedup_",),
    "similarity": ("similarity_",),
    "text analysis": ("text_",),
    "multimodal": ("multimodal_",),
    "sampling/packing": (
        "sample_",
        "split_assign",
        "split_temporal",
        "pack_",
        "corpus_shuffle",
        # the DSIR-companion mixture diagnostics live in this family
        # (same hashed-unigram model as sample_importance*)
        "corpus_divergence",
    ),
    "privacy": ("pii_",),
    "contamination/repetition": (
        "text_contamination",
        "text_repetition",
        "decontaminate_",
    ),
    "hygiene pipeline": ("prepare_corpus", "clean_corpus"),
}

#: A query last driver-green in round L is flagged once the upcoming
#: round (max recorded round + 1) exceeds L + MAX_STALE_ROUNDS unless
#: it is in the current window — i.e. first flagged at round
#: L + MAX_STALE_ROUNDS + 1, so at most MAX_STALE_ROUNDS rounds may
#: pass without a green row.
MAX_STALE_ROUNDS = 2


def load_history(
    pattern: str = os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"),
) -> dict[int, set[str]]:
    """round number -> names with a fully-green row (rows+schema+hash)."""
    hist: dict[int, set[str]] = {}
    for path in glob.glob(pattern):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            data = json.load(fh)
        hist[int(m.group(1))] = {
            name
            for name, row in data.items()
            if row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        }
    return hist


def stale_queries(
    oracles: set[str],
    window: set[str],
    history: dict[int, set[str]],
    max_stale_rounds: int = MAX_STALE_ROUNDS,
) -> list[str]:
    """Oracle-bearing queries that would exceed the staleness bound if
    the CURRENT window ran as the next round.  Pure function of its
    inputs so tests can feed synthetic registries/histories."""
    if not history:
        return sorted(n for n in oracles if n not in window)
    next_round = max(history) + 1
    bad = []
    for name in sorted(oracles):
        if name in window:
            continue  # gets a green row next round
        last = max((r for r, greens in history.items() if name in greens), default=None)
        if last is None:
            bad.append(f"{name} (never driver-green, not in window)")
        elif next_round - last > max_stale_rounds:
            bad.append(
                f"{name} (last green r{last}, would be "
                f"{next_round - last} rounds stale after r{next_round})"
            )
    return bad


def next_round_plan(
    oracles: set[str],
    window: set[str],
    history: dict[int, set[str]],
    max_stale_rounds: int = MAX_STALE_ROUNDS,
) -> tuple[list[str], list[str], dict[str, list[str]]]:
    """Split the rotation debt into the two horizons the builder
    actually plans against (r10 VERDICT: the old single list conflated
    them into an impossible-looking window):

    * ``due_now`` — queries that MUST be in THIS round's window or the
      staleness gate fails (the same predicate as
      :func:`stale_queries`: at the bound already, or never-green);
    * ``due_next`` — queries that become mandatory the FOLLOWING round
      assuming every in-window oracle query greens this round: the
      pull-forward candidate pool.

    ``floor_hits`` maps each family to the queries of the combined
    debt that could hold its floor.  Pure function, like
    :func:`stale_queries`, so tests can feed synthetic histories."""
    this_round = (max(history) + 1) if history else 1
    last = {
        n: max(
            (r for r, greens in history.items() if n in greens),
            default=None,
        )
        for n in oracles
    }
    due_now = sorted(
        n
        for n in oracles
        if n not in window
        and (last[n] is None or this_round - last[n] > max_stale_rounds)
    )
    for n in window & oracles:
        last[n] = this_round
    due_next = sorted(
        n
        for n in oracles
        if n not in due_now
        and (last[n] is None or (this_round + 1) - last[n] > max_stale_rounds)
    )
    combined = due_now + due_next
    floor_hits = {
        family: [n for n in combined if any(n.startswith(p) for p in prefixes)]
        for family, prefixes in FAMILIES.items()
    }
    return due_now, due_next, floor_hits


def main() -> int:
    import __spark_entry__ as entry

    names = set(entry.queries())
    oracles = set(entry.oracle_sql())
    rc = 0

    if "--plan" in sys.argv:
        window = set(list(entry.queries())[:50])
        due_now, due_next, floors = next_round_plan(oracles, window, load_history())
        if due_now:
            print(
                f"MANDATORY for THIS round's window ({len(due_now)}) — at the "
                f"staleness bound or never-green; rotate in before the driver "
                f"runs or the gate fails:"
            )
            for n in due_now:
                print("  ", n)
        else:
            print(
                "mandatory for THIS round's window: none — the current "
                "window already covers every at-bound query"
            )
        print(
            f"due the FOLLOWING round ({len(due_next)}), assuming the current "
            f"window greens this round — the pull-forward candidate pool:"
        )
        for n in due_next:
            print("  ", n)
        gaps = sorted(f for f, hits in floors.items() if not hits)
        print(
            f"family floors NOT covered by the combined debt ({len(gaps)}) — "
            f"fill each from a recent-green or debut:"
        )
        for f in gaps:
            print("  ", f)
        free = 50 - len(due_now) - len(gaps)
        print(
            f"THIS round's window math: 50 slots - {len(due_now)} mandatory "
            f"- {len(gaps)} floor fills = ~{free} free (pull-forwards from "
            f"the due-next pool + debuts; keep exactly 50)"
        )
        return 0

    dangling = oracles - names
    if dangling:
        print("oracle entries without queries:", sorted(dangling))
        rc = 1

    # The driver only verifies the FIRST 50 registry entries, so the
    # family floor is enforced twice: over the whole registry AND
    # inside the gate window — a rotation can never push an entire
    # family out of driver verification (VERDICT r3 "What's missing" #1).
    window = set(list(entry.queries())[:50])
    for family, prefixes in FAMILIES.items():
        with_oracle = sorted(
            n for n in oracles if any(n.startswith(p) for p in prefixes)
        )
        if not with_oracle:
            registered = sorted(
                n for n in names if any(n.startswith(p) for p in prefixes)
            )
            print(
                f"family {family!r} has NO oracle-paired query "
                f"(registered without oracle: {registered or 'none'})"
            )
            rc = 1
        elif not any(n in window for n in with_oracle):
            print(
                f"family {family!r} has no oracle query inside the "
                f"50-entry driver gate window (oracle-paired: {with_oracle})"
            )
            rc = 1

    stale = stale_queries(oracles, window, load_history())
    if stale:
        print(f"rotation staleness (> {MAX_STALE_ROUNDS} rounds without a driver-green row):")
        for s in stale:
            print("  ", s)
        rc = 1

    text = open(os.path.join(REPO_ROOT, "COVERAGE.md")).read()
    tokens = set(re.findall(r"[a-z0-9_]+", text))

    def documented(n: str) -> bool:
        if n in text:
            return True
        # TPC-H analogues are listed by their shorthand ("q1, q2 ...")
        m = re.match(r"(q\d+)_", n)
        return bool(m) and m.group(1) in tokens

    missing = sorted(n for n in names if not documented(n))
    if missing:
        print("queries missing from COVERAGE.md:", missing)
        rc = 1
    if rc == 0:
        print(
            f"COVERAGE.md mentions all {len(names)} registered queries; "
            f"all {len(FAMILIES)} operator families hold >=1 oracle entry; "
            f"rotation staleness bound ({MAX_STALE_ROUNDS} rounds) holds"
        )
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
