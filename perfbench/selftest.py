"""Fast self-test of the benchmark's own parts, no Spark session:

* the CDC generator is deterministic per seed and has the documented
  shape (op mix, late events, redeliveries, tick hours);
* the DuckDB reference fold equals a plain-Python last-writer-wins fold
  of the same envelopes, with and without a day cut-off;
* the fixture generator is deterministic per seed;
* ``BENCHMARK.json`` names exactly the metrics the runner reports.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pyarrow as pa  # noqa: E402

import cdcgen  # noqa: E402
import fixture  # noqa: E402


def python_fold(tables: list[pa.Table], through=None) -> list[tuple]:
    """Last writer wins per ``id`` on ``(timestamp, event_id)``; deletes
    removed; sorted by ``id``."""
    latest: dict[str, tuple] = {}
    for t in tables:
        for ts, value in zip(t.column("timestamp").to_pylist(), t.column("value").to_pylist()):
            if through is not None and ts.date() > through:
                continue
            p = json.loads(value)
            order = (ts, p["event_id"])
            cur = latest.get(p["id"])
            if cur is None or order > cur[0]:
                us = int(ts.timestamp()) * 10**6 + ts.microsecond
                latest[p["id"]] = (order, p["__op"], (p["id"], p["event_id"], p["value"], p["k"], us))
    return sorted(row for _, op, row in latest.values() if op != "d")


def check_generator() -> None:
    a, b = cdcgen.CdcGen(7, 500, 200), cdcgen.CdcGen(7, 500, 200)
    boot = a.bootstrap()
    assert boot.equals(b.bootstrap()), "bootstrap not deterministic"
    drops = a.day_drops(1)
    assert all(x.equals(y) for (_, x), (_, y) in zip(drops, b.day_drops(1)))
    assert not boot.equals(cdcgen.CdcGen(8, 500, 200).bootstrap()), "seed ignored"
    assert [h for h, _ in drops] == list(range(1, 24)) + [0]
    day = cdcgen.CdcGen.day(1)
    ops = {}
    late = dups = 0
    prev = set()
    for j, (_, t) in enumerate(drops):
        rows = list(zip(t.column("timestamp").to_pylist(), t.column("value").to_pylist()))
        assert all(ts.date() == day for ts, _ in rows), "event outside its day"
        late += sum(ts.hour < j for ts, _ in rows)
        dups += sum(r in prev for r in rows)
        prev = set(rows)
        for _, v in rows:
            op = json.loads(v)["__op"]
            ops[op] = ops.get(op, 0) + 1
    total = sum(ops.values())
    for op, share in zip(cdcgen.OPS, cdcgen.OP_P):
        assert abs(ops[op] / total - share) < 0.03, (op, ops[op] / total)
    assert late > 0 and dups > 0, (late, dups)


def check_reference_fold() -> None:
    gen = cdcgen.CdcGen(3, 300, 150)
    tables = [gen.bootstrap()] + [t for n in (1, 2) for _, t in gen.day_drops(n)]
    with tempfile.TemporaryDirectory() as d:
        for i, t in enumerate(tables):
            cdcgen.write_drop(t, os.path.join(d, f"drop-{i:03d}.parquet"))
        glob = os.path.join(d, "*.parquet")
        for through in (None, cdcgen.CdcGen.day(1)):
            ref = cdcgen.reference_history(glob, through).to_pylist()
            got = [tuple(r[c] for c in ("id", "event_id", "value", "k", "ts_us")) for r in ref]
            want = python_fold(tables, through)
            assert got == sorted(got), "reference not sorted by id"
            assert got == want, f"reference fold differs (through={through})"
            assert len(got) > 300


def check_fixture() -> None:
    a, b = fixture.tables(5, 0.001), fixture.tables(5, 0.001)
    assert all(a[k].equals(b[k]) for k in a), "fixture not deterministic"
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000


def check_benchmark_json() -> None:
    from layers import PER_LAYER
    from run import END_TO_END

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)


def main() -> int:
    for check in (check_generator, check_reference_fold, check_fixture, check_benchmark_json):
        check()
        print(f"ok  {check.__name__}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
