"""Expected outputs of a workload's pipelines, computed by DuckDB.

Run as a separate process so DuckDB's memory never counts towards the
benchmark's peak RSS:

    python3 perfbench/oracle.py --data DIR --workload NAME --offset N --out FILE

It writes ``{pipeline: [normalized rows]}`` as JSON. ``normalize`` and
``same_rows`` are shared with the runner, which collects the engine's
output for the same pipelines and compares.
"""

from __future__ import annotations

import argparse
import calendar
import datetime as dt
import decimal
import json
import math
import os
import sys


def normalize(v):
    """A JSON-friendly value both engines agree on: timestamps become
    epoch seconds, decimals floats, nested rows and arrays lists."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            return calendar.timegm(v.timetuple()) + v.microsecond / 1e6
        return v.timestamp()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [normalize(x) for x in v]
    if isinstance(v, dict):
        return {str(k): normalize(x) for k, x in sorted(v.items())}
    return v


def _sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(v))
    if isinstance(v, (int, float)):
        return (2, f"{round(float(v), 3):+.3f}")
    if isinstance(v, list):
        return (3, tuple(_sort_key(x) for x in v))
    return (4, str(v))


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got: list, want: list) -> str | None:
    """Compare two row multisets; return a description of the first
    difference, or None when they agree."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    key = lambda r: tuple(_sort_key(v) for v in r)  # noqa: E731
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {g!r} differs from oracle row {w!r}"
    return None


def expected(data_dir: str, workload: str, offset: int) -> dict[str, list]:
    import duckdb

    from workloads import WORKLOADS

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {min(4, os.cpu_count() or 1)}")
    for entry in sorted(os.listdir(data_dir)):
        if entry.endswith(".parquet"):
            glob = os.path.join(data_dir, entry, "*.parquet")
            con.execute(f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{glob}')")
    offsets = _offsets(offset)
    return {p.name: [[normalize(v) for v in r]
                     for r in con.execute(p.oracle(offsets)).fetchall()]
            for p in WORKLOADS[workload].pipelines}


def _offsets(offset: int) -> dict:
    # every table's keys start at the seed's offset (see gen.key_offset)
    return {t: offset for t in ("customer", "orders", "lineitem", "events",
                                "documents", "embeddings")}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--offset", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    with open(a.out, "w") as f:
        json.dump(expected(a.data, a.workload, a.offset), f)


if __name__ == "__main__":
    main()
