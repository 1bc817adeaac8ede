"""Output checks: the program's results against the seed's expected rows.

They run after the timed window. Each returns None when the output is right
and a one-line description of the first difference otherwise.
"""

from __future__ import annotations

import hashlib
import json

from inputs import canonical, compact


def check_catalog(expected: dict, columns: list[str], rows: list) -> str | None:
    """One query run's collected rows against its DuckDB oracle answer."""
    if sorted(columns) != sorted(expected["columns"]):
        return f"columns {sorted(columns)} != oracle {sorted(expected['columns'])}"
    got = canonical(columns, rows)
    want = expected["rows"]
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for g, w in zip(got, want):
        if g != w:
            return f"row {g} != oracle {w}"
    return None


def sink_rows(bodies: list[bytes]) -> list[list[str]]:
    """Decode POSTed FeatureCollections into sorted [id, type, coordinates] rows."""
    rows = []
    for body in bodies:
        for f in json.loads(body)["features"]:
            g = f["geometry"]
            rows.append([f["id"], g["type"], compact(g["coordinates"])])
    rows.sort()
    return rows


def bodies_digest(bodies: list[bytes]) -> tuple:
    """Order-insensitive digest of one pass's POST bodies. Tasks finish in
    any order, but each body's bytes are fixed by its page and batch."""
    return tuple(sorted(hashlib.sha256(b).digest() for b in bodies))


def check_signs(expected_rows: list[list[str]], got_rows: list[list[str]]) -> str | None:
    """One pass's sink rows against the reference dataflow's rows."""
    if len(got_rows) != len(expected_rows):
        return f"sink received {len(got_rows)} rows != expected {len(expected_rows)}"
    for g, w in zip(got_rows, expected_rows):
        if g != w:
            return f"sink row {g} != expected {w}"
    return None
