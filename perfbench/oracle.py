"""Independent reference statistics (DuckDB over the same parquet file) and
the checks that compare a profile against them."""

from __future__ import annotations

import json
import math
from datetime import datetime, timezone

import duckdb


def reference(parquet: str) -> dict:
    """``{"n": rows, "variables": {col: {stat: value}}}`` computed by DuckDB.
    Timestamps are compared as epoch seconds."""
    con = duckdb.connect()
    try:
        rel = con.read_parquet(parquet)
        kinds = dict(zip(rel.columns, (str(t) for t in rel.types)))
        exprs, keys = ["count(*)"], []
        for c, kind in kinds.items():
            q = '"' + c.replace('"', '""') + '"'
            exprs += [f"count({q})", f"count(*) - count({q})"]
            keys += [(c, "count"), (c, "n_missing")]
            if kind.startswith("TIMESTAMP"):
                exprs += [f"epoch(min({q}))", f"epoch(max({q}))"]
                keys += [(c, "min"), (c, "max")]
            elif kind != "VARCHAR":
                exprs += [f"min({q})", f"max({q})", f"avg({q})"]
                keys += [(c, "min"), (c, "max"), (c, "mean")]
        row = con.execute(
            f"SELECT {', '.join(exprs)} FROM read_parquet(?)", [parquet]
        ).fetchone()
    finally:
        con.close()
    out = {"n": row[0], "variables": {c: {} for c in kinds}}
    for (c, stat), v in zip(keys, row[1:]):
        out["variables"][c][stat] = v
    return out


def _as_number(v):
    """Timestamp statistics arrive as datetimes or ISO strings; naive ones
    are UTC, like the reference's."""
    if isinstance(v, str):
        v = datetime.fromisoformat(v)
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return v.timestamp()
    return v


def _same(want, got) -> bool:
    if got is None:
        return False
    got = _as_number(got)
    if isinstance(want, float) or isinstance(got, float):
        return math.isclose(float(want), float(got), rel_tol=1e-9, abs_tol=1e-9)
    return want == got


def compare(ref: dict, n, variables: dict) -> list[str]:
    """Mismatches between the reference and a profile's row count and
    per-column statistics; empty when they agree."""
    errors = []
    if n != ref["n"]:
        errors.append(f"row count {n} != {ref['n']}")
    missing = sorted(set(ref["variables"]) - set(variables))
    if missing:
        errors.append(f"columns missing from the profile: {missing}")
    for c, want in ref["variables"].items():
        got = variables.get(c, {})
        for stat, v in want.items():
            if not _same(v, got.get(stat)):
                errors.append(f"{c}.{stat}: {got.get(stat)!r} != {v!r}")
    return errors


def check_report(ref: dict, result, html: str, js: str) -> list[str]:
    """Checks of one profile run: statistics, the HTML names every column,
    and the JSON parses back to the same columns."""
    errors = compare(ref, result.table.get("n"), result.variables)
    errors += [
        f"html does not name column {c}" for c in ref["variables"] if c not in html
    ]
    try:
        parsed = json.loads(js)
    except ValueError as e:
        errors.append(f"to_json does not parse: {e}")
    else:
        if set(parsed.get("variables", {})) != set(ref["variables"]):
            errors.append("to_json variables differ from the input columns")
    return errors


def check_finalized(ref: dict, final: dict) -> list[str]:
    """Checks of the finalized incremental profile dict."""
    return compare(ref, final["table"].get("n"), final["variables"])
