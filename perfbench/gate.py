"""Correctness gate, run outside every timed window.

Pipeline sinks are read back from the parquet the run wrote and compared
with the `analyse_corpus` reference as multisets of rows keyed on
(source, line_no); query results are compared with the DuckDB rows of
`oracle_sql()`. Each function returns a list of mismatch descriptions; the
number of mismatches a check finds is the length of that list.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq


def _norm(v):
    """Type-tagged, JSON-stable form of one cell (floats to 9 places)."""
    if v is None:
        return ["null"]
    if isinstance(v, bool):
        return ["b", v]
    if isinstance(v, float):
        return ["f", "nan"] if math.isnan(v) else ["f", round(v, 9)]
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, (list, tuple)):
        return ["a", [_norm(x) for x in v]]
    return ["s", str(v)]


def norm_rows(cols: list[str], rows) -> list:
    """Rows with columns in name order, then sorted: order-free equality."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [[_norm(r[i]) for i in order] for r in rows]
    return sorted(out, key=repr)


def check_query(name: str, columns: list[str], rows, ref: dict | None) -> list[str]:
    if ref is None:
        return []
    if sorted(columns) != ref["columns"]:
        return [f"{name}: columns {sorted(columns)} != {ref['columns']}"]
    got = norm_rows(columns, rows)
    if got != ref["rows"]:
        return [f"{name}: {len(got)} rows differ from {len(ref['rows'])} oracle rows"]
    return []


def read_sink(path: str, columns: list[str]) -> list[dict]:
    """Every part file of a Spark parquet sink, in part order."""
    parts = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    if not parts:
        return []
    t = pa.concat_tables(pq.read_table(os.path.join(path, p), columns=columns) for p in parts)
    return t.to_pylist()


def expected_sinks(ref: dict) -> dict[str, Counter]:
    """Reference multisets, one per row sink and aggregate sink."""
    exp: dict[str, Counter] = {k: Counter() for k in (
        "specific_issues", "other_routed", "grouped_routed", "events",
        "severity", "grouped_issues", "match_sets",
    )}
    for s, g in ref.items():
        for proc, lines in g["specific_issues"].items():
            exp["specific_issues"].update((s, proc, ln) for ln in lines)
        for issue, ov in g["other_issues"].items():
            exp["other_routed"].update((s, issue, p, ln, m) for p, ln, m in ov["rows"])
            exp["match_sets"].update((s, issue, m) for m in ov["match_set"])
        for issue, gv in g["grouped_issues"].items():
            for key, tuples in gv["groups"].items():
                for details, count in tuples:
                    exp["grouped_routed"][(s, issue, key, tuple(details))] += count
                    exp["grouped_issues"][(s, issue, key, tuple(details), count)] += 1
        exp["events"].update((s, ln, ev) for ln, ev in g["events"])
        for level, per_line in g["severity"].items():
            exp["severity"].update((s, level, ln, n) for ln, n in per_line)
    return exp


SINK_KEYS = {
    "specific_issues": ("source", "process", "line_no"),
    "other_routed": ("source", "issue", "process", "line_no", "match"),
    "grouped_routed": ("source", "issue", "group_key", "details"),
    "events": ("source", "line_no", "event"),
    "severity": ("source", "level", "line_no", "n_matches"),
    "grouped_issues": ("source", "issue", "group_key", "details", "count"),
    "match_sets": ("source", "issue", "match"),
}


def _key(row: dict, cols) -> tuple:
    return tuple(tuple(row[c]) if isinstance(row[c], list) else row[c] for c in cols)


def check_sinks(sinks_dir: str, ref: dict) -> list[str]:
    """Compare every sink under `sinks_dir` with the oracle reference."""
    bad: list[str] = []
    for sink, want in expected_sinks(ref).items():
        cols = SINK_KEYS[sink]
        got = Counter(_key(r, cols) for r in read_sink(os.path.join(sinks_dir, sink), list(cols)))
        diff = (got - want) + (want - got)
        bad += [f"{sink}: {k} x{n}" for k, n in sorted(diff.items(), key=repr)]
    rows = read_sink(
        os.path.join(sinks_dir, "summary"),
        ["source", "issue", "number", "timestamp", "log_level", "fields", "priority"],
    )
    order = [(s, i) for s in sorted(ref) for i in ref[s]["summary"]["ordered_issues"]]
    if [(r["source"], r["issue"]) for r in rows] != order:
        bad.append("summary: row order differs from priority order")
    for r in rows:
        g = ref.get(r["source"], {}).get("summary")
        gi = g["issues"].get(r["issue"]) if g else None
        if gi is None:
            bad.append(f"summary: unexpected row {r['source']}/{r['issue']}")
            continue
        fields = dict(r["fields"] or [])
        if (
            str(r["number"]) != gi["Number"]
            or r["timestamp"] != gi.get("Timestamp", "")
            or r["log_level"] != gi.get("LogLevel", "")
            or r["priority"] != g["priority"][r["issue"]]
            or any(gi.get(k) != v for k, v in fields.items())
        ):
            bad.append(f"summary: row {r['source']}/{r['issue']} differs")
    return bad
