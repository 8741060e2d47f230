"""Routing: parsed rows → per-category sink DataFrames.

One parsed DataFrame feeds several filtered writes (reference: the single
``FullDetails`` result object rendered as separate report views,
analyzeLog.go:61-66 / report.html:53-97):

  specific_issues — per-process sub-logs            (F1, quirk Q1)
  scoped_direct   — the issue-scoped lines that carry a hit (F2, quirk Q2)
  other_routed    — non-grouped issue match rows    (F3)
  grouped_routed  — grouped issue match rows        (F4)
  events          — important-event lines           (F9, quirks Q6/Q7)
  severity        — per-line severity classification (F8, quirk Q8)

The F3/F4 rows are defined here once: every count over them reads these
sinks back — the `match_sets` and `grouped_issues` aggregates, and the
summary's Number and first/last columns (aggregates.routed_scalars).

Scale notes: the issue→process mapping and the Q1 keep-set are config-sized
and per-(source,process) — both broadcast; the only shuffles in this module
are the tiny keep-rule count and the events text-group (see events_sink).
"""

from __future__ import annotations

import bisect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_log_parser_spark.config import ConfigSpec, summary_pairs
from radar_log_parser_spark.session import local_frame


def kept_processes(parsed: DataFrame) -> DataFrame:
    """Q1 keep rule: a process exists only if its pattern matched >1 line in
    that source's log (reference: `len(proc_content) > 1`, analyzeLog.go:137).
    Output (source, process, n_lines) — config-sized, broadcastable."""
    return (
        parsed.select("source", F.explode("procs").alias("process"))
        .groupBy("source", "process")
        .count()
        .filter(F.col("count") > 1)
        .withColumnRenamed("count", "n_lines")
    )


def specific_issues(parsed: DataFrame, kept: DataFrame) -> DataFrame:
    """Per-process sub-log rows (reference: setSpecProcessLogs result map,
    analyzeLog.go:125-146). Tokens are carried through untouched — this is
    where per-row token-array equality vs the source is anchored."""
    exploded = parsed.select(
        "source", F.explode("procs").alias("process"),
        "doc_id", "line_no", "tokens", "n_tok", "text",
    )
    return exploded.join(
        F.broadcast(kept.select("source", "process")), ["source", "process"], "inner"
    )


def issue_process_map(spark: SparkSession, cfg: ConfigSpec) -> DataFrame:
    """Broadcast dimension: (issue, process, proc_rank, grouped, k_lo, k_hi).

    proc_rank = position of the process within the issue's process list
    sorted ascending — quirk Q3 pins the reference's nondeterministic Go
    map-order block concatenation (analyzeLog.go:158) to name order; it
    drives every first/last-match ordering.

    [k_lo, k_hi) = the issue's range of summary pair indices:
    config.summary_pairs sorts the pairs by issue."""
    pair_issues = [iname for iname, _f, _p in summary_pairs(cfg)]
    rows = []
    for iname in sorted(cfg.issues):
        spec = cfg.issues[iname]
        k_range = (bisect.bisect_left(pair_issues, iname), bisect.bisect_right(pair_issues, iname))
        for rank, proc in enumerate(sorted(spec.specific_process)):
            rows.append((iname, proc, rank, spec.grouped, *k_range))
    ddl = "issue string, process string, proc_rank int, grouped boolean, k_lo int, k_hi int"
    return local_frame(spark, rows, ddl)


def _issue_matches(col: str):
    """The row issue's match list from a keyed `ngrp__hits`/`grp__hits`
    column: its one entry's `m`, or an empty array when it has none."""
    return F.flatten(
        F.transform(F.filter(col, lambda h: h["issue"] == F.col("issue")), lambda h: h["m"])
    )


def scoped_direct(parsed: DataFrame, kept: DataFrame, ipmap: DataFrame) -> DataFrame:
    """F2 issue scoping with Q2 semantics: an issue's search space is the
    concatenation of its kept processes' sub-logs and NOTHING else
    (reference: analyzeLog.go:156-178; the local re-scan cache there is dead
    code — see SURVEY.md quirk Q2). Computed straight from the parsed stage:
    explode procs → Q1 keep-rule broadcast join → issue→process broadcast
    join. No wide shuffle anywhere.

    Each keyed hit list keeps only the row issue's entries (the issue's
    match lists, its pairs' field hits), so the plan and the scope frame's
    width do not depend on the config. Only the rows that carry a hit are
    kept: every consumer (the F3/F4 routed rows, the summary's counts,
    first/last selections and field contents) reads nothing from the
    others, and the summary's (source × issue) base gives an issue without
    rows the same defaults."""
    keep_cols = ["source", "doc_id", "line_no", "tokens", "n_tok", "text"]
    exploded = parsed.select(
        *keep_cols,
        F.explode("procs").alias("process"),
        "ngrp__hits", "grp__hits", "fld_hits",
    )
    kept_rows = exploded.join(
        F.broadcast(kept.select("source", "process")), ["source", "process"], "inner"
    )
    scope = kept_rows.join(F.broadcast(ipmap), "process", "inner")
    return scope.select(
        "source", "process", "issue", "proc_rank", "grouped",
        "doc_id", "line_no", "tokens", "n_tok", "text",
        _issue_matches("ngrp__hits").alias("match_arr"),
        _issue_matches("grp__hits").alias("grp_arr"),
        # a line's hits cover every issue's pairs (the bench catalog
        # shares one Pid pattern across 9 issues): keep the row issue's
        # own pairs, [k_lo, k_hi)
        F.filter(
            "fld_hits", lambda h: (h["k"] >= F.col("k_lo")) & (h["k"] < F.col("k_hi"))
        ).alias("fld_hits"),
    ).filter(
        (F.size("match_arr") > 0) | (F.size("grp_arr") > 0) | (F.size("fld_hits") > 0)
    )


def other_routed(scope: DataFrame) -> DataFrame:
    """F3 non-grouped routed rows: one row per match substring, duplicates
    preserved (the reference counts duplicates, analyzeLog.go:271-278; the
    dedup SET is a separate aggregate). Ordering key (proc_rank, line_no,
    match_pos) reproduces issueContent scan order."""
    return (
        scope.filter(~F.col("grouped"))
        .select(
            "source", "issue", "process", "proc_rank", "doc_id", "line_no",
            "tokens", "text",
            F.posexplode("match_arr").alias("match_pos", "match"),
        )
    )


def grouped_routed(scope: DataFrame, cfg: ConfigSpec) -> DataFrame:
    """F4 grouped routed rows: first grouping match per line; group 1 is the
    key, groups 2.. the detail tuple (reference: fillGroupDetails,
    analyzeLog.go:233-257; the ≥2-capture-group gate is enforced at parse
    time and by config validation).

    Every NAMED capture group across the grouped issues is also projected
    as a typed `g_<Name>` column (F10 — the reference renders named groups
    as report columns, analyzeLog.go:201-203 / details.html:101-108); a
    row of a different issue holds null. The statically-known names come
    from IssueSpec.group_names(). Spark resolves column names without
    regard to case, so names that differ only in case share one column,
    spelled as the first issue (in name order) spells it."""
    rows = scope.filter(F.col("grouped") & (F.size("grp_arr") > 0))
    merged: dict[str, tuple[str, object]] = {}
    for iname in sorted(cfg.issues):
        spec = cfg.issues[iname]
        if not spec.grouped:
            continue
        names = spec.group_names()
        for gi in range(1, len(names)):
            nm = names[gi]
            if not nm:
                continue
            e = F.when(
                F.col("issue") == F.lit(iname), F.element_at("grp_arr", gi)
            )
            # at most one issue's when() fires per row, so a name shared
            # across issues, in any case, coalesces safely
            first, prev = merged.get(nm.lower(), (nm, None))
            merged[nm.lower()] = (first, e if prev is None else F.coalesce(prev, e))
    named_cols = [v.alias(f"g_{nm}") for nm, v in sorted(merged.values(), key=lambda t: t[0])]
    return rows.select(
        "source", "issue", "process", "proc_rank", "doc_id", "line_no",
        "tokens", "text",
        F.element_at("grp_arr", 1).alias("group_key"),
        F.expr("slice(grp_arr, 2, size(grp_arr) - 1)").alias("details"),
        *named_cols,
    )


def events_sink(parsed: DataFrame) -> DataFrame:
    """F9 important events with quirk Q7: the reference resolves each match
    string through a text→line-number map where the LAST occurrence wins
    (details.go:158-161), and one event per line via map overwrite
    (details.go:177 — collision resolved here as max event name).

    Lines with identical text match identical events, so grouping by
    (source, text) and taking the max line_no reproduces the map exactly.
    The text-group shuffle is bounded by the number of DISTINCT matching
    texts, not the input size."""
    hits = parsed.filter(F.size("events") > 0)
    return (
        hits.groupBy("source", "text")
        .agg(
            F.max("line_no").alias("line_no"),
            F.max_by("doc_id", "line_no").alias("doc_id"),
            F.max_by("tokens", "line_no").alias("tokens"),
            F.max(F.array_max("events")).alias("event"),
        )
        .select("source", "line_no", "event", "doc_id", "tokens", "text")
    )


def severity_sink(parsed: DataFrame) -> DataFrame:
    """F8 per-line severity rows (reference: GetLogLeveldetails,
    details.go:187-194). n_matches > 1 only on the degenerate Ios
    bare-letter path (quirk Q8)."""
    return parsed.select(
        "source", "doc_id", "line_no",
        F.explode(F.arrays_zip("sev_levels", "sev_counts")).alias("s"),
    ).select(
        "source", "doc_id", "line_no",
        F.col("s.sev_levels").alias("level"),
        F.col("s.sev_counts").alias("n_matches"),
    )
