"""Aggregations A1-A8 and the summary sink.

Every first/last semantic is an explicit ``min_by``/``max_by`` over the
ordering key (proc_rank, line_no, match_pos) — the distributed equivalent of
the reference's implicit string-scan order (SURVEY.md §2.4). Spark performs
partial (map-side) aggregation for all of these automatically, so skewed
sources do not concentrate pre-aggregation rows on one reducer.

Field contents (A4/F5) aggregate the per-line hits that the parse pass
extracts (functions/fieldex.py): sum of counts + order-preserving collect.
This equals the reference's findall-over-joined-content (getFieldContent,
analyzeLog.go:305-313) because field patterns cannot match across line
boundaries (config lint guarantees the RE2 subset; `.`/char classes do not
cross `\n`).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_log_parser_spark.config import ConfigSpec, summary_pairs
from radar_log_parser_spark.session import local_frame


def _line_ord():
    """Scan-order key of a line: reproduces the reference's issueContent
    string order (process blocks name-asc per Q3, lines by ordinal; matches
    within a line stay in array order).

    Packed into ONE BIGINT — min_by/max_by over a struct key drops the
    aggregate into interpreted struct ordering (measured ~5× slower).
    Bounds: proc_rank < 2^10 processes/issue, line_no < 2^33 lines/file,
    and the low 20 bits stay free for a match position; ConfigSpec.validate()
    rejects issues with >1023 processes (config.py, the ">= 1024 processes"
    lint), and the parse kernel rejects line numbers at or above 2^33
    (parse_arrow.LINE_NO_LIMIT)."""
    return F.col("proc_rank").cast("long") * F.lit(1 << 53) + F.col("line_no") * F.lit(1 << 20)


def other_issue_match_sets(other_routed: DataFrame) -> DataFrame:
    """A6 dedup set — the reference's NonGroupedIssues map[string]bool
    (analyzeLog.go:272-276)."""
    return other_routed.select("source", "issue", "match").dropDuplicates()


def grouped_counts(grouped_routed: DataFrame) -> DataFrame:
    """A2 distinct-tuple counts per group key (fillGroupDetails,
    analyzeLog.go:240-257; tuple equality via reflect.DeepEqual → exact
    array equality here)."""
    return grouped_routed.groupBy("source", "issue", "group_key", "details").agg(
        F.count("*").alias("count")
    )


def slim_scope(scope: DataFrame) -> DataFrame:
    """The one input form of `summary_aggregate` and `field_contents`: the
    routed scope cut to its aggregation keys (source, issue, proc_rank,
    grouped, line_no) and line-local scalars.

    Field scanning needs no text here (the `fld_hits` entries come from
    the parse pass), so `text` survives only on grouped MATCHING rows, for
    the last-line Timestamp/LogLevel extract. match_arr is reduced to its
    count and first/last substring (it is in scan order); every match
    substring reaches `match_sets` through the `other_routed` rows. try_: ANSI
    element_at throws on the empty arrays of non-matching lines, and the
    projection evaluates every row."""
    return scope.select(
        "source", "issue", "proc_rank", "grouped", "line_no",
        F.when(
            F.col("grouped") & (F.size("grp_arr") > 0),
            F.col("text"),
        ).alias("text"),
        F.size("match_arr").alias("n_ng"),
        F.try_element_at("match_arr", F.lit(1)).alias("first_m"),
        F.try_element_at("match_arr", F.lit(-1)).alias("last_m"),
        "grp_arr",
        "fld_hits",
    )


def _line_bucket():
    """Level-1 bucket of the two-level aggregations, in scan order."""
    return F.floor(F.col("line_no") / F.lit(65536)).alias("line_bucket")


def summary_aggregate(scope_slim: DataFrame) -> DataFrame:
    """ONE two-level aggregation producing the summary's scalars per
    (source, issue): the non-grouped totals + first/last match (A1/A5) and
    the grouped totals + last matching line (A3), in a SINGLE line-grain
    pass over `slim_scope` (r3 ran four scans; at 32M rows that summary
    job was the fan-out straggler).

    Two levels: level 1 groups by (proc_rank, line_no div 65536) —
    consistent with the scan order — so one (source, issue) with many
    lines spreads over many groups; level 2 merges the few partials.

    first/last selections merge across the two levels by carrying the
    packed scan-order key next to each partial min_by/max_by: the key is
    unique per slim row within (source, issue), so lvl2's
    min_by(partial_value, partial_key) reproduces the global selection.
    Non-grouped first/last are the line-local first_m/last_m: the issue's
    first match is the minimal line's first and the last is the maximal
    line's last.
    """
    is_match = F.size("grp_arr") > 0
    ng_ord = F.when(~F.col("grouped") & (F.col("n_ng") > 0), _line_ord())
    g_ord = F.when(F.col("grouped") & is_match, _line_ord())
    per_row = scope_slim.select(
        "source", "issue", "proc_rank",
        "n_ng", "grouped", "first_m", "last_m", "text",
        ng_ord.alias("ng_ord"),
        g_ord.alias("g_ord"),
        _line_bucket(),
    )
    lvl1 = per_row.groupBy("source", "issue", "proc_rank", "line_bucket").agg(
        F.sum(F.when(~F.col("grouped"), F.col("n_ng")).otherwise(0)).alias("o_num1"),
        F.min("ng_ord").alias("o_ford1"),
        F.min_by("first_m", "ng_ord").alias("o_first1"),
        F.max("ng_ord").alias("o_lord1"),
        F.max_by("last_m", "ng_ord").alias("o_last1"),
        F.sum(F.when(F.col("g_ord").isNotNull(), 1).otherwise(0)).alias("g_num1"),
        F.max("g_ord").alias("g_lord1"),
        F.max_by("text", "g_ord").alias("g_last1"),
    )
    return lvl1.groupBy("source", "issue").agg(
        F.sum("o_num1").alias("o_number"),
        F.min_by("o_first1", "o_ford1").alias("first_match"),
        F.max_by("o_last1", "o_lord1").alias("last_match"),
        F.sum("g_num1").alias("g_number"),
        F.max_by("g_last1", "g_lord1").alias("last_line"),
    )


def _ordered_join(value: str, *keys: str):
    """The `value` strings of a group joined "\n" in `keys` order (the
    keys are unique within the group, so `value` never breaks a tie)."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(*keys, F.col(value).alias("s")))),
            lambda e: e["s"],
        ),
        "\n",
    )


def field_contents(scope_slim: DataFrame) -> DataFrame:
    """Every field's count N and content J (A4/F5) per (source, issue, k),
    k the summary pair index: N sums the parse-time hit counts, J joins the
    hit strings "\n" in scan order. Only pairs with hits get a row;
    `summary_frame` gives the others "0 :  ".

    One `inline` turns the `fld_hits` entries into rows, so the plan is
    the same for any number of pairs. Two levels, as in
    `summary_aggregate`: one collect_list+sort per (source, issue, k)
    would funnel a field's every hit through ONE reducer.

    Scalar packed sort key: sorting structs that CONTAIN nested data drops
    the sort into interpreted ordering (measured: it dominated the whole
    pipeline). The per-line hits are ALREADY one pre-joined string from
    the parse pass, so the sorted structs are (bigint, string):
    binary-comparable, codegen'd. A line under two kept processes of one
    issue appears once per (proc_rank) copy with distinct packed ords —
    the reference renders it once per process block (quirk Q3 order)."""
    hits = scope_slim.select(
        "source", "issue", "proc_rank", _line_bucket(), _line_ord().alias("ord"),
        F.inline("fld_hits"),
    )
    lvl1 = hits.groupBy("source", "issue", "k", "proc_rank", "line_bucket").agg(
        F.sum("n").alias("n1"),
        _ordered_join("j", "ord").alias("j1"),
    )
    return lvl1.groupBy("source", "issue", "k").agg(
        F.sum("n1").alias("N"),
        _ordered_join("j1", "proc_rank", "line_bucket").alias("J"),
    )


def summary_frame(
    spark: SparkSession,
    cfg: ConfigSpec,
    sources_df: DataFrame,
    scope_slim: DataFrame,
) -> DataFrame:
    """Final summary sink (A8): one row per (source, issue) with the
    reference's report-table columns, ordered by priority desc then issue
    asc (sortIssue, analyzeLog.go:102-111 + quirk Q4 tiebreak).

    FULLY DISTRIBUTED: `summary_aggregate` and `field_contents` over the
    slim scope left-join the static (source × issue) base. The pairs enter
    as data: an (issue, k, field) frame gives one cell per (source, pair)
    and one `map_from_entries` per (source, issue) collects them in k order,
    so the plan does not grow with the config's pairs. Timestamp/LogLevel
    extracts run as JVM `regexp_extract`; the config lint pins every
    engine (Go/RE2, Java, Python-ASCII, DuckDB) to the RE2-subset ASCII
    semantics, so the extracts agree with the Python oracle on any content
    (ADVICE r3: \\d/\\w/\\b are ASCII everywhere now). Content never
    touches the driver unless the caller collects."""
    issues_rows = [
        (iname, cfg.issues[iname].grouped, int(cfg.priority.get(iname, 0)))
        for iname in sorted(cfg.issues)
    ]
    issues_dim = local_frame(spark, issues_rows, "issue string, grouped boolean, priority int")
    pairs_dim = local_frame(
        spark,
        [(iname, k, fname) for k, (iname, fname, _p) in enumerate(summary_pairs(cfg))],
        "issue string, k int, field string",
    )
    base = sources_df.select("source").crossJoin(F.broadcast(issues_dim))

    ts = cfg.general.timestamp
    lvl = cfg.general.log_level
    lvl_has_group = bool(lvl) and re.compile(lvl).groups >= 1

    def ts_of(col):
        # Python re.search().group(0) == regexp_extract(…, 0) (find semantics,
        # "" on no match) for the RE2 subset the config lint enforces
        return F.regexp_extract(col, ts, 0) if ts else F.lit("")

    def lvl_of(col):
        # the reference takes group(1) and skips group-less patterns
        # (m.lastindex check) — mirror that statically
        return F.regexp_extract(col, lvl, 1) if lvl_has_group else F.lit("")

    # one "<n> :  <joined>" cell per (source, pair), "0 :  " where the pair
    # has no hits (analyzeLog.go:311) — also when the issue was never
    # scoped, matching the reference's unconditional grouped-field scan
    # over empty content; an issue without pairs gets an empty map
    cell = F.when(
        F.col("N") > 0, F.concat(F.col("N").cast("string"), F.lit(" :  "), F.col("J"))
    ).otherwise(F.lit("0 :  "))
    entry = F.when(F.col("k").isNotNull(), F.struct("k", "field", cell.alias("cell")))
    field_map = F.map_from_entries(
        F.transform(
            F.array_sort(F.collect_list(entry)), lambda e: F.struct(e["field"], e["cell"])
        )
    )
    j = (
        base.join(F.broadcast(pairs_dim), "issue", "left")
        .join(field_contents(scope_slim), ["source", "issue", "k"], "left")
        .groupBy("source", "issue", "grouped", "priority")
        .agg(field_map.alias("field_map"))
        .join(summary_aggregate(scope_slim), ["source", "issue"], "left")
    )

    empty_map = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )
    has_other = F.coalesce(F.col("o_number"), F.lit(0)) > 0
    number = (
        F.when(F.col("grouped"), F.coalesce("g_number", F.lit(0)))
        .otherwise(F.coalesce("o_number", F.lit(0)))
        .cast("long")
    )
    # grouped: Timestamp/LogLevel from the LAST matching line; non-grouped:
    # LogLevel from the FIRST match substring, Timestamp from the LAST
    # (analyzeLog.go:285,299); "" when the issue never matched
    timestamp = F.when(
        F.col("grouped"),
        F.when(F.col("last_line").isNotNull(), ts_of(F.col("last_line"))).otherwise(F.lit("")),
    ).otherwise(F.when(has_other, ts_of(F.col("last_match"))).otherwise(F.lit("")))
    log_level = F.when(
        F.col("grouped"),
        F.when(F.col("last_line").isNotNull(), lvl_of(F.col("last_line"))).otherwise(F.lit("")),
    ).otherwise(F.when(has_other, lvl_of(F.col("first_match"))).otherwise(F.lit("")))
    # grouped fields exist even with zero matches (analyzeLog.go:222-231
    # runs unconditionally); non-grouped fields only when matches exist
    # (analyzeLog.go:280-303)
    fields_col = F.when(F.col("grouped") | has_other, F.col("field_map")).otherwise(empty_map)
    return j.select(
        "source",
        "issue",
        F.col("priority").cast("int").alias("priority"),
        number.alias("number"),
        timestamp.alias("timestamp"),
        log_level.alias("log_level"),
        fields_col.alias("fields"),
    ).orderBy("source", F.desc("priority"), F.asc("issue"))
