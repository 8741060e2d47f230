"""Aggregations A1-A8 and the summary sink.

Every first/last semantic is an explicit ``min_by``/``max_by`` over the
ordering key (proc_rank, line_no, match_pos) — the distributed equivalent of
the reference's implicit string-scan order (SURVEY.md §2.4). Spark performs
partial (map-side) aggregation for all of these automatically, so skewed
sources do not concentrate pre-aggregation rows on one reducer.

The summary's counts and first/last selections (A1/A3/A5) are
aggregations over the routed rows, `other_routed` and `grouped_routed`:
the rows that `match_sets` and `grouped_issues` count too, so every count
of a match is taken over one definition of its row.

Field contents (A4/F5) aggregate the per-line hits that the parse pass
extracts (functions/fieldex.py): sum of counts + order-preserving collect.
This equals the reference's findall-over-joined-content (getFieldContent,
analyzeLog.go:305-313) because field patterns cannot match across line
boundaries (config lint guarantees the RE2 subset; `.`/char classes do not
cross `\n`).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_log_parser_spark.config import ConfigSpec, summary_pairs
from radar_log_parser_spark.session import local_frame


def _line_ord():
    """Scan-order key of a line: reproduces the reference's issueContent
    string order (process blocks name-asc per Q3, lines by ordinal; matches
    within a line stay in array order).

    Packed into ONE BIGINT — min_by/max_by over a struct key drops the
    aggregate into interpreted struct ordering (measured ~5× slower).
    Bits: proc_rank from bit 53 (< 2^10 processes/issue), line_no in bits
    20..52 (< 2^33 lines/file), and the low 20 bits are left for a match's
    position in its line, which `routed_scalars` adds. ConfigSpec.validate()
    rejects issues with >1023 processes (config.py, the ">= 1024 processes"
    lint); the parse kernel rejects line numbers at or above 2^33
    (parse_arrow.LINE_NO_LIMIT) and lines with 2^20 or more matches of one
    non-grouped issue (parse_arrow.MATCH_POS_LIMIT)."""
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


def routed_scalars(other_routed: DataFrame, grouped_routed: DataFrame) -> DataFrame:
    """The summary's scalars per (source, issue), counted over the routed
    rows: a non-grouped issue's Number is its match substrings (A1,
    analyzeLog.go:271-278) with the first and last of them in scan order
    (A5); a grouped issue's Number is its matching lines (A3,
    analyzeLog.go:258-264) with the last of them. An issue has rows in
    one sink only, so the union holds one row per (source, issue).

    One level each: count, min_by and max_by all combine map-side, so a
    skewed (source, issue) never funnels its rows through one reducer. The
    key of a match is its line's packed scan-order key plus its match_pos,
    unique within (source, issue)."""
    match_ord = _line_ord() + F.col("match_pos")
    other = other_routed.groupBy("source", "issue").agg(
        F.count("*").alias("number"),
        F.min_by("match", match_ord).alias("first_match"),
        F.max_by("match", match_ord).alias("last_match"),
    )
    grouped = grouped_routed.groupBy("source", "issue").agg(
        F.count("*").alias("number"),
        F.max_by("text", _line_ord()).alias("last_line"),
    )
    return other.unionByName(grouped, allowMissingColumns=True)


def _line_bucket():
    """Level-1 bucket of the two-level field contents, in scan order."""
    return F.floor(F.col("line_no") / F.lit(65536)).alias("line_bucket")


def ordered_join(value: Column | str, *keys: Column | str):
    """The `value` strings of a group joined "\n" in `keys` order (the
    keys are unique within the group, so `value` never breaks a tie)."""
    value = F.col(value) if isinstance(value, str) else value
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(*keys, value.alias("s")))),
            lambda e: e["s"],
        ),
        "\n",
    )


def field_contents(scope: DataFrame) -> DataFrame:
    """Every field's count N and content J (A4/F5) per (source, issue, k),
    k the summary pair index: N sums the parse-time hit counts, J joins the
    hit strings "\n" in scan order. Only pairs with hits get a row;
    `summary_frame` gives the others "0 :  ".

    One `inline` turns the `fld_hits` entries into rows, so the plan is
    the same for any number of pairs. Two levels: one collect_list+sort
    per (source, issue, k) would funnel a field's every hit through ONE
    reducer, so level 1 groups by (proc_rank, line_no div 65536) —
    consistent with the scan order — and level 2 joins the few partial
    strings in that order.

    Scalar packed sort key: sorting structs that CONTAIN nested data drops
    the sort into interpreted ordering (measured: it dominated the whole
    pipeline). The per-line hits are ALREADY one pre-joined string from
    the parse pass, so the sorted structs are (bigint, string):
    binary-comparable, codegen'd. A line under two kept processes of one
    issue appears once per (proc_rank) copy with distinct packed ords —
    the reference renders it once per process block (quirk Q3 order)."""
    hits = scope.select(
        "source", "issue", "proc_rank", _line_bucket(), _line_ord().alias("ord"),
        F.inline("fld_hits"),
    )
    lvl1 = hits.groupBy("source", "issue", "k", "proc_rank", "line_bucket").agg(
        F.sum("n").alias("n1"),
        ordered_join("j", "ord").alias("j1"),
    )
    return lvl1.groupBy("source", "issue", "k").agg(
        F.sum("n1").alias("N"),
        ordered_join("j1", "proc_rank", "line_bucket").alias("J"),
    )


def summary_frame(
    spark: SparkSession,
    cfg: ConfigSpec,
    sources_df: DataFrame,
    scope: DataFrame,
    other_routed: DataFrame,
    grouped_routed: DataFrame,
) -> DataFrame:
    """Final summary sink (A8): one row per (source, issue) with the
    reference's report-table columns, ordered by priority desc then issue
    asc (sortIssue, analyzeLog.go:102-111 + quirk Q4 tiebreak).

    FULLY DISTRIBUTED: `field_contents` over the scope and
    `routed_scalars` over the routed rows left-join the static
    (source × issue) base. The pairs enter
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
        .join(field_contents(scope), ["source", "issue", "k"], "left")
        .groupBy("source", "issue", "grouped", "priority")
        .agg(field_map.alias("field_map"))
        .join(routed_scalars(other_routed, grouped_routed), ["source", "issue"], "left")
    )

    empty_map = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )
    number = F.coalesce("number", F.lit(0))
    has_other = number > 0
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
