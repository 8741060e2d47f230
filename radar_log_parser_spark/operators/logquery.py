"""Reference-operator analogs over the driver's testdata tables.

Each entry re-expresses one operator family from SURVEY.md §2 (the
radar-log-parser query semantics) as a Spark DataFrame query over the
`documents` / `events` tables, paired with an ANSI-SQL oracle that DuckDB
runs on the same parquet — the driver's correctness gate. `documents` plays
the role of the log (doc_id = line ordinal, text = line, source = process
bucket); `events` plays the telemetry stream for the enrich operators.

Column names are aliased identically on both sides (the driver's compare
hashes values under name-sorted columns). All numeric outputs are integral
(BIGINT) so no float summation-order noise can flip a hash.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from radar_log_parser_spark.operators.aggregates import ordered_join
from radar_log_parser_spark.session import read_parquet


@dataclass(frozen=True)
class QuerySpec:
    name: str
    doc: str
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → rows-only check


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/documents.parquet")


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with layout-adaptive scan fan-out — use for per-row-heavy
    plans (regex batteries, shingling, folds); `_docs` for pushdown-
    friendly slices (line_range) and trivial projections."""
    return _read_par(spark, f"{sf_dir}/documents.parquet")


def _read_par(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table, fanning out to the session's parallelism when
    the FILE LAYOUT cannot deliver it (r6; guide §2.5 input skew: "one
    huge unsplittable file … repartition immediately after the read").
    Parquet scan parallelism is capped by the row-group count no matter
    the split config — the testdata tables are single files with ONE row
    group, so every scan-side regex battery / shingle build otherwise
    runs on one core (measured 3-8× of several queries' wall).

    SCALE-ADAPTIVE: the decision reads only the parquet footers (a few
    ms), and any layout that already carries the session's parallelism in
    row groups — every real 100-TB table — is returned untouched, so no
    shuffle is ever added where the scan can parallelize itself. Filters
    applied by callers still execute below the exchange (Catalyst pushes
    deterministic predicates through a round-robin repartition)."""
    df = read_parquet(spark, path)
    par = spark.sparkContext.defaultParallelism
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        p = path[7:] if path.startswith("file://") else path
        if os.path.isdir(p):
            files = sorted(glob.glob(os.path.join(p, "*.parquet")))
        else:
            files = [p]
        if len(files) >= par:
            return df
        groups = 0
        for f in files:
            groups += pq.ParquetFile(f).metadata.num_row_groups
            if groups >= par:
                return df
    except Exception:
        return df  # non-local / unlistable path: leave the scan alone
    return df.repartition(par)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/events.parquet")


# --- the "config" for the documents-as-log analysis ------------------------
PROCS = {"proc_spark": r"\bspark\b", "proc_vector": r"\bvector\b", "proc_dup": r"\bdup\b"}
NGRP_ISSUES = {"repeat_batch": r"batch batch", "slow_op": r"slow (?:query|join|part)"}
GROUPING = r"the (\w+) (\w+)"
EVENT_PATTERNS = {"ev_dup": r"\bdup\b", "ev_bigjoin": r"big join"}
FIELD_PATTERN = r"\bba\w+"
SEVERITY_MAP = [  # event_type → level letter (broadcast enrich dictionary, F8)
    ("error", "E"),
    ("click", "D"),
    ("view", "V"),
    ("signup", "I"),
    ("purchase", "I"),
]
PRIORITY = [("repeat_batch", 3), ("slow_op", 2), ("grouped_the", 2)]


def _proc_union_sql() -> str:
    parts = [
        f"SELECT '{p}' AS process, doc_id FROM documents WHERE regexp_matches(text, '{rx}')"
        for p, rx in sorted(PROCS.items())
    ]
    return " UNION ALL ".join(parts)


# --- F1 + Q1: specific-process filter with >1-match keep rule --------------
def q_specific_process(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (setSpecProcessLogs, analyzeLog.go:125-146): per-process matched
    lines, kept only when the process matched >1 line (quirk Q1)."""
    docs = _docs_par(spark, sf_dir)
    pairs = docs.select(
        "doc_id",
        F.filter(
            F.array(*[
                F.when(F.col("text").rlike(rx), F.lit(p)) for p, rx in sorted(PROCS.items())
            ]),
            lambda x: x.isNotNull(),
        ).alias("procs"),
    ).select("doc_id", F.explode("procs").alias("process"))
    counts = W.partitionBy("process")
    return (
        pairs.withColumn("n", F.count("*").over(counts))
        .filter(F.col("n") > 1)
        .select("process", F.col("doc_id").cast("long").alias("doc_id"))
    )


Q_SPECIFIC_PROCESS_SQL = """
WITH matches AS ({union}),
counted AS (SELECT process, doc_id, count(*) OVER (PARTITION BY process) AS n FROM matches)
SELECT process, CAST(doc_id AS BIGINT) AS doc_id FROM counted WHERE n > 1
"""


# --- F3 + A1: non-grouped issue match count (duplicates included) ----------
def q_nongrouped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/A1 (nongroupIssueDetails, analyzeLog.go:266-279): Number counts
    ALL matches including within-line duplicates; distinct set separate.

    ONE scan for all issues: per-issue k columns in a single select, one
    aggregate, unpivoted with stack — the union-per-issue form re-read the
    table once per issue."""
    docs = _docs(spark, sf_dir)
    issues = sorted(NGRP_ISSUES.items())
    per_row = docs.select(
        "text",
        *[
            F.size(F.regexp_extract_all("text", F.lit(rx), 0)).alias(f"k{i}")
            for i, (_n, rx) in enumerate(issues)
        ],
    )
    aggd = per_row.agg(
        *[F.sum(f"k{i}").cast("long").alias(f"number{i}") for i in range(len(issues))],
        *[
            F.count_distinct(F.when(F.col(f"k{i}") > 0, F.col("text")))
            .cast("long")
            .alias(f"nd{i}")
            for i in range(len(issues))
        ],
    )
    stack_args = ", ".join(
        f"'{name}', number{i}, nd{i}" for i, (name, _rx) in enumerate(issues)
    )
    return aggd.select(
        F.expr(
            f"stack({len(issues)}, {stack_args}) as (issue, number, n_distinct_lines)"
        )
    )


Q_NONGROUPED_COUNT_SQL = """
SELECT issue, CAST(sum(k) AS BIGINT) AS number,
       CAST(count(DISTINCT CASE WHEN k > 0 THEN text END) AS BIGINT) AS n_distinct_lines
FROM (
  SELECT 'repeat_batch' AS issue, len(regexp_extract_all(text, 'batch batch')) AS k, text FROM documents
  UNION ALL
  SELECT 'slow_op' AS issue, len(regexp_extract_all(text, 'slow (?:query|join|part)')) AS k, text FROM documents
) GROUP BY issue
"""


# --- F4 + A2: grouped issue — first match per line, distinct-tuple counts --
def q_grouped_tuples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/A2 (fillGroupDetails, analyzeLog.go:233-257): group 1 = key,
    group 2 = detail; count occurrences of each distinct (key, detail)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.filter(F.col("text").rlike(GROUPING))
        .select(
            F.regexp_extract("text", GROUPING, 1).alias("group_key"),
            F.regexp_extract("text", GROUPING, 2).alias("detail"),
        )
        .groupBy("group_key", "detail")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


Q_GROUPED_TUPLES_SQL = """
SELECT regexp_extract(text, 'the (\\w+) (\\w+)', 1) AS group_key,
       regexp_extract(text, 'the (\\w+) (\\w+)', 2) AS detail,
       CAST(count(*) AS BIGINT) AS cnt
FROM documents WHERE regexp_matches(text, 'the (\\w+) (\\w+)')
GROUP BY 1, 2
"""


# --- A5/F6/F7: first/last-match selection via min_by/max_by ----------------
def q_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (analyzeLog.go:285,299): LogLevel from the FIRST match, Timestamp
    from the LAST — here: first/last matching doc ordinal and the extracted
    word at each, via min_by/max_by over the explicit ordinal."""
    docs = _docs(spark, sf_dir)
    issues = sorted(NGRP_ISSUES.items())
    # one scan: per-issue hit flags; min_by/max_by over a when()-guarded
    # ordinal skip non-hit rows (null ordering values are ignored)
    per_row = docs.select(
        "doc_id",
        F.regexp_extract("text", r"(\w+)", 1).alias("w"),
        *[
            F.col("text").rlike(rx).alias(f"hit{i}")
            for i, (_n, rx) in enumerate(issues)
        ],
    )
    ords = [
        F.when(F.col(f"hit{i}"), F.col("doc_id")) for i in range(len(issues))
    ]
    aggd = per_row.agg(
        *[F.min(ords[i]).cast("long").alias(f"fd{i}") for i in range(len(issues))],
        *[F.max(ords[i]).cast("long").alias(f"ld{i}") for i in range(len(issues))],
        *[F.min_by("w", ords[i]).alias(f"fw{i}") for i in range(len(issues))],
        *[F.max_by("w", ords[i]).alias(f"lw{i}") for i in range(len(issues))],
    )
    stack_args = ", ".join(
        f"'{name}', fd{i}, ld{i}, fw{i}, lw{i}"
        for i, (name, _rx) in enumerate(issues)
    )
    return aggd.select(
        F.expr(
            f"stack({len(issues)}, {stack_args}) "
            "as (issue, first_doc, last_doc, first_word, last_word)"
        )
    ).filter(F.col("first_doc").isNotNull())


Q_FIRST_LAST_SQL = """
SELECT issue, CAST(min(doc_id) AS BIGINT) AS first_doc, CAST(max(doc_id) AS BIGINT) AS last_doc,
       min_by(w, doc_id) AS first_word, max_by(w, doc_id) AS last_word
FROM (
  SELECT 'repeat_batch' AS issue, doc_id, regexp_extract(text, '(\\w+)', 1) AS w
  FROM documents WHERE regexp_matches(text, 'batch batch')
  UNION ALL
  SELECT 'slow_op' AS issue, doc_id, regexp_extract(text, '(\\w+)', 1) AS w
  FROM documents WHERE regexp_matches(text, 'slow (?:query|join|part)')
) GROUP BY issue
"""


# --- F5/A4: field extract — '<n> :  <joined>' over ordered matches ---------
def q_field_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/A4 (getFieldContent, analyzeLog.go:305-313): per source, the count
    of field-pattern matches plus the newline-joined matches in scan order
    (the reference's '<n> :  <joined>' cell, split into typed columns).

    Two-level ordered aggregation (same bucket scheme as the engine-side
    aggregates.field_contents): a single collect_list+sort per source would
    funnel every match of a source through ONE reducer's sort buffer — the
    scale-killer at 100×. Level 1 buckets by doc_id div 65536 and builds
    per-bucket joined strings in parallel (pre-joined per row, so the sorted
    structs are (bigint, string) — binary-comparable, codegen'd); level 2
    merges the few bucket strings in bucket order."""
    docs = _docs(spark, sf_dir)
    per_row = docs.select(
        "source", "doc_id",
        F.regexp_extract_all("text", F.lit(FIELD_PATTERN), 0).alias("hits"),
    ).filter(F.size("hits") > 0)
    bucket = F.floor(F.col("doc_id") / F.lit(65536)).alias("bucket")
    lvl1 = per_row.groupBy("source", bucket).agg(
        F.sum(F.size("hits")).cast("long").alias("n1"),
        ordered_join(F.array_join("hits", "\n"), F.col("doc_id").cast("long")).alias("j1"),
    )
    return lvl1.groupBy("source").agg(
        F.sum("n1").cast("long").alias("n"),
        ordered_join("j1", "bucket").alias("joined"),
    )


Q_FIELD_CONTENT_SQL = """
SELECT source, CAST(sum(len(hits)) AS BIGINT) AS n,
       string_agg(array_to_string(hits, chr(10)), chr(10) ORDER BY doc_id) AS joined
FROM (SELECT source, doc_id, regexp_extract_all(text, '\\bba\\w+') AS hits FROM documents)
WHERE len(hits) > 0 GROUP BY source
"""


# --- F8: severity classification via broadcast dictionary join -------------
def literal_lookup(pairs, key: str):
    """`pairs` (a fixed key → value dictionary) looked up at column `key`
    as a literal MAP (r6, guide §2.4): the dictionary is a handful of fixed
    pairs, so the broadcast-hash-join (driver createDataFrame + broadcast
    exchange + join — measured ~1 s of fixed overhead per run) is replaced
    by a codegen'd map literal. Keys are unique, so `element_at` ≡ the
    join (null ⟺ no dictionary row)."""
    kv = [F.lit(x) for pair in pairs for x in pair]
    return F.element_at(F.create_map(*kv), F.col(key))


def q_severity_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 (GetLogLeveldetails, details.go:187-194): severity classification
    against the level dictionary (literal map lookup — semantically the
    broadcast dictionary join), rolled up per level with an integral value
    sum."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(literal_lookup(SEVERITY_MAP, "event_type").alias("level"), "value")
        .filter(F.col("level").isNotNull())
        .groupBy("level")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


Q_SEVERITY_ENRICH_SQL = """
SELECT level, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events JOIN (VALUES ('error','E'),('click','D'),('view','V'),('signup','I'),('purchase','I'))
  AS sev(event_type, level) USING (event_type)
GROUP BY level
"""


# --- F8 view: all rows at one severity level (the /loglevel route) ---------
def q_severity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 user view (GetLogLeveldetails, details.go:187-194, served by the
    /loglevel route, main.go:110,129-134): give me every line at level X,
    in order. Level dictionary is a literal map lookup (≡ the broadcast
    dim join, see literal_lookup); the level predicate is a plain
    codegen'd filter on the looked-up value."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
            literal_lookup(SEVERITY_MAP, "event_type").alias("level"),
            F.col("user_id").cast("long").alias("user_id"),
        )
        .filter(F.col("level") == "I")
    )


Q_SEVERITY_FILTER_SQL = """
SELECT CAST(event_id AS BIGINT) AS event_id, event_type, level,
       CAST(user_id AS BIGINT) AS user_id
FROM events JOIN (VALUES ('error','E'),('click','D'),('view','V'),('signup','I'),('purchase','I'))
  AS sev(event_type, level) USING (event_type)
WHERE level = 'I'
"""


# --- F9 + O2 + Q7: important events, last-duplicate-index wins -------------
def q_important_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (getImportantEvents, details.go:154-186): per matched text the
    LAST ordinal wins (Q7); one event per line, max name on collision."""
    docs = _docs(spark, sf_dir)
    tagged = docs.select(
        "doc_id", "text",
        F.filter(
            F.array(*[
                F.when(F.col("text").rlike(rx), F.lit(e))
                for e, rx in sorted(EVENT_PATTERNS.items())
            ]),
            lambda x: x.isNotNull(),
        ).alias("evs"),
    ).filter(F.size("evs") > 0)
    return (
        tagged.groupBy("text")
        .agg(
            F.max("doc_id").cast("long").alias("line_no"),
            F.max(F.array_max("evs")).alias("event"),
        )
        .select("line_no", "event")
    )


Q_IMPORTANT_EVENTS_SQL = """
WITH tagged AS (
  SELECT doc_id, text, 'ev_bigjoin' AS ev FROM documents WHERE regexp_matches(text, 'big join')
  UNION ALL
  SELECT doc_id, text, 'ev_dup' AS ev FROM documents WHERE regexp_matches(text, '\\bdup\\b')
)
SELECT CAST(max(doc_id) AS BIGINT) AS line_no, max(ev) AS event FROM tagged GROUP BY text
"""


# --- F11: line-range slice (pushdown-friendly range predicate) -------------
def q_line_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 (loadEventDetails slice, main.go:178-193): context fetch =
    BETWEEN on the ordinal; the filter reaches the parquet scan."""
    docs = _docs(spark, sf_dir)
    return docs.filter(F.col("doc_id").between(100, 149)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )


Q_LINE_RANGE_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents WHERE doc_id BETWEEN 100 AND 149
"""


# --- F12: context-window segmentation via running match count --------------
def exclusive_prefix_sum(df: DataFrame, value: str) -> DataFrame:
    """`df` (doc_id long, `value`, ...) plus `excl`: the sum of `value` over
    every row with a smaller doc_id. The one ordinal prefix sum of F12
    (`q_context_segments`) and sequence packing (`llmprep.q_pack_sequences`).

    Two-phase distributed prefix sum — a global `sum over (order by)` would
    pull the whole table into ONE window partition (the r1 scale-killer).
    Phase 1: per-bucket partial sums (bucket = ordinal div 2^20: at 10^12
    rows the bucket table is ~10^6 tiny rows — broadcastable, and its
    running-offset window is trivial). Phase 2: running offset over that
    bucket table. Phase 3: broadcast offsets back, intra-bucket running sum
    under a PARTITIONED window. excl = offset + intra."""
    bucket = (F.col("doc_id") / F.lit(1 << 20)).cast("long").alias("bucket")
    per_bucket = df.groupBy(bucket).agg(F.sum(value).alias("c"))
    # single-partition window is BOUNDED BY CONSTRUCTION: the bucket table
    # has n/2^20 rows (~10^6 at 10^12 input rows). The partition key
    # pmod(bucket, 1) is constant-valued but NOT constant-foldable, so
    # WindowExec gets a real partition spec instead of the global-window
    # warning (r3's partitionBy(lit(0)) was folded away — verified; the
    # warning stayed).
    w_off = (
        W.partitionBy(F.pmod(F.col("bucket"), F.lit(1)))
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "bucket", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("offset")
    )
    w_intra = W.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    return (
        df.withColumn("bucket", bucket)
        .join(F.broadcast(offsets), "bucket")
        .withColumn(
            "excl",
            F.col("offset") + F.coalesce(F.sum(value).over(w_intra), F.lit(0)),
        )
    )


def q_context_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 (nonGroupDetails, details.go:128-153): alternating
    [context block, matched line] segmentation = running sum of the match
    flag over the ordinal (`exclusive_prefix_sum` + the line's own flag);
    emits per-segment line counts."""
    docs = _docs(spark, sf_dir)
    flag = F.when(F.col("text").rlike(r"\bdup\b"), 1).otherwise(0)
    flagged = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), flag.alias("flag")
    )
    seg = exclusive_prefix_sum(flagged, "flag").withColumn(
        "segment", (F.col("excl") + F.col("flag")).cast("long")
    )
    return seg.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.min("doc_id").cast("long").alias("seg_start"),
    )


Q_CONTEXT_SEGMENTS_SQL = """
SELECT segment, CAST(count(*) AS BIGINT) AS n_lines, CAST(min(doc_id) AS BIGINT) AS seg_start
FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(sum(CASE WHEN regexp_matches(text, '\\bdup\\b') THEN 1 ELSE 0 END)
              OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS segment
  FROM documents
) GROUP BY segment
"""


# --- time-window rollup (hypertable-style, streaming-compatible shape) ------
def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time rollup per event_type: count + integral
    value sum. Tumbling windows align to the epoch, so DuckDB's date_trunc
    is the oracle. The same plan runs over the events table
    (`q_window_rollup`) and over a watermarked stream
    (streaming/ingest.windowed_event_counts_stream). At scale this is the
    standard pre-aggregation for telemetry dashboards: map-side partial
    agg, shuffle keyed by (window, type) — uniform unless one type
    dominates, which AQE skew-split covers."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_cents",
        )
    )


def q_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`hourly_rollup` over the events table."""
    return hourly_rollup(_events(spark, sf_dir))


Q_WINDOW_ROLLUP_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
"""


# --- O1 + A8 + Q4: priority-ordered summary rollup --------------------------
def q_priority_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/A8 (sortIssue, analyzeLog.go:102-111; report.html:74-93): one row
    per issue with its match count, looked up in the literal priority dict
    (≡ the broadcast dim join), ordered priority desc with name-asc
    tiebreak (Q4)."""
    docs = _docs(spark, sf_dir)
    issues = sorted(NGRP_ISSUES.items())
    # ONE scan for every issue count (the union form re-read the table once
    # per issue): per-issue columns in a single agg, unpivoted with stack
    aggd = docs.agg(
        *[
            F.sum(F.size(F.regexp_extract_all("text", F.lit(rx), 0)))
            .cast("long")
            .alias(f"n{i}")
            for i, (_n, rx) in enumerate(issues)
        ],
        F.sum(F.when(F.col("text").rlike(GROUPING), 1).otherwise(0))
        .cast("long")
        .alias("n_grouped"),
    )
    stack_args = ", ".join(
        [f"'{name}', n{i}" for i, (name, _rx) in enumerate(issues)]
        + ["'grouped_the', n_grouped"]
    )
    out = aggd.select(
        F.expr(f"stack({len(issues) + 1}, {stack_args}) as (issue, number)")
    )
    # literal map lookup ≡ the left broadcast dim join (unique keys; a
    # missing issue yields null priority exactly like the left join)
    prio_col = literal_lookup(PRIORITY, "issue").cast("int")
    return (
        out.select("issue", prio_col.alias("priority"), "number")
        .orderBy(F.desc("priority"), F.asc("issue"))
    )


Q_PRIORITY_SUMMARY_SQL = """
SELECT issue, CAST(p.priority AS INT) AS priority, number
FROM (
  SELECT 'repeat_batch' AS issue,
         CAST(sum(len(regexp_extract_all(text, 'batch batch'))) AS BIGINT) AS number FROM documents
  UNION ALL
  SELECT 'slow_op',
         CAST(sum(len(regexp_extract_all(text, 'slow (?:query|join|part)'))) AS BIGINT) FROM documents
  UNION ALL
  SELECT 'grouped_the', CAST(count(*) AS BIGINT) FROM documents WHERE regexp_matches(text, 'the (\\w+) (\\w+)')
) c JOIN (VALUES ('repeat_batch', 3), ('slow_op', 2), ('grouped_the', 2)) AS p(issue, priority)
  USING (issue)
ORDER BY priority DESC, issue ASC
"""


SPECS: list[QuerySpec] = [
    QuerySpec("specific_process", "F1+Q1 per-process filter, >1 keep rule",
              q_specific_process, Q_SPECIFIC_PROCESS_SQL.format(union=_proc_union_sql())),
    QuerySpec("nongrouped_count", "F3+A1 match count incl. duplicates",
              q_nongrouped_count, Q_NONGROUPED_COUNT_SQL),
    QuerySpec("grouped_tuples", "F4+A2 grouped distinct-tuple counts",
              q_grouped_tuples, Q_GROUPED_TUPLES_SQL),
    QuerySpec("first_last", "A5 min_by/max_by first/last selection",
              q_first_last, Q_FIRST_LAST_SQL),
    QuerySpec("field_content", "F5+A4 ordered field extraction",
              q_field_content, Q_FIELD_CONTENT_SQL),
    QuerySpec("severity_enrich", "F8 broadcast severity dictionary join",
              q_severity_enrich, Q_SEVERITY_ENRICH_SQL),
    QuerySpec("severity_filter", "F8 /loglevel view: all rows at one level",
              q_severity_filter, Q_SEVERITY_FILTER_SQL),
    QuerySpec("important_events", "F9+Q7 last-duplicate-index-wins events",
              q_important_events, Q_IMPORTANT_EVENTS_SQL),
    QuerySpec("line_range", "F11 ordinal range slice",
              q_line_range, Q_LINE_RANGE_SQL),
    QuerySpec("context_segments", "F12 running-sum segmentation",
              q_context_segments, Q_CONTEXT_SEGMENTS_SQL),
    QuerySpec("window_rollup", "tumbling event-time rollup (streaming shape)",
              q_window_rollup, Q_WINDOW_ROLLUP_SQL),
    QuerySpec("priority_summary", "O1+A8+Q4 priority-ordered rollup",
              q_priority_summary, Q_PRIORITY_SUMMARY_SQL),
]
