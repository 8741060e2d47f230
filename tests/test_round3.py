"""Round-3 additions: config lints (process-count bound, important-event
auto-anchoring), the driver-side summary scale guard, and the md5-family
MinHash+LSH variant (the cross-engine oracle-checkable scale path)."""

from __future__ import annotations

import pytest

from radar_log_parser_spark.config import ConfigError, parse_config
from radar_log_parser_spark.functions.schema import fld_cols

SF_DIR = "/root/testdata/sf0.001"


def test_lint_rejects_1024_processes():
    """aggregates._line_ord packs proc_rank into 10 bits — an issue with >=1024
    processes must fail at config load, not as ARITHMETIC_OVERFLOW
    mid-aggregate (ADVICE r2)."""
    raw = {
        "Issues": {
            "X": {
                "specific_process": {f"p{i}": f"p{i}" for i in range(1024)},
            }
        }
    }
    with pytest.raises(ConfigError, match="1023"):
        parse_config(raw)
    raw["Issues"]["X"]["specific_process"] = {
        f"p{i}": f"p{i}" for i in range(1023)
    }
    parse_config(raw)  # exactly 1023 is fine


def test_important_events_auto_anchor():
    """Unanchored ImportantEvents patterns are upstream-valid (they just
    report line 0 there); we auto-wrap to full-line form instead of
    rejecting (ADVICE r2 compat item), with a warning."""
    with pytest.warns(UserWarning, match="auto-wrapping"):
        cfg = parse_config({"ImportantEvents": {"E": r"boot failure"}})
    assert cfg.important_events["E"] == r"(?m)^[^\n]*(?:boot failure)[^\n]*$"
    # already-anchored patterns pass through untouched, no warning
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cfg = parse_config({"ImportantEvents": {"E": r"(?m)^boot.*$"}})
    assert cfg.important_events["E"] == r"(?m)^boot.*$"


def test_summary_is_distributed(spark):
    """The summary sink must be a distributed plan: no collect of the
    unbounded joined-field strings to the driver (the r2 driver-side
    assembly was both a serial tail and an OOM cliff at 10^12 rows).
    summary_aggregate + summary_frame take DataFrames and return a lazy
    DataFrame whose plan carries the aggregates — nothing driver-side
    scales with the corpus (r4: the aggregates fused into ONE two-level
    pass over the slim scope)."""
    from radar_log_parser_spark.operators.aggregates import (
        slim_scope,
        summary_aggregate,
        summary_frame,
    )

    cfg = parse_config(
        {
            "IssuesGeneralFields": {
                "Timestamp": r"\d\d:\d\d",
                "LogLevel": r"level=(\w)",
                "OtherFields": {"Fld": r"x\w+"},
            },
            "Issues": {"I1": {"specific_process": {"p": "p"}, "regex": "boom"}},
        }
    )
    sources = spark.createDataFrame([("s1",), ("s2",)], "source string")
    # scope rows: matches in scan order are "boom level=E xa" (line 10),
    # then "boom xb", "boom 12:34" (line 11, left-to-right); the parse
    # pass's field hits ride along in the fld column
    scope = spark.createDataFrame(
        [
            ("s1", "I1", 0, False, 10, "l10", ["boom level=E xa"], None, (1, "xa")),
            ("s1", "I1", 0, False, 11, "l11", ["boom xb", "boom 12:34"], None, (1, "xb")),
        ],
        "source string, issue string, proc_rank int, grouped boolean, "
        "line_no long, text string, match_arr array<string>, grp_arr array<string>, "
        f"{fld_cols(cfg)[0]} struct<n:int,j:string>",
    )
    slim = slim_scope(cfg, scope)
    df = summary_frame(spark, cfg, sources, summary_aggregate(cfg, slim))
    rows = {(r["source"], r["issue"]): r for r in df.collect()}
    r1 = rows[("s1", "I1")]
    assert r1["number"] == 3
    assert r1["timestamp"] == "12:34"  # from LAST match
    assert r1["log_level"] == "E"  # group(1) of FIRST match
    assert r1["fields"] == {"Fld": "2 :  xa\nxb"}
    r2 = rows[("s2", "I1")]
    assert r2["number"] == 0 and r2["timestamp"] == "" and r2["log_level"] == ""
    assert r2["fields"] == {}  # non-grouped issue with no matches


def test_lsh_md5_equals_exact_pairs(spark):
    """The md5-hash-family LSH (full cross-engine oracle) must return the
    same verified pair set as the exact Jaccard baseline at threshold 0.6 —
    same property the murmur3 production path satisfies."""
    from radar_log_parser_spark.operators import dedup

    exact = {
        (r["a_id"], r["b_id"])
        for r in dedup.q_dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    md5lsh = {
        (r["a_id"], r["b_id"])
        for r in dedup.q_dedup_minhash_lsh_md5(spark, SF_DIR).collect()
    }
    assert exact
    assert md5lsh == exact
