"""Round-3 additions: config lints (process-count bound, important-event
auto-anchoring), the driver-side summary scale guard, and the md5-family
MinHash+LSH variant (the cross-engine oracle-checkable scale path)."""

from __future__ import annotations

import pytest

from radar_log_parser_spark.config import ConfigError, parse_config

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


# the `scoped` columns that the summary's aggregates and the routed rows read
SCOPE_DDL = (
    "source string, process string, issue string, proc_rank int, grouped boolean, "
    "doc_id string, line_no long, tokens array<int>, text string, "
    "match_arr array<string>, grp_arr array<string>, "
    "fld_hits array<struct<k:int,n:int,j:string>>"
)


def test_summary_is_distributed(spark):
    """The summary sink must be a distributed plan: no collect of the
    unbounded joined-field strings to the driver (the r2 driver-side
    assembly was both a serial tail and an OOM cliff at 10^12 rows).
    summary_frame takes DataFrames and returns a lazy DataFrame whose plan
    carries the aggregates over the scope and the routed rows — nothing
    driver-side scales with the corpus."""
    from radar_log_parser_spark.operators import routing
    from radar_log_parser_spark.operators.aggregates import summary_frame

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
    # pass's field hits of pair k=0 ride along in fld_hits
    scope = spark.createDataFrame(
        [
            ("s1", "p", "I1", 0, False, "s1-10", 10, [1], "l10",
             ["boom level=E xa"], [], [(0, 1, "xa")]),
            ("s1", "p", "I1", 0, False, "s1-11", 11, [2], "l11",
             ["boom xb", "boom 12:34"], [], [(0, 1, "xb")]),
        ],
        SCOPE_DDL,
    )
    df = summary_frame(
        spark, cfg, sources, scope,
        routing.other_routed(scope), routing.grouped_routed(scope, cfg),
    )
    rows = {(r["source"], r["issue"]): r for r in df.collect()}
    r1 = rows[("s1", "I1")]
    assert r1["number"] == 3
    assert r1["timestamp"] == "12:34"  # from LAST match
    assert r1["log_level"] == "E"  # group(1) of FIRST match
    assert r1["fields"] == {"Fld": "2 :  xa\nxb"}
    r2 = rows[("s2", "I1")]
    assert r2["number"] == 0 and r2["timestamp"] == "" and r2["log_level"] == ""
    assert r2["fields"] == {}  # non-grouped issue with no matches


def _pairs_config(n_pairs: int):
    """Two issues under the same general fields, with `n_pairs` summary
    pairs between them (half, rounded up, on the non-grouped one)."""
    n1 = (n_pairs + 1) // 2
    return parse_config(
        {
            "IssuesGeneralFields": {"Timestamp": r"\d\d:\d\d", "LogLevel": r"level=(\w)"},
            "Issues": {
                "I1": {
                    "specific_process": {"p": "p"},
                    "regex": "boom",
                    "additional_fields": {f"F{i:02d}": rf"x{i}\w*" for i in range(n1)},
                },
                "I2": {
                    "specific_process": {"q": "q"},
                    "regex": "under",
                    "detailing_mode": "group",
                    "grouping": r"under (\w+) (\d+)",
                    "additional_fields": {
                        f"G{i:02d}": rf"y{i}\w*" for i in range(n_pairs - n1)
                    },
                },
            },
        }
    )


def _parse_schemas(spark, cfg):
    """The schema of the parse kernel's Arrow batches and of the Spark
    parse stage under `cfg`, over a small generated corpus."""
    import pyarrow as pa

    from radar_log_parser_spark.codec import Vocab
    from radar_log_parser_spark.functions.parse import parse_stage
    from radar_log_parser_spark.functions.parse_arrow import match_batch_arrow
    from radar_log_parser_spark.sources.fixtures import corpus_to_table, generate_corpus

    corpus = generate_corpus(n_rows=200, seed=5)
    vocab = Vocab.build([ln for lines in corpus.values() for ln in lines])
    table = corpus_to_table(corpus, vocab)
    batch = table.combine_chunks().to_batches()[0]
    kernel = match_batch_arrow(batch, cfg, pa.array(vocab.id_to_token, pa.string()))
    return kernel.schema, parse_stage(spark.createDataFrame(table), cfg, vocab).schema


def test_parsed_schema_and_summary_plan_ignore_the_pair_count(spark):
    """A 1-pair and a 20-pair config over the same issues and general
    fields give the same parsed schema, and the summary stage over a
    `scoped`-shaped frame has the same optimized plan (expression ids and
    lambda variable numbers stripped): the pairs enter the plan as data."""
    from test_round6 import optimized_plan

    from radar_log_parser_spark.config import summary_pairs
    from radar_log_parser_spark.operators import routing
    from radar_log_parser_spark.operators.aggregates import summary_frame

    one, twenty = _pairs_config(1), _pairs_config(20)
    assert (len(summary_pairs(one)), len(summary_pairs(twenty))) == (1, 20)
    assert _parse_schemas(spark, one) == _parse_schemas(spark, twenty)

    sources = spark.createDataFrame([("s1",)], "source string")
    scope = spark.createDataFrame(
        [("s1", "p", "I1", 0, False, "s1-10", 10, [1], "boom x0a",
          ["boom x0a"], [], [(0, 1, "x0a")])],
        SCOPE_DDL,
    )
    plans = [
        optimized_plan(summary_frame(
            spark, c, sources, scope,
            routing.other_routed(scope), routing.grouped_routed(scope, c),
        ))
        for c in (one, twenty)
    ]
    assert plans[0] == plans[1]


def test_parsed_schema_and_scope_plan_ignore_the_issues(spark):
    """The 3-issue fixture config and the 11-issue bench config give the
    parse kernel's and the parse stage's one constant schema, and
    `scoped_direct` over a parsed-shaped frame has the same optimized plan
    (ids and lambda numbers stripped) for both: no column or expression
    is built per issue."""
    import yaml
    from test_round6 import optimized_plan

    from radar_log_parser_spark.functions.schema import parsed_arrow_schema, parsed_schema
    from radar_log_parser_spark.operators.routing import issue_process_map, scoped_direct
    from radar_log_parser_spark.sources.fixtures import BENCH_CONFIG_YAML, FIXTURE_CONFIG_YAML

    cfgs = [parse_config(yaml.safe_load(y)) for y in (FIXTURE_CONFIG_YAML, BENCH_CONFIG_YAML)]
    assert [len(c.issues) for c in cfgs] == [3, 11]
    for c in cfgs:
        assert _parse_schemas(spark, c) == (parsed_arrow_schema(), parsed_schema())

    parsed = spark.createDataFrame(
        [("d-0", "s1", 0, [1], 1, "t", ["CameraService"], [], [], [],
          [("ConnTimeout", ["t"])], [], [])],
        parsed_schema(),
    )
    kept = spark.createDataFrame([("s1", "CameraService")], "source string, process string")
    plans = [
        optimized_plan(scoped_direct(parsed, kept, issue_process_map(spark, c))) for c in cfgs
    ]
    assert plans[0] == plans[1]


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
