"""Golden-parity tests: Spark pipeline sinks vs the pure-Python oracle
goldens (checked into tests/golden/). This is the correctness gate the
north rule demands: per-sink counts, routed-row SET equality, token-array
equality per routed row, grouped tuple+count multisets, summary fields."""

from __future__ import annotations

from tests.oracle import analyse_corpus


def test_goldens_are_current(corpus, cfg, golden):
    """Oracle regeneration must byte-match the checked-in goldens
    (determinism guard for generator + oracle)."""
    import json

    regenerated = json.loads(json.dumps(analyse_corpus(corpus, cfg)))
    assert regenerated == golden


def _by_source(rows, source):
    return [r for r in rows if r["source"] == source]


def test_specific_issues(pipeline_result, golden):
    rows = pipeline_result.sinks["specific_issues"].collect()
    for source, g in golden.items():
        got: dict[str, list[int]] = {}
        for r in _by_source(rows, source):
            got.setdefault(r["process"], []).append(r["line_no"])
        assert {k: sorted(v) for k, v in got.items()} == g["specific_issues"]


def test_specific_issues_token_equality(pipeline_result, spark, fx):
    """Per-row invariant vs the source table: routed rows carry the EXACT
    token array of their source row (BASELINE.json input_hint)."""
    src = spark.read.parquet(fx.logs_path).select("doc_id", "tokens")
    sink = pipeline_result.sinks["specific_issues"].select("doc_id", "tokens")
    from pyspark.sql import functions as F

    joined = sink.alias("s").join(src.alias("r"), "doc_id", "left")
    bad = joined.filter(
        F.col("r.tokens").isNull() | (F.col("s.tokens") != F.col("r.tokens"))
    )
    assert bad.count() == 0


def test_other_routed_rows(pipeline_result, golden):
    rows = pipeline_result.sinks["other_routed"].collect()
    for source, g in golden.items():
        for iname, ov in g["other_issues"].items():
            got = sorted(
                (r["process"], r["line_no"], r["match"])
                for r in _by_source(rows, source)
                if r["issue"] == iname
            )
            assert got == sorted(tuple(x) for x in ov["rows"]), (source, iname)


def test_other_match_sets(pipeline_result, golden):
    rows = pipeline_result.sinks["match_sets"].collect()
    for source, g in golden.items():
        for iname, ov in g["other_issues"].items():
            got = sorted(
                r["match"]
                for r in _by_source(rows, source)
                if r["issue"] == iname
            )
            assert got == ov["match_set"], (source, iname)


def test_grouped_issue_tuples(pipeline_result, golden):
    rows = pipeline_result.sinks["grouped_issues"].collect()
    for source, g in golden.items():
        for iname, gv in g["grouped_issues"].items():
            got = sorted(
                (r["group_key"], tuple(r["details"]), r["count"])
                for r in _by_source(rows, source)
                if r["issue"] == iname
            )
            exp = sorted(
                (k, tuple(d), c)
                for k, lst in gv["groups"].items()
                for d, c in lst
            )
            assert got == exp, (source, iname)


def test_grouped_tokens_equal_source(pipeline_result, spark, fx):
    from pyspark.sql import functions as F

    src = spark.read.parquet(fx.logs_path).select("doc_id", "tokens")
    sink = pipeline_result.sinks["grouped_routed"].select("doc_id", "tokens")
    joined = sink.alias("s").join(src.alias("r"), "doc_id", "left")
    bad = joined.filter(
        F.col("r.tokens").isNull() | (F.col("s.tokens") != F.col("r.tokens"))
    )
    assert bad.count() == 0


def test_events(pipeline_result, golden):
    rows = pipeline_result.sinks["events"].collect()
    for source, g in golden.items():
        got = sorted((r["line_no"], r["event"]) for r in _by_source(rows, source))
        assert got == [tuple(x) for x in g["events"]], source


def test_severity(pipeline_result, golden):
    rows = pipeline_result.sinks["severity"].collect()
    for source, g in golden.items():
        got: dict[str, list[list[int]]] = {}
        for r in _by_source(rows, source):
            got.setdefault(r["level"], []).append([r["line_no"], r["n_matches"]])
        for lvl, exp in g["severity"].items():
            assert sorted(got.get(lvl, [])) == exp, (source, lvl)
        assert not set(got) - set(g["severity"]), source


def test_summary(pipeline_result, golden):
    rows = pipeline_result.sinks["summary"].collect()
    for source, g in golden.items():
        issues = g["summary"]["issues"]
        for r in _by_source(rows, source):
            gi = issues[r["issue"]]
            assert str(r["number"]) == gi["Number"], (source, r["issue"])
            assert r["timestamp"] == gi.get("Timestamp", ""), (source, r["issue"])
            assert r["log_level"] == gi.get("LogLevel", ""), (source, r["issue"])
            assert set(r["fields"] or {}) == set(gi) - {"Number", "Timestamp", "LogLevel"}, (
                source, r["issue"],
            )
            for fname, fval in (r["fields"] or {}).items():
                assert gi.get(fname) == fval, (source, r["issue"], fname)
            assert r["priority"] == g["summary"]["priority"][r["issue"]]


def test_summary_ordering(pipeline_result, golden):
    """Priority desc, issue-name asc tiebreak (O1 + Q4)."""
    rows = pipeline_result.sinks["summary"].collect()
    got = [(r["source"], r["issue"]) for r in rows]
    exp = [
        (source, iname)
        for source in sorted(golden)
        for iname in golden[source]["summary"]["ordered_issues"]
    ]
    assert got == exp
