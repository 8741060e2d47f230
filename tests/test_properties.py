"""Property/invariant tests (SURVEY.md §5.4):
  - partition-count invariance (catches accidental order dependence — the
    distributed stand-in for 'same result on any cluster layout')
  - codec round-trip
  - sum-of-grouped-counts == grouped Number (analyzeLog.go:258-264)
  - non-grouped Number counts duplicates while the match set dedups
  - config lint rejects non-RE2 patterns
  - every parsed line agrees with the oracle's per-line regex semantics
  - the parse rejects line numbers and per-line match counts past the
    summary's scan-order key
  - renaming an issue (any YAML key) changes no sink
"""

from __future__ import annotations

import pytest
import yaml

from radar_log_parser_spark.codec import Vocab
from radar_log_parser_spark.config import ConfigError, parse_config
from radar_log_parser_spark.sources.fixtures import FIXTURE_CONFIG_YAML


def test_codec_roundtrip(corpus):
    lines = [ln for lns in corpus.values() for ln in lns]
    vocab = Vocab.build(lines)
    for ln in lines[:500]:
        assert vocab.decode(vocab.encode(ln)) == ln


def test_partition_invariance(spark, cfg, vocab, fx):
    """Pipeline result must not depend on input partitioning: run the
    summary aggregates (the scalars over the routed rows and the field
    contents over the scope) at 1 and at 13 input partitions and compare."""
    from radar_log_parser_spark.functions.parse import parse_stage
    from radar_log_parser_spark.operators import aggregates as agg
    from radar_log_parser_spark.operators import routing

    def summarize(n_parts: int):
        raw = spark.read.parquet(fx.logs_path).repartition(n_parts)
        parsed = parse_stage(raw, cfg, vocab)
        kept = routing.kept_processes(parsed)
        ipmap = routing.issue_process_map(spark, cfg)
        scope = routing.scoped_direct(parsed, kept, ipmap)
        routed = agg.routed_scalars(
            routing.other_routed(scope), routing.grouped_routed(scope, cfg)
        )
        scalars = sorted(
            (r["source"], r["issue"], r["number"], r["first_match"], r["last_match"],
             r["last_line"])
            for r in routed.collect()
        )
        fields = sorted(
            (r["source"], r["issue"], r["k"], r["N"], r["J"])
            for r in agg.field_contents(scope).collect()
        )
        return scalars, fields

    one = summarize(1)
    assert any(n for _s, _i, n, _f, _l, _ll in one[0])
    assert any(n > 1 for _s, _i, _k, n, _j in one[1])
    assert one == summarize(13)


def test_grouped_sum_invariant(pipeline_result):
    from pyspark.sql import functions as F

    gi = pipeline_result.sinks["grouped_issues"]
    totals = gi.groupBy("source", "issue").agg(F.sum("count").alias("s")).collect()
    routed = (
        pipeline_result.sinks["grouped_routed"]
        .groupBy("source", "issue")
        .count()
        .collect()
    )
    assert sorted((r["source"], r["issue"], r["s"]) for r in totals) == sorted(
        (r["source"], r["issue"], r["count"]) for r in routed
    )


def test_nongrouped_number_vs_set(pipeline_result, golden):
    rows = pipeline_result.sinks["other_routed"].collect()
    for source, g in golden.items():
        for iname, ov in g["other_issues"].items():
            matches = [
                r["match"]
                for r in rows
                if r["source"] == source and r["issue"] == iname
            ]
            assert len(matches) == ov["number"]
            assert sorted(set(matches)) == ov["match_set"]
            assert len(matches) >= len(set(matches))


@pytest.mark.parametrize("old, new", [
    ("ConnTimeout", "Conn.Timeout"),
    # differs only in case from ConnTimeout
    ("MultiProcIssue", "connTIMEOUT"),
])
def test_issue_names_are_data(spark, vocab, fx, pipeline_result, tmp_path, old, new):
    """Any YAML key is an issue name: with one issue renamed (in `Issues`
    and in `Priority`), every sink equals the unit run's once the issue
    column is mapped back, compared as multisets both ways (the summary's
    `fields` map as its entries)."""
    from pyspark.sql import functions as F

    from radar_log_parser_spark.plans.pipeline import Pipeline

    renamed = FIXTURE_CONFIG_YAML.replace(f"  {old}:", f"  {new}:")
    assert renamed.count(f"  {new}:") == 2
    cfg = parse_config(yaml.safe_load(renamed))
    res = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=str(tmp_path), checkpoint=True).run()

    def comparable(df, rename: bool):
        if "issue" in df.columns and rename:
            df = df.withColumn(
                "issue", F.when(F.col("issue") == new, F.lit(old)).otherwise(F.col("issue"))
            )
        if "fields" in df.columns:
            df = df.withColumn("fields", F.map_entries("fields"))
        return df

    for name, want in pipeline_result.sinks.items():
        got = comparable(res.sinks[name], rename=True)
        want = comparable(want, rename=False)
        assert got.schema == want.schema, name
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty(), name


def test_lint_rejects_lookaround():
    with pytest.raises(ConfigError):
        parse_config({"SpecificProcess": {"P": r"foo(?=bar)"}})
    with pytest.raises(ConfigError):
        parse_config({"SpecificProcess": {"P": r"(a)\1"}})
    with pytest.raises(ConfigError):
        parse_config({"SpecificProcess": {"P": r"foo(unclosed"}})


def test_lint_rejects_undergrouped_grouping():
    raw = {
        "Issues": {
            "X": {
                "specific_process": {"P": "p"},
                "detailing_mode": "group",
                "grouping": "only (one) group",
            }
        }
    }
    with pytest.raises(ConfigError):
        parse_config(raw)


def test_lint_rejects_group_names_equal_but_for_case():
    """Spark column names ignore case, so one issue's `a` and `A` groups
    could only share a g_<Name> column and one would lose its values."""
    raw = {
        "Issues": {
            "X": {
                "specific_process": {"P": "p"},
                "detailing_mode": "group",
                "grouping": "(?P<a>x)(?P<A>y)",
            }
        }
    }
    with pytest.raises(ConfigError, match="differ only in case"):
        parse_config(raw)


def test_quirk_q1_lonelyproc_dropped(pipeline_result):
    """LonelyProc has exactly one matching line → the >1 keep rule drops it
    (analyzeLog.go:137)."""
    procs = {
        r["process"]
        for r in pipeline_result.sinks["specific_issues"].select("process").distinct().collect()
    }
    assert "LonelyProc" not in procs
    assert {"CameraService", "AudioFlinger"} <= procs


# Inputs no catalog or fixture line has: non-grouped regexes that can
# match empty (\d*) or take alternatives, and empty-matchable fields on a
# grouped (Ee) and on non-grouped issues (Ex, Oh)
EDGE_CONFIG_YAML = FIXTURE_CONFIG_YAML.replace(
    "Issues:\n",
    """\
Issues:
  Digits:
    specific_process:
      CameraService: '(?m)^.*CameraService.*$'
    regex: '\\d*'
    detailing_mode: 'separate'
    additional_fields:
      Ex: 'x*'
  CodeOrTimeout:
    specific_process:
      AudioFlinger: '(?m)^.*AudioFlinger.*$'
    regex: 'code=\\d+|timeout'
    detailing_mode: 'separate'
    additional_fields:
      Oh: 'o*'
""",
).replace(
    "    grouping: 'underrun on",
    "    additional_fields:\n      Ee: 'e*'\n    grouping: 'underrun on",
)


def _check_parsed_line(r, text: str, cfg) -> None:
    """One parse output row against the oracle's Go-regexp semantics."""
    import re

    from radar_log_parser_spark.config import LOG_LEVELS, severity_pattern, summary_pairs
    from radar_log_parser_spark.sources.fixtures import doc_id
    from tests.oracle import go_findall

    def names(patterns: dict[str, str]) -> list[str]:
        return sorted(n for n, p in patterns.items() if go_findall(p, text))

    assert r["doc_id"] == doc_id(r["source"], r["line_no"])
    assert r["text"] == text, r["doc_id"]
    assert r["procs"] == names(cfg.specific_process), r["doc_id"]
    assert r["events"] == names(cfg.important_events), r["doc_id"]
    # the keyed match lists: issues strictly increasing, no empty entry
    keyed = {}
    for col in ("ngrp__hits", "grp__hits"):
        issues = [h["issue"] for h in r[col]]
        assert issues == sorted(set(issues)), (r["doc_id"], col)
        assert all(h["m"] for h in r[col]), (r["doc_id"], col)
        keyed[col] = {h["issue"]: h["m"] for h in r[col]}
    assert set(keyed["ngrp__hits"]) <= {n for n, s in cfg.issues.items() if not s.grouped}
    assert set(keyed["grp__hits"]) <= {n for n, s in cfg.issues.items() if s.grouped}
    for n, s in cfg.issues.items():
        if not s.grouped and s.regex:
            assert keyed["ngrp__hits"].get(n, []) == go_findall(s.regex, text), (r["doc_id"], n)
        if s.grouped and s.grouping:
            m = re.search(s.grouping, text, re.ASCII)
            want = [g or "" for g in m.groups()] if m else []
            assert keyed["grp__hits"].get(n, []) == want, (r["doc_id"], n)
    sev = [
        (lv, len(go_findall(severity_pattern(r["source"], lv), text)))
        for lv in LOG_LEVELS.get(r["source"], [])
    ]
    sev = [(lv, c) for lv, c in sev if c]
    assert list(zip(r["sev_levels"], r["sev_counts"])) == sev, r["doc_id"]
    ks = [h["k"] for h in r["fld_hits"]]
    assert ks == sorted(set(ks)), r["doc_id"]
    fld = {h["k"]: (h["n"], h["j"]) for h in r["fld_hits"]}
    for k, (iname, _f, pat) in enumerate(summary_pairs(cfg)):
        issue = cfg.issues[iname]
        if issue.grouped:
            scoped = any(p in r["procs"] for p in issue.specific_process)
            hits = go_findall(pat, text) if scoped else []
        else:
            hits = [h for m in go_findall(issue.regex, text) for h in go_findall(pat, m)]
        got = fld.get(k)
        assert got == ((len(hits), "\n".join(hits)) if hits else None), (r["doc_id"], k)


@pytest.mark.parametrize("line_no, ok", [(2**33 - 1, True), (2**33, False)])
def test_parse_rejects_line_numbers_past_the_scan_order_key(cfg, line_no, ok):
    """The summary packs line_no into bits 20..52 of its scan-order key
    (aggregates._line_ord): the parse kernel passes line 2^33 - 1 and
    raises on 2^33, naming the doc_id, instead of ordering it wrongly."""
    import pyarrow as pa

    from radar_log_parser_spark.functions.parse_arrow import match_batch_arrow
    from radar_log_parser_spark.sources.fixtures import corpus_to_table

    corpus = {"src": ["CameraService boot", "AudioFlinger underrun"]}
    vocab = Vocab.build(corpus["src"])
    table = corpus_to_table(corpus, vocab)
    planted = f"src-0000-{line_no}"
    table = table.set_column(
        table.schema.get_field_index("doc_id"), "doc_id", pa.array(["src-0000-000000", planted])
    )
    (batch,) = table.to_batches()
    vocab_pa = pa.array(vocab.id_to_token, pa.string())
    if ok:
        assert match_batch_arrow(batch, cfg, vocab_pa).column("line_no").to_pylist() == [0, line_no]
    else:
        with pytest.raises(ValueError, match=planted):
            match_batch_arrow(batch, cfg, vocab_pa)


@pytest.mark.parametrize("n, ok", [(2**20 - 1, True), (2**20, False)])
def test_parse_rejects_match_counts_past_the_scan_order_key(n, ok):
    """The summary adds a match's position in its line into the low 20
    bits of its scan-order key (aggregates._line_ord): the parse kernel
    passes a line with 2^20 - 1 matches of one non-grouped issue and
    raises on 2^20, naming the doc_id, instead of ordering them wrongly."""
    import pyarrow as pa

    from radar_log_parser_spark.functions.parse_arrow import match_batch_arrow
    from radar_log_parser_spark.sources.fixtures import corpus_to_table

    cfg = parse_config({"Issues": {"A": {"specific_process": {"p": "p"}, "regex": "a"}}})
    corpus = {"src": [" ".join(["a"] * n)]}
    vocab = Vocab.build(corpus["src"])
    (batch,) = corpus_to_table(corpus, vocab).to_batches()
    vocab_pa = pa.array(vocab.id_to_token, pa.string())
    if ok:
        (hit,) = match_batch_arrow(batch, cfg, vocab_pa).column("ngrp__hits").to_pylist()[0]
        assert (hit["issue"], len(hit["m"])) == ("A", n)
    else:
        with pytest.raises(ValueError, match=batch.column("doc_id")[0].as_py()):
            match_batch_arrow(batch, cfg, vocab_pa)


def test_parse_matches_oracle_per_line(spark, cfg, vocab, fx, corpus):
    """Every line of the Arrow/RE2 parse output agrees with the oracle's
    Go-regexp semantics (go_findall, re.ASCII): the line ordinal, the
    decoded text, the matching process and event names, each non-grouped
    issue's match substrings in order, each grouped issue's first-match
    capture groups, the severity levels with their match counts, and each
    summary field's hits (Q10: a grouped issue's field scans the line when
    it matched one of the issue's processes, a non-grouped issue's field
    scans its match substrings).

    Two cases: the unit fixture through the Spark parse stage, and an edge
    corpus through the kernel in 256-row batches. The edge corpus holds a
    NUL (the kernel's findall sentinel) in every 7th line; it runs under
    the unit config and under EDGE_CONFIG_YAML's empty-matchable patterns,
    so the Python finditer fallback is checked on both of its triggers."""
    import pyarrow as pa

    from radar_log_parser_spark.functions.parse import parse_stage
    from radar_log_parser_spark.functions.parse_arrow import match_batch_arrow
    from radar_log_parser_spark.sources.fixtures import corpus_to_table, generate_corpus

    rows = parse_stage(spark.read.parquet(fx.logs_path), cfg, vocab).collect()
    assert len(rows) == sum(len(lines) for lines in corpus.values())
    for r in rows:
        _check_parsed_line(r, corpus[r["source"]][r["line_no"]], cfg)

    edge = generate_corpus(n_rows=600, seed=11)
    for lines in edge.values():
        for j in range(0, len(lines), 7):
            k = len(lines[j]) // 2
            lines[j] = lines[j][:k] + "\x00" + lines[j][k:]
    edge_vocab = Vocab.build([ln for lines in edge.values() for ln in lines])
    vocab_pa = pa.array(edge_vocab.id_to_token, pa.string())
    table = corpus_to_table(edge, edge_vocab)
    for edge_cfg in (cfg, parse_config(yaml.safe_load(EDGE_CONFIG_YAML))):
        out = pa.Table.from_batches(
            [match_batch_arrow(b, edge_cfg, vocab_pa) for b in table.to_batches(256)]
        )
        assert out.num_rows == sum(len(lines) for lines in edge.values())
        for r in out.to_pylist():
            _check_parsed_line(r, edge[r["source"]][r["line_no"]], edge_cfg)
