"""Round-4 additions: important-event flag hoisting (ADVICE r3 medium),
ASCII regex-class parity across engines (ADVICE r3), and the
DataFrame-native ingest ordinal (no .rdd left in sources/)."""

from __future__ import annotations

import os
import re
import warnings

import pytest

from radar_log_parser_spark.config import parse_config


# --- ADVICE r3 (medium): leading inline flags must be hoisted, not embedded
def test_anchor_hoists_leading_flags():
    """'(?i)boot failure' is upstream-valid (Go allows global flags
    anywhere); wrapping must hoist the flag group to the front — embedding
    it mid-pattern is a compile error on Python 3.11+."""
    with pytest.warns(UserWarning, match="auto-wrapping"):
        cfg = parse_config({"ImportantEvents": {"E": r"(?i)boot failure"}})
    wrapped = cfg.important_events["E"]
    assert wrapped == r"(?mi)^[^\n]*(?:boot failure)[^\n]*$"
    rgx = re.compile(wrapped)  # must compile (validate() also checks)
    assert rgx.search("a line with BOOT FAILURE inside").group(0) == (
        "a line with BOOT FAILURE inside"
    )


def test_anchor_half_anchored_pattern_wraps_cleanly():
    """'(?m)^boot' (half-anchored) previously produced an embedded '(?m)'
    mid-pattern — a compile error. The hoisted form compiles and still
    matches only lines starting with 'boot'."""
    with pytest.warns(UserWarning, match="auto-wrapping"):
        cfg = parse_config({"ImportantEvents": {"E": r"(?m)^boot"}})
    rgx = re.compile(cfg.important_events["E"])
    assert rgx.search("boot ok\nx") .group(0) == "boot ok"
    assert rgx.search("a boot elsewhere") is None


def test_anchor_escaped_dollar_is_not_an_anchor():
    """'(?m)^pay \\$5' ends with an ESCAPED dollar — it is not full-line
    anchored and must be wrapped (the r3 endswith('$') check treated it as
    anchored)."""
    with pytest.warns(UserWarning, match="auto-wrapping"):
        cfg = parse_config({"ImportantEvents": {"E": r"(?m)^pay \$5"}})
    rgx = re.compile(cfg.important_events["E"])
    assert rgx.search("pay $5 now\n").group(0) == "pay $5 now"


def test_anchor_full_line_passthrough_keeps_flags():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cfg = parse_config({"ImportantEvents": {"E": r"(?im)^boot.*$"}})
    assert cfg.important_events["E"] == r"(?im)^boot.*$"


# --- ADVICE r3: \d/\w/\b are ASCII-only in Go/RE2/Java/DuckDB; the Python
# paths must agree (re.ASCII), or non-ASCII content silently diverges
NON_ASCII_LINE = "proc died pid=١٢٣"  # Arabic-Indic digits: \d in Unicode, not in RE2


def test_parse_ascii_class_parity(spark):
    """A '\\d+'-style pattern must NOT match Arabic-Indic digits in the
    parse — Go regexp (the reference), RE2 kernels, Spark's Java regex and
    DuckDB all treat \\d as ASCII-only; Python's Unicode default was the
    odd one out (ADVICE r3)."""
    from radar_log_parser_spark.codec import Vocab
    from radar_log_parser_spark.functions.parse import parse_stage

    lines = [NON_ASCII_LINE, "proc died pid=123", "idle line", "idle line 2"]
    vocab = Vocab.build(lines)
    rows = [
        (f"Ios-0000-{i:06d}", vocab.encode(ln), len(vocab.encode(ln)), "Ios")
        for i, ln in enumerate(lines)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    cfg = parse_config(
        {
            "SpecificProcess": {"P": r"(?m)^.*proc died.*$"},
            "Issues": {
                "Death": {
                    "specific_process": {"P": r"(?m)^.*proc died.*$"},
                    "regex": r"pid=\d+",
                    "detailing_mode": "separate",
                }
            },
        }
    )
    parsed = parse_stage(df, cfg, vocab)
    hits = {
        r["doc_id"]: {h["issue"]: h["m"] for h in r["ngrp__hits"]}
        for r in parsed.select("doc_id", "ngrp__hits").collect()
    }
    assert hits["Ios-0000-000001"] == {"Death": ["pid=123"]}
    assert hits["Ios-0000-000000"] == {}  # Unicode digits: no match (Go parity)


def test_oracle_ascii_parity():
    from tests.oracle import go_findall

    assert go_findall(r"pid=\d+", NON_ASCII_LINE) == []
    assert go_findall(r"pid=\d+", "x pid=77 y") == ["pid=77"]


# --- embedding LSH scale path: precision 1 by construction; measure recall
@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_embedding_lsh_recall(spark, sf):
    """Random-hyperplane LSH pairs must be a SUBSET of the exact cosine
    pairs (every emitted pair is exact-verified), with recall gated AT THE
    SCALE IT IS MEASURED (VERDICT r4 #4) against the documented floor:
    expected recall for a pair at the cos=0.45 threshold is ~0.79 with
    GAUSSIAN planes (r5 — the r4 ±1 planes violated the derivation's
    spherical-symmetry assumption and measured 0.57); the gate allows one
    binomial sd below the floor because both fixtures have ≤ 14 qualifying
    pairs, all barely above the threshold. Measured with the fixed seed:
    0.857 at both scales. The DuckDB oracle runs the identical
    deterministic planes, so the driver check is a full value match."""
    from radar_log_parser_spark.operators import dedup

    exact = {
        (r["a_id"], r["b_id"]) for r in dedup.q_dedup_embedding_cosine(spark, sf).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"]) for r in dedup.q_dedup_embedding_lsh(spark, sf).collect()
    }
    assert lsh <= exact  # precision 1: only exact-verified pairs
    assert exact  # fixture plants near-dup pairs
    recall = len(lsh) / len(exact)
    floor = 0.79
    sd = (floor * (1 - floor) / len(exact)) ** 0.5
    assert recall >= floor - sd, (
        f"recall {recall:.3f} < floor-1sd {floor - sd:.3f} "
        f"over {len(exact)} exact pairs"
    )


# --- directive r3-#5: no per-row Python left anywhere in sources/
def test_no_rdd_in_sources():
    src_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "radar_log_parser_spark",
        "sources",
    )
    for name in os.listdir(src_dir):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(src_dir, name)) as f:
            body = f.read()
        assert ".rdd" not in body, f"{name} still uses the RDD API"


def test_ingest_ordinal_matches_file_order(spark, tmp_path):
    """The DataFrame-native ordinal must equal the line's position in the
    file (the reference's strings.Split index) even when the text source
    splits the file across several partitions."""
    from radar_log_parser_spark.sources.ingest import ingest_text_logs

    lines = [f"line {i} payload payload" for i in range(500)]
    p = tmp_path / "log.txt"
    p.write_text("\n".join(lines) + "\n")
    df, vocab = ingest_text_logs(spark, str(p), source="Ios")
    got = {
        r["doc_id"]: vocab.decode(r["tokens"]) for r in df.collect()
    }
    assert len(got) == 500
    for i, ln in enumerate(lines):
        assert got[f"Ios-0000-{i:06d}"] == ln
