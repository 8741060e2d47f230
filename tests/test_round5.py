"""Round-5 additions (ADVICE r4 + VERDICT r4 directives):
- dotall-safe event wrapper ([^\\n]* context, 's' scoped inner)
- ALL consecutive leading flag groups hoisted
- (?i)+non-ASCII lint (RE2 Unicode folding vs re.ASCII divergence)
- 60-bit md5-LSH base hash (birthday-collision fix)
- SimHash xxhash64/md5 twin agreement
- single-file ingest gate
"""

from __future__ import annotations

import re

import pytest

from radar_log_parser_spark.config import (
    ConfigError,
    _anchor_event_pattern,
    parse_config,
)


# --- ADVICE r4 (medium): hoisted dotall must not span lines ------------------
def test_anchor_dotall_stays_on_line():
    """'(?s)boot.err' under the old '.*' wrapper matched the WHOLE remaining
    file; the [^\\n]* wrapper keeps the match within the lines the inner
    pattern itself spans, preserving line attribution."""
    with pytest.warns(UserWarning, match="auto-wrapping"):
        cfg = parse_config({"ImportantEvents": {"E": r"(?s)boot.err"}})
    wrapped = cfg.important_events["E"]
    assert wrapped == r"(?m)^[^\n]*(?s:boot.err)[^\n]*$"
    rgx = re.compile(wrapped)
    text = "line one\nx boot\nerr y\nboot!err tail\nlast"
    got = [m.group(0) for m in rgx.finditer(text)]
    # the match is the CONTAINING LINE(S) of each inner hit — the inner
    # dotall may still cross a boundary (upstream semantics kept), but the
    # wrapper no longer swallows 'line one' / 'last' / unrelated lines
    assert got == ["x boot\nerr y", "boot!err tail"]
    for g in got:
        assert "last" not in g and "line one" not in g


def test_anchor_plain_wrapper_single_line():
    with pytest.warns(UserWarning):
        p = _anchor_event_pattern("E", "boot")
    assert p == r"(?m)^[^\n]*(?:boot)[^\n]*$"
    assert [m.group(0) for m in re.compile(p).finditer("a\nxx boot yy\nb")] == [
        "xx boot yy"
    ]


# --- ADVICE r4 (low): consecutive leading flag groups ------------------------
def test_anchor_hoists_consecutive_flag_groups():
    """'(?i)(?m)^boot' is upstream-valid; hoisting only the first group left
    '(?m)' embedded → compile error on Python 3.11+."""
    with pytest.warns(UserWarning, match="auto-wrapping"):
        cfg = parse_config({"ImportantEvents": {"E": r"(?i)(?m)^boot"}})
    rgx = re.compile(cfg.important_events["E"])  # must compile
    assert rgx.search("x\nBOOT now\ny").group(0) == "BOOT now"
    assert rgx.search("a boot elsewhere") is None  # inner ^ still anchors


def test_anchor_consecutive_groups_already_anchored():
    """'(?m)(?i)^boot$' is full-line anchored once BOTH groups are read."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cfg = parse_config({"ImportantEvents": {"E": r"(?m)(?i)^boot$"}})
    assert cfg.important_events["E"] == r"(?m)(?i)^boot$"


# --- ADVICE r4 (low): (?i) non-ASCII folding divergence ----------------------
def test_lint_rejects_case_insensitive_non_ascii():
    """RE2 folds case per Unicode under (?i); this engine pins re.ASCII —
    the combination would silently diverge, so the lint rejects it."""
    with pytest.raises(ConfigError, match="case-insensitive"):
        parse_config({"SpecificProcess": {"P": "(?i)\u00e9rror"}})
    # scoped form too
    with pytest.raises(ConfigError, match="case-insensitive"):
        parse_config({"SpecificProcess": {"P": "(?i:\u00c9RROR)"}})


def test_lint_allows_ascii_case_insensitive_and_plain_non_ascii():
    parse_config({"SpecificProcess": {"P": "(?i)error"}})
    parse_config({"SpecificProcess": {"P": "caf\u00e9"}})  # no (?i): fine


# --- ADVICE r4 (low): md5-LSH base hash must be 60-bit -----------------------
def test_md5_hex15_parse_width(spark):
    """At 28 bits, ~16k distinct shingles guaranteed birthday collisions
    that biased EVERY permutation; the base is now 15 hex digits (60 bits)
    and the permutation family hashes both 30-bit halves."""
    from pyspark.sql import functions as F

    from radar_log_parser_spark.operators import dedup

    assert all(len(t) == 3 for t in dedup.MD5_LINEAR)  # Carter-Wegman triples
    df = dedup.md5_60(
        spark.createDataFrame([("abc",), ("xyz shingle",)], "s string"), F.col("s"), "h"
    )
    vals = [r["h"] for r in df.collect()]
    assert all(0 <= v < (1 << 60) for v in vals)
    # matches python md5 15-hex-digit value (cross-engine contract)
    import hashlib

    assert vals[0] == int(hashlib.md5(b"abc").hexdigest()[:15], 16)


def test_md5_perm_matches_duckdb():
    """Spark-side and DuckDB-side permutation arithmetic agree on raw
    values (beyond the full-query oracle, pin the scalar kernel)."""
    import duckdb

    from radar_log_parser_spark.operators import dedup

    h = int("f" * 15, 16)  # max 60-bit value: overflow-sensitive case
    a, b, c = dedup.MD5_LINEAR[0]
    py = (a * (h >> 30) + b * (h & dedup.MD5_LO_MASK) + c) % dedup.MD5_P
    duck = duckdb.sql(
        f"SELECT ({a} * ({h} >> 30) + {b} * ({h} & {dedup.MD5_LO_MASK}) + {c}) "
        f"% {dedup.MD5_P} AS v"
    ).fetchone()[0]
    assert py == duck


# --- VERDICT r4 #2: SimHash twins agree on locality --------------------------
def test_simhash_twins_locality(spark):
    """Production (xxhash64) and oracle (md5) SimHash families both place
    planted near-dups at low Hamming distance and random pairs far — the
    property the rows-only production path's correctness rests on."""
    from radar_log_parser_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    prod = {r["doc_id"]: r["simhash"] for r in dedup.q_dedup_simhash(spark, sf).collect()}
    orac = {r["doc_id"]: r["simhash"] for r in dedup.q_dedup_simhash_md5(spark, sf).collect()}
    assert set(prod) == set(orac)
    pairs = [
        (r["a_id"], r["b_id"])
        for r in dedup.q_dedup_ngram_jaccard(spark, sf).collect()
    ]
    assert pairs

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 63) - 1)).count("1")

    for fam in (prod, orac):
        planted = [ham(fam[a], fam[b]) for a, b in pairs]
        assert max(planted) <= 12
        import random

        rng = random.Random(5)
        ids = sorted(fam)
        rand = sorted(
            ham(fam[rng.choice(ids)], fam[rng.choice(ids)]) for _ in range(300)
        )
        assert rand[len(rand) // 2] >= 20


# --- ADVICE r4 (low): ingest is defined per single regular file --------------
def test_ingest_rejects_directory(spark, tmp_path):
    from radar_log_parser_spark.sources.ingest import ingest_text_logs

    d = tmp_path / "logs.txt"
    d.mkdir()
    (d / "part.txt").write_text("a b\n")
    with pytest.raises(ValueError, match="single regular file"):
        ingest_text_logs(spark, str(d), source="Ios")
