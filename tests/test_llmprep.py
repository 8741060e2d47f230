"""Semantic tests for the llmprep operators (sequence packing,
contamination, stratified sampling, PII redaction, repetition scoring) —
planted-fixture cases plus invariants on the driver testdata. The
cross-engine value parity is the driver's DuckDB gate (tools/check_entry)."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory, spark):
    """A tiny documents.parquet with planted PII / repetition /
    contamination structure. doc 0 is in the eval slice (0 % 97 == 0)."""
    d = tmp_path_factory.mktemp("llmprep")
    rows = [
        # eval doc (doc_id % 97 == 0): provides the shingle "alpha beta gamma"
        (0, "alpha beta gamma delta", "en", "src0", 0),
        # shares "alpha beta gamma" AND "beta gamma delta" with doc 0
        (5, "alpha beta gamma delta xx", "en", "src0", 0),
        # no shared shingle with doc 0
        (6, "one two three four five", "de", "src1", 0),
        # PII: one email, one IP, one dictionary name
        (7, "mail bob@example.com ip 10.0.0.1 customer here", "en", "src0", 0),
        # repetition: 6 words -> 4 shingles, 2 distinct
        (8, "a b a b a b", "fr", "src2", 0),
    ]
    df = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s, _ in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_pack_sequences_invariants(spark):
    from radar_log_parser_spark.operators import llmprep
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    total_toks = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0]["t"]

    seqs = llmprep.q_pack_sequences(spark, SF_DIR).collect()
    # partition: every doc in exactly one sequence, all tokens accounted
    assert sum(r["n_docs"] for r in seqs) == n_docs
    assert sum(r["seq_tokens"] for r in seqs) == total_toks
    # seq ids are the contiguous prefix 0..max (contiguous packing by
    # construction: every budget window the prefix sum crosses is hit)
    ids = sorted(r["seq_id"] for r in seqs)
    assert ids == list(range(len(ids)))
    # doc ranges of consecutive sequences are disjoint and ordered
    by_id = sorted(seqs, key=lambda r: r["seq_id"])
    for a, b in zip(by_id, by_id[1:]):
        assert a["last_doc"] < b["first_doc"]
    # a sequence closes only once its docs reach the budget: every
    # non-final sequence spans >= 1 doc and the packing never exceeds
    # budget + (max doc length - 1) tokens before closing
    max_doc = docs.select(
        F.max(F.size(F.split("text", " "))).alias("m")
    ).collect()[0]["m"]
    for r in by_id[:-1]:
        assert r["seq_tokens"] >= llmprep.PACK_BUDGET - max_doc + 1


def test_prefix_sum_crosses_buckets(spark, tmp_path):
    """Every testdata doc_id sits in bucket 0 (doc_id div 2^20), so only a
    planted table runs `exclusive_prefix_sum`'s cross-bucket offset join:
    doc_ids over buckets 0, 1, 3 and 5, lines with and without `dup`.
    context_segments and pack_sequences must equal their DuckDB oracle
    rows on it."""
    import random

    import duckdb

    from radar_log_parser_spark.operators import llmprep, logquery

    rng = random.Random(11)
    ids = {0, 3, (1 << 20) - 1, 1 << 20, (1 << 20) + 9, 3 << 20, (5 << 20) + 2}
    ids |= set(rng.sample(range(6 << 20), 40))
    rows = []
    for i in sorted(ids):
        words = [rng.choice("abc") for _ in range(rng.randint(1, 120))]
        if rng.random() < 0.5:
            words[rng.randrange(len(words))] = "dup"
        rows.append((i, " ".join(words)))
    assert any("dup" in t.split() for _i, t in rows)
    assert any("dup" not in t.split() for _i, t in rows)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    for q, sql in (
        (logquery.q_context_segments, logquery.Q_CONTEXT_SEGMENTS_SQL),
        (llmprep.q_pack_sequences, llmprep.Q_PACK_SEQUENCES_SQL),
    ):
        sdf = q(spark, str(tmp_path))
        rel = duck.sql(sql)
        cols = sorted(sdf.columns)
        assert cols == sorted(rel.columns)
        got = sorted(tuple(r[c] for c in cols) for r in sdf.collect())
        want = sorted(
            tuple(dict(zip(rel.columns, r))[c] for c in cols) for r in rel.fetchall()
        )
        assert got == want and len(got) > 1


def test_contamination_planted(spark, planted_dir):
    from radar_log_parser_spark.operators import llmprep

    rows = {
        r["doc_id"]: r["n_shared"]
        for r in llmprep.q_contamination_check(spark, planted_dir).collect()
    }
    # doc 5 shares exactly the 2 shingles of eval doc 0; doc 6 is clean;
    # docs 7/8 share nothing with the eval vocabulary
    assert rows == {5: 2}


def test_stratified_sample_deterministic_and_bounded(spark):
    from radar_log_parser_spark.operators import llmprep

    a = llmprep.q_stratified_sample(spark, SF_DIR).collect()
    b = llmprep.q_stratified_sample(spark, SF_DIR).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    for r in a:
        rate = llmprep.STRAT_RATES.get(r["lang"], llmprep.STRAT_DEFAULT_RATE)
        assert 0 <= r["bucket"] < rate


def test_pii_redact_planted(spark, planted_dir):
    from radar_log_parser_spark.operators import llmprep

    rows = {
        r["doc_id"]: r for r in llmprep.q_pii_redact(spark, planted_dir).collect()
    }
    assert rows[7]["n_pii"] == 3
    assert rows[7]["redacted"] == "mail <EMAIL> ip <IP> <NAME> here"
    # non-PII docs pass through byte-identical
    assert rows[6]["n_pii"] == 0
    assert rows[6]["redacted"] == "one two three four five"


def test_repetition_planted(spark, planted_dir):
    from radar_log_parser_spark.operators import llmprep

    rows = {
        r["doc_id"]: r
        for r in llmprep.q_repetition_score(spark, planted_dir).collect()
    }
    r8 = rows[8]  # "a b a b a b": 4 shingles, 2 distinct
    assert r8["n_sh_total"] == 4
    assert r8["n_sh_distinct"] == 2
    assert r8["rep_bp"] == 5000
    assert r8["is_repetitive"]
    r6 = rows[6]  # all-distinct shingles
    assert r6["rep_bp"] == 0 and not r6["is_repetitive"]
