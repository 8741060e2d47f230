"""Raw-log ingestion (S1/S2/S3): .txt and .gz files round-trip through the
tokenized table byte-for-byte, the format gate rejects other extensions,
and an ingested log produces identical analysis results to a
fixture-generated table of the same lines."""

from __future__ import annotations

import gzip

import pytest

from radar_log_parser_spark.sources.ingest import ingest_text_logs


LINES = [
    "06-15 14:23:07.123 1234 5678 E CameraService: Connection timeout after 3000 ms code=17",
    "06-15 14:23:08.456 1234 5678 I WifiService: rssi changed to -55 dbm",
    "06-15 14:23:08.456 1234 5678 I WifiService: rssi changed to -55 dbm",
    "06-15 14:23:09.789 2345 6789 W AudioFlinger: underrun on stream2 after 512 frames",
]


def _roundtrip(spark, df, vocab):
    rows = sorted(df.collect(), key=lambda r: r["doc_id"])
    assert [vocab.decode(r["tokens"]) for r in rows] == LINES
    assert [r["n_tok"] for r in rows] == [len(ln.split(" ")) for ln in LINES]
    assert all(r["source"] == "my-android-bucket" for r in rows)
    assert [int(r["doc_id"][-6:]) for r in rows] == [0, 1, 2, 3]


def test_txt_ingest(spark, tmp_path):
    p = tmp_path / "log.txt"
    p.write_text("\n".join(LINES))
    df, vocab = ingest_text_logs(spark, str(p), source="my-android-bucket")
    _roundtrip(spark, df, vocab)


def test_gz_ingest(spark, tmp_path):
    p = tmp_path / "log.gz"
    with gzip.open(p, "wt") as f:
        f.write("\n".join(LINES))
    df, vocab = ingest_text_logs(spark, str(p), source="my-android-bucket")
    _roundtrip(spark, df, vocab)


def test_format_gate(spark, tmp_path):
    p = tmp_path / "log.csv"
    p.write_text("x")
    with pytest.raises(ValueError, match="Invalid Format"):
        ingest_text_logs(spark, str(p), source="s")


def test_ingested_log_analyzes(spark, cfg, tmp_path):
    """End-to-end: raw text → tokenized table → parse stage finds the
    expected process/issue matches."""
    from radar_log_parser_spark.functions.parse import parse_stage

    p = tmp_path / "log.txt"
    p.write_text("\n".join(LINES))
    df, vocab = ingest_text_logs(spark, str(p), source="my-android-bucket")
    parsed = parse_stage(df, cfg, vocab).collect()
    by_line = {r["line_no"]: r for r in parsed}
    assert by_line[0]["procs"] == ["CameraService"]
    assert {h["issue"]: h["m"] for h in by_line[0]["ngrp__hits"]} == {
        "ConnTimeout": [LINES[0]]
    }
    assert {h["issue"]: h["m"] for h in by_line[3]["grp__hits"]} == {
        "BufferUnderrun": ["stream2", "512"]
    }
    assert by_line[1]["sev_levels"] == ["Info"]
