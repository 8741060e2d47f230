"""Checkpointed stage writes: AQE sizes the doc_id-hashed and salted
shuffles, the hash keys keep their co-location guarantees, and only the
parse stage runs Python."""

from __future__ import annotations

import contextlib

from pyspark.sql import functions as F

from radar_log_parser_spark.plans.pipeline import SALT_MOD, Pipeline

SALTED = ("severity", "specific_issues")


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _run(spark, cfg, vocab, fx, work: str):
    """A checkpointed run; returns (pipeline, result, stage -> written plan)."""
    pipe = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True)
    plans: dict[str, str] = {}
    write = pipe.ckpt.write

    def recording_write(stage, df, *args, **kw):
        plans[stage] = df._jdf.queryExecution().executedPlan().toString()
        return write(stage, df, *args, **kw)

    pipe.ckpt.write = recording_write
    return pipe, pipe.run(), plans


def _files_per_key(spark, path: str, *keys) -> list[int]:
    """For each distinct key, the number of files holding its rows."""
    return [
        r["n"]
        for r in spark.read.parquet(path)
        .groupBy(*keys)
        .agg(F.countDistinct("_metadata.file_path").alias("n"))
        .collect()
    ]


def _assert_colocated(spark, pipe) -> None:
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(SALT_MOD))
    assert set(_files_per_key(spark, pipe.ckpt.path("parsed"), "doc_id")) == {1}
    for stage in SALTED:
        assert set(_files_per_key(spark, pipe.ckpt.path(stage), "source", salt)) == {1}, stage


def test_stage_writes_are_aqe_sized(spark, cfg, vocab, fx, tmp_path):
    pipe, res, plans = _run(spark, cfg, vocab, fx, str(tmp_path / "ckpt"))
    by_stage = {m.stage: m for m in res.metrics}
    for stage in ("parsed", "scoped"):
        assert 1 <= by_stage[stage].files < pipe.buckets, stage
    for m in res.metrics:
        assert sum(m.per_file_rows.values()) == m.rows, m.stage
    _assert_colocated(spark, pipe)
    # the dimension tables are driver-local: no Python RDD scan, so only
    # the parse stage's write runs Python workers
    assert "MapInArrow" in plans["parsed"]
    for stage in ("specific_issues", "scoped", "summary"):
        assert "LocalTableScan" in plans[stage], stage
        assert "ExistingRDD" not in plans[stage], stage
        assert "MapInArrow" not in plans[stage], stage


def test_stage_writes_colocate_when_split(spark, cfg, vocab, fx, tmp_path):
    """With partition coalescing off the hash partitions stay apart; every
    doc_id of `parsed` and every (source, salt) cell of the salted stages
    still lands in exactly one file."""
    with _conf(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"):
        pipe, res, _plans = _run(spark, cfg, vocab, fx, str(tmp_path / "ckpt"))
    assert {m.stage: m for m in res.metrics}["parsed"].files > 1
    _assert_colocated(spark, pipe)
