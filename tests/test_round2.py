"""Round-2 regression tests: high-ordinal line_no parity, F10 typed
capture-group columns, vocab-content checkpoint invalidation, the Iceberg
write path gate, and the compiled-config cache under id reuse."""

from __future__ import annotations

import pytest
import yaml
from pyspark.sql import functions as F

from radar_log_parser_spark.config import parse_config
from radar_log_parser_spark.sources.fixtures import FIXTURE_CONFIG_YAML


def _has_iceberg(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_line_no_beyond_1m_parity(spark, cfg, vocab):
    """Ordinals past 10^6 overflow the {line:06d} format to 7 digits; the
    parse must read the FULL trailing number (it used to keep only the last
    6 digits — silent corruption of every order-sensitive aggregate exactly
    at target scale)."""
    from radar_log_parser_spark.functions.parse import parse_stage

    line = "06-15 14:23:07.123 1234 5678 E CameraService: Connection timeout after 3000 ms code=17"
    toks = vocab.encode(line)
    ordinals = [0, 999_999, 1_000_000, 12_345_678]
    rows = [
        (f"my-android-bucket-{i:06d}", toks, len(toks), "my-android-bucket")
        for i in ordinals
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    got = sorted(r["line_no"] for r in parse_stage(df, cfg, vocab).collect())
    assert got == sorted(ordinals)


# the fixture config plus a copy of BufferUnderrun whose group names differ
# from BufferUnderrun's only in case
_BUFFER_UNDERRUN = FIXTURE_CONFIG_YAML[
    FIXTURE_CONFIG_YAML.index("  BufferUnderrun:\n"):FIXTURE_CONFIG_YAML.index("  MultiProcIssue:\n")
]
CASE_COLLIDING_YAML = FIXTURE_CONFIG_YAML.replace(
    _BUFFER_UNDERRUN,
    _BUFFER_UNDERRUN
    + _BUFFER_UNDERRUN.replace("BufferUnderrun:", "BufferUnderrunCopy:")
    .replace("<Stream>", "<stream>")
    .replace("<Frames>", "<frames>"),
)


def test_grouped_sink_typed_group_columns(spark, vocab, fx, pipeline_result, cfg, tmp_path):
    """F10: every named capture group of a grouped issue appears as a typed
    g_<Name> column in the grouped sink (reference renders named groups as
    report columns, analyzeLog.go:201-203 / details.html:101-108). Spark
    resolves column names without regard to case, so names are compared
    that way: two issues whose group names differ only in case share a
    column, which holds each issue's own values.

    Two cases: the unit run, and a run under CASE_COLLIDING_YAML."""
    from radar_log_parser_spark.plans.pipeline import Pipeline

    colliding = parse_config(yaml.safe_load(CASE_COLLIDING_YAML))
    colliding_run = Pipeline(
        spark, colliding, vocab, fx.logs_path, work_dir=str(tmp_path), checkpoint=True
    ).run()
    for case_cfg, result in ((cfg, pipeline_result), (colliding, colliding_run)):
        sink = result.sinks["grouped_routed"]
        columns = {c.lower(): c for c in sink.columns}
        expected = set()
        for spec in case_cfg.issues.values():
            if spec.grouped:
                expected |= {f"g_{n}".lower() for n in spec.group_names() if n}
        assert expected, "fixture config should have named groups"
        assert expected <= set(columns)

        # value parity: group 1 == group_key, groups 2.. == details positions
        for iname, spec in case_cfg.issues.items():
            if not spec.grouped:
                continue
            names = spec.group_names()
            rows = sink.filter(F.col("issue") == iname).limit(20).collect()
            assert rows, iname
            for r in rows:
                seq = [r["group_key"], *r["details"]]
                for gi in range(1, len(names)):
                    if names[gi]:
                        assert r[columns[f"g_{names[gi]}".lower()]] == seq[gi - 1]


def test_vocab_content_change_invalidates_checkpoint(spark, cfg, vocab, fx, tmp_path):
    """A vocab of identical SIZE but different content must not resume:
    decoded text changes everywhere (the fingerprint used to hash only
    len(vocab))."""
    from radar_log_parser_spark.codec import Vocab
    from radar_log_parser_spark.plans.pipeline import Pipeline

    work = str(tmp_path / "ckpt_vocab")
    Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True).run()

    toks = list(vocab.id_to_token)
    toks[0], toks[1] = toks[1], toks[0]  # same size, different content
    vocab2 = Vocab({t: i for i, t in enumerate(toks)}, tuple(toks))
    r2 = Pipeline(
        spark, cfg, vocab2, fx.logs_path, work_dir=work, checkpoint=True
    ).run()
    assert all(not m.resumed for m in r2.metrics)


def test_iceberg_gate_fails_fast_without_jar(spark, tmp_path):
    """fmt='iceberg' without the runtime jar must raise at construction —
    never silently write parquet."""
    from radar_log_parser_spark.plans.pipeline import Checkpointer

    if _has_iceberg(spark):
        pytest.skip("iceberg jar present — gate test not applicable")
    with pytest.raises(RuntimeError, match="iceberg"):
        Checkpointer(spark, str(tmp_path / "ice"), fmt="iceberg")


def test_iceberg_write_path(spark, cfg, vocab, fx, tmp_path):
    """With the runtime jar on the classpath the full pipeline checkpoints
    through Iceberg tables (bucket(N, doc_id) partitioning) and resumes."""
    if not _has_iceberg(spark):
        pytest.skip("iceberg-spark runtime jar not on classpath in this sandbox")
    from radar_log_parser_spark.plans.pipeline import Pipeline

    work = str(tmp_path / "ice_ckpt")
    p1 = Pipeline(
        spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True,
        fmt="iceberg",
    )
    r1 = p1.run()
    assert all(not m.resumed for m in r1.metrics)
    assert spark.read.table("rlps_ckpt.stages.parsed").count() > 0
    r2 = Pipeline(
        spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True,
        fmt="iceberg",
    ).run()
    assert any(m.resumed for m in r2.metrics)


def test_salted_repartition_balances_hot_source(spark):
    """One source holding 90% of rows must not serialize a stage write:
    after salted repartition the max/mean rows per non-empty partition
    stays < 4× (north rule: salted repartition for source-skewed shards).
    Partition coalescing is off, so AQE cannot merge the salted partitions
    back into one."""
    from radar_log_parser_spark.plans.pipeline import salted_repartition
    from test_stage_writes import _conf

    n = 40_000
    df = spark.range(n).select(
        F.concat(F.lit("src-"), F.col("id").cast("string")).alias("doc_id"),
        F.when(F.col("id") % 10 < 9, "hot").otherwise(F.concat(F.lit("cold"), F.col("id") % 7)).alias("source"),
    )
    plain = df.repartition(16, F.col("source"))

    def partition_rows(d):
        return [
            r["cnt"]
            for r in d.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").agg(F.count("*").alias("cnt")).collect()
        ]

    plain_rows = partition_rows(plain)
    assert max(plain_rows) > 0.8 * n  # the skew exists without salting
    with _conf(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"):
        salted_rows = partition_rows(salted_repartition(df, "source"))
    assert len(salted_rows) > 1
    mean = sum(salted_rows) / len(salted_rows)
    assert max(salted_rows) < 4 * mean
    assert sum(salted_rows) == n  # no rows lost


def test_compiled_cache_keyed_by_identity(cfg):
    """The per-worker compiled-config cache must not serve a stale entry
    when a different config lands on a reused id() address."""
    import dataclasses

    from radar_log_parser_spark.functions import parse_arrow

    cc1 = parse_arrow.compiled(cfg)
    cfg2 = dataclasses.replace(cfg, important_events={"X": "xyzzy"})
    # force the same-address scenario artificially: poison the cache slot
    parse_arrow._COMPILED[id(cfg2)] = (cfg, cc1)
    cc2 = parse_arrow.compiled(cfg2)
    assert cc2 is not cc1
    assert dict(cc2.events) == {"X": "xyzzy"}
