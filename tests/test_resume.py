"""Resumability: kill after stage-k checkpoint, restart, identical final
sinks and no recomputation of completed stages (north rule)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from radar_log_parser_spark.plans import pipeline
from radar_log_parser_spark.plans.pipeline import Checkpointer, Pipeline


def _summary_rows(res):
    return sorted(
        (r["source"], r["issue"], r["number"], r["timestamp"], r["log_level"])
        for r in res.sinks["summary"].collect()
    )


def test_checkpoint_resume(spark, cfg, vocab, fx, tmp_path):
    work = str(tmp_path / "ckpt")

    # First run: all stages execute and checkpoint.
    p1 = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True)
    r1 = p1.run()
    s1 = _summary_rows(r1)
    assert all(not m.resumed for m in r1.metrics)
    executed = {m.stage for m in r1.metrics}
    assert {"parsed", "specific_issues", "scoped", "other_routed",
            "grouped_routed", "events", "severity", "grouped_issues",
            "summary"} <= executed
    # each stage's lineage names the stages it reads
    parents = {
        "parsed": ["input"],
        **dict.fromkeys(("events", "severity", "specific_issues", "scoped"), ["parsed"]),
        **dict.fromkeys(("other_routed", "grouped_routed"), ["scoped"]),
        "summary": ["scoped", "other_routed", "grouped_routed"],
        "grouped_issues": ["grouped_routed"],
    }
    for stage, want in parents.items():
        with open(os.path.join(work, stage, "_lineage.json")) as f:
            assert json.load(f)["parents"] == want, stage

    # Simulate a crash AFTER "scoped": delete every later checkpoint.
    for stage in ("other_routed", "grouped_routed", "events", "severity",
                  "grouped_issues", "summary"):
        suc = os.path.join(work, stage, "_SUCCESS")
        if os.path.exists(suc):
            os.remove(suc)

    # Restart: early stages resume from checkpoint, later stages recompute.
    p2 = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True)
    r2 = p2.run()
    by_stage = {m.stage: m for m in r2.metrics}
    assert by_stage["parsed"].resumed
    assert by_stage["specific_issues"].resumed
    assert by_stage["scoped"].resumed
    assert not by_stage["other_routed"].resumed
    assert _summary_rows(r2) == s1

    # Third run: everything resumes; byte-equal sinks.
    p3 = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True)
    r3 = p3.run()
    assert all(m.resumed for m in r3.metrics)
    assert _summary_rows(r3) == s1


def test_lineage_manifests(spark, cfg, vocab, fx, tmp_path):
    """Every checkpoint carries per-partition lineage + metrics."""
    work = str(tmp_path / "ckpt2")
    Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True).run()
    lp = os.path.join(work, "parsed", "_lineage.json")
    with open(lp) as f:
        manifest = json.load(f)
    assert manifest["stage"] == "parsed"
    assert manifest["rows"] > 0
    assert manifest["files"] >= 1
    assert sum(manifest["per_file_rows"].values()) == manifest["rows"]
    assert manifest["parents"] == ["input"]
    assert manifest["fingerprint"]


def test_config_change_invalidates_checkpoint(spark, cfg, vocab, fx, tmp_path):
    """A different config must NOT resume from the old checkpoints."""
    import dataclasses

    work = str(tmp_path / "ckpt3")
    Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True).run()
    cfg2 = dataclasses.replace(cfg, priority={**cfg.priority, "ConnTimeout": 9})
    r2 = Pipeline(spark, cfg2, vocab, fx.logs_path, work_dir=work, checkpoint=True).run()
    assert all(not m.resumed for m in r2.metrics)


def _sink_rows(res):
    return {
        name: sorted(repr(tuple(r)) for r in res.sinks[name].collect())
        for name in Pipeline.ROW_SINKS + Pipeline.AGG_SINKS
    }


def test_input_change_invalidates_checkpoint(spark, cfg, vocab, fx, tmp_path):
    """A new input file at the same path must NOT resume from the old
    checkpoints: every stage recomputes and the sinks equal a fresh run's.
    Every `_lineage.json` records the input fingerprint."""
    import pyarrow.parquet as pq

    logs = str(tmp_path / "logs.parquet")
    table = pq.read_table(fx.logs_path)
    pq.write_table(table, logs)
    work = str(tmp_path / "ckpt4")
    p1 = Pipeline(spark, cfg, vocab, logs, work_dir=work, checkpoint=True)
    p1.run()

    pq.write_table(table.slice(0, table.num_rows // 2), logs)
    p2 = Pipeline(spark, cfg, vocab, logs, work_dir=work, checkpoint=True)
    r2 = p2.run()
    assert not any(m.resumed for m in r2.metrics), [m.stage for m in r2.metrics if m.resumed]
    assert p2.input_fp != p1.input_fp
    fresh = Pipeline(spark, cfg, vocab, logs, work_dir=str(tmp_path / "fresh"), checkpoint=True)
    assert _sink_rows(r2) == _sink_rows(fresh.run())

    for m in r2.metrics:
        with open(os.path.join(work, m.stage, "_lineage.json")) as f:
            assert json.load(f)["input_fingerprint"] == p2.input_fp, m.stage


def test_code_change_invalidates_checkpoint(spark, cfg, vocab, fx, tmp_path, monkeypatch):
    """Checkpoints written by other code must NOT resume: every stage
    recomputes and the sinks equal a fresh run's. Every `_lineage.json`
    records the code fingerprint."""
    work = str(tmp_path / "ckpt_code")
    Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True).run()

    monkeypatch.setattr(pipeline, "code_fingerprint", lambda: "edited-package")
    r2 = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True).run()
    assert not any(m.resumed for m in r2.metrics), [m.stage for m in r2.metrics if m.resumed]
    fresh = Pipeline(
        spark, cfg, vocab, fx.logs_path, work_dir=str(tmp_path / "fresh_code"), checkpoint=True
    )
    assert _sink_rows(r2) == _sink_rows(fresh.run())
    for m in r2.metrics:
        with open(os.path.join(work, m.stage, "_lineage.json")) as f:
            assert json.load(f)["code_fingerprint"] == "edited-package", m.stage


def test_code_fingerprint_is_the_same_from_a_zip(tmp_path):
    """`spark-submit --py-files` imports the package from a zip; its code
    fingerprint equals the one of the source tree (no Spark session)."""
    import radar_log_parser_spark

    pkg = os.path.dirname(radar_log_parser_spark.__file__)
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        for root, _dirs, names in os.walk(pkg):
            for name in names:
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    probe = (
        "from radar_log_parser_spark.plans import pipeline as p;"
        "print(p.__file__); print(p.code_fingerprint())"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        env={**os.environ, "PYTHONPATH": str(archive)},
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert out[0].startswith(str(archive)), out[0]
    assert out[1] == pipeline.code_fingerprint()


def test_stage_reads_run_no_job(spark, cfg, vocab, fx, tmp_path):
    """A stage read takes its schema from `_lineage.json`: no Spark job,
    and the schema Spark would have inferred from the files. The sink
    stages are read from the sinks dir."""
    sinks = str(tmp_path / "sinks")
    pipe = Pipeline(
        spark, cfg, vocab, fx.logs_path, work_dir=str(tmp_path / "ckpt_reads"),
        checkpoint=True, sinks_dir=sinks,
    )
    res = pipe.run()
    stages = [m.stage for m in res.metrics]
    assert sorted(os.listdir(sinks)) == sorted(Pipeline.ROW_SINKS + Pipeline.AGG_SINKS)
    sc = spark.sparkContext
    sc.setJobGroup("stage-reads", "Checkpointer.read of every stage")
    try:
        schemas = {s: pipe.ckpt.read(s).schema for s in stages}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("stage-reads")) == []
    for s in stages:
        assert schemas[s] == spark.read.parquet(pipe.ckpt.path(s)).schema, s


def test_iceberg_refuses_sinks_dir(spark, tmp_path):
    """Iceberg's sinks are the catalog's tables: a sinks dir is refused
    before the runtime-jar check."""
    with pytest.raises(ValueError, match="sinks_dir"):
        Checkpointer(spark, str(tmp_path / "ice"), fmt="iceberg", sinks_dir=str(tmp_path / "s"))


def test_checkpointer_write_signature_is_stable():
    """perfbench's traced run wraps `Checkpointer.write` as
    `(stage, df, fingerprint, parents, buckets=32)`; the input fingerprint
    is a `Checkpointer` attribute, not an argument."""
    import inspect

    params = list(inspect.signature(Checkpointer.write).parameters)
    assert params == ["self", "stage", "df", "fingerprint", "parents", "buckets"]
