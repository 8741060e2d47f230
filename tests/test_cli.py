"""The cli as `spark-submit` runs it: a fresh run writes all eight sinks
under --sinks-dir, the seven sink stages in place with their lineage, and a
rerun on the same dirs resumes every stage."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench.gate import check_sinks
from radar_log_parser_spark.plans.pipeline import Pipeline
from tests.oracle import analyse_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(fx, work: str, sinks: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-m", "radar_log_parser_spark.cli",
         "--config", fx.config_path, "--vocab", fx.vocab_path, "--input", fx.logs_path,
         "--work-dir", work, "--sinks-dir", sinks, "--master", "local[2]"],
        env={**os.environ, "SPARK_DRIVER_MEM": "2g", "PYTHONPATH": REPO},
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_cli_writes_sinks_in_place_and_resumes(fx, cfg, corpus, tmp_path):
    work, sinks = str(tmp_path / "work"), str(tmp_path / "sinks")
    first = _cli(fx, work, sinks)
    assert not any(s["resumed"] for s in first["stages"])
    assert check_sinks(sinks, analyse_corpus(corpus, cfg)) == []
    for sink in Pipeline.ROW_SINKS + Pipeline.AGG_SINKS:
        assert os.path.exists(os.path.join(sinks, sink, "_lineage.json")), sink
    assert sorted(os.listdir(work)) == ["parsed", "scoped"]

    second = _cli(fx, work, sinks)
    assert [s["stage"] for s in second["stages"]] == [s["stage"] for s in first["stages"]]
    assert all(s["resumed"] for s in second["stages"])
    assert check_sinks(sinks, analyse_corpus(corpus, cfg)) == []
