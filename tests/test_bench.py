"""bench.py's end-to-end leg (`--pipeline-only`) as `bench.py` runs it: a
subprocess whose last stdout line is the leg's JSON."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pipeline_only_leg_runs_fresh():
    """The stdout keys are the ones `run_bench` merges into its line, and
    every timed run collected the keep-set (`kept`), which only a run that
    computed its stages does: no timed run resumed from an earlier one."""
    out = subprocess.run(
        [sys.executable, "bench.py", "--pipeline-only", "--rows", "2000",
         "--repeats", "1", "--cpus", "2"],
        env={**os.environ, "SPARK_DRIVER_MEM": "2g"},
        cwd=REPO,
        stdout=subprocess.PIPE,
        text=True,
        check=True,
    ).stdout
    leg = json.loads(out.strip().splitlines()[-1])
    assert sorted(leg) == [
        "cpus", "pipeline_phases", "pipeline_rows", "pipeline_rows_per_sec",
        "pipeline_runs_sec", "pipeline_seconds", "pipeline_spread_sec",
    ]
    assert leg["pipeline_rows"] == 2000
    assert len(leg["pipeline_phases"]) == 1
    assert all("kept" in p for p in leg["pipeline_phases"]), leg["pipeline_phases"]
