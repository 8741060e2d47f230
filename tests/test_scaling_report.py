"""tools/scaling_report.py is the one writer of BENCH/BASELINE.md: run on
the committed round-5 campaign rounds, it reproduces the committed gate
line. No Spark."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROUNDS = "BENCH/scaling_rounds_r5cde.json"


def test_scaling_report_regenerates_the_gate(tmp_path):
    shutil.copytree(os.path.join(REPO_DIR, "tools"), tmp_path / "tools")
    (tmp_path / "BENCH").mkdir()
    shutil.copy(os.path.join(REPO_DIR, ROUNDS), tmp_path / ROUNDS)
    subprocess.run(
        [sys.executable, "tools/scaling_report.py", "report.json", ROUNDS],
        cwd=tmp_path, check=True, capture_output=True,
    )
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    gate = [ln for ln in md.splitlines() if ln.startswith("**Scaling gate")]
    assert len(gate) == 1
    assert "median of best 3 = 0.815**" in gate[0]
    assert "(gate ≥ 0.8 → PASS)" in gate[0]
    with open(os.path.join(REPO_DIR, "BENCH", "BASELINE.md")) as f:
        assert gate[0] in f.read().splitlines()
