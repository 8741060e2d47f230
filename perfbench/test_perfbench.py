"""Self-tests of the benchmark harness; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gate, inputs
from perfbench.run import E2E_METRICS, ROOT, declared_metrics, result_metrics
from perfbench.workloads import per_layer_names, tree_cpu_s


@pytest.fixture(scope="module")
def reference():
    from radar_log_parser_spark.config import parse_config
    from radar_log_parser_spark.sources.fixtures import FIXTURE_CONFIG_YAML, generate_corpus
    from tests.oracle import analyse_corpus
    import yaml

    cfg = parse_config(yaml.safe_load(FIXTURE_CONFIG_YAML))
    ref = analyse_corpus(generate_corpus(n_rows=400, seed=11), cfg)
    return json.loads(json.dumps(ref))


def _write(path: str, rows: list[dict], schema: pa.Schema) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema), os.path.join(path, "part-00000.parquet"))


def _sinks_from(ref: dict, out: str) -> None:
    """Sink parquet holding exactly the reference's rows."""
    exp = gate.expected_sinks(ref)
    s, i64 = pa.string(), pa.int64()
    types = {"source": s, "process": s, "issue": s, "match": s, "event": s, "level": s,
             "group_key": s, "details": pa.list_(s), "line_no": i64, "n_matches": i64, "count": i64}
    for sink, cols in gate.SINK_KEYS.items():
        rows = []
        for key, n in exp[sink].items():
            row = {c: list(v) if c == "details" else v for c, v in zip(cols, key)}
            rows += [row] * n
        _write(os.path.join(out, sink), rows, pa.schema([(c, types[c]) for c in cols]))
    summary = []
    for src in sorted(ref):
        g = ref[src]["summary"]
        for issue in g["ordered_issues"]:
            gi = g["issues"][issue]
            summary.append({
                "source": src, "issue": issue, "number": int(gi["Number"]),
                "timestamp": gi.get("Timestamp", ""), "log_level": gi.get("LogLevel", ""),
                "fields": [(k, gi[k]) for k in ("Pid",) if k in gi], "priority": g["priority"][issue],
            })
    _write(os.path.join(out, "summary"), summary, pa.schema([
        ("source", s), ("issue", s), ("number", i64), ("timestamp", s), ("log_level", s),
        ("fields", pa.map_(s, s)), ("priority", pa.int32()),
    ]))


def test_gate_passes_reference_sinks(reference, tmp_path):
    _sinks_from(reference, str(tmp_path))
    assert gate.check_sinks(str(tmp_path), reference) == []


@pytest.mark.parametrize("sink", ["other_routed", "events", "summary"])
def test_gate_flags_perturbed_sink(reference, tmp_path, sink):
    _sinks_from(reference, str(tmp_path))
    path = os.path.join(str(tmp_path), sink, "part-00000.parquet")
    t = pq.read_table(path)
    col = t.column("line_no" if sink != "summary" else "number").to_pylist()
    col[0] += 1
    idx = t.schema.get_field_index("line_no" if sink != "summary" else "number")
    pq.write_table(t.set_column(idx, t.field(idx), pa.array(col, t.field(idx).type)), path)
    assert gate.check_sinks(str(tmp_path), reference)


def test_gate_flags_perturbed_query_result(tmp_path):
    import duckdb

    import __spark_entry__ as entry

    d = inputs.query_tables(str(tmp_path), 5, ["token_count", "severity_enrich"], entry.oracle_sql())
    ref = inputs.load_reference(d)["queries"]["severity_enrich"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
    rel = con.sql(entry.oracle_sql()["severity_enrich"])
    cols, rows = rel.columns, rel.fetchall()
    assert gate.check_query("severity_enrich", cols, rows, ref) == []
    bad = [tuple(r) for r in rows]
    bad[0] = tuple(v + 1 if isinstance(v, int) and not isinstance(v, bool) else v for v in bad[0])
    assert gate.check_query("severity_enrich", cols, bad, ref)
    assert gate.check_query("severity_enrich", cols, rows[1:], ref)
    assert gate.check_query("severity_enrich", [c + "_x" for c in cols], rows, ref)


def test_metric_names_match_benchmark_json():
    declared = declared_metrics()
    assert list(declared["end_to_end"]) == list(E2E_METRICS)
    assert list(declared["per_layer"]) == per_layer_names()
    with pytest.raises(RuntimeError):
        result_metrics({"wall_s": 1.0, "bogus": 1.0}, declared["end_to_end"])


def test_benchmark_json_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
    assert len(names) == len(set(names)) and all(name.match(n) for n in names)
    assert all(unit.match(m["unit"]) for k in ("end_to_end", "per_layer") for m in b[k])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert {m["name"]: m["unit"] for m in b["end_to_end"]}["setup_s"] == "s"


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_run", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "operator_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_tree_cpu_s_counts_a_child_process():
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True, timeout=60)
    assert tree_cpu_s() - before >= 0.4
