"""session.py: the driver heap default, driver-local dimension tables
(`local_frame`) — schema and value round trips, the plans that use them,
source guards that keep Python-RDD scans of driver lists, env-var
switches and unreferenced definitions out of the package — and the
codegen cache size: a warm rerun compiles no classes."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

from pyspark.sql.types import LongType, StructType

from radar_log_parser_spark import session
from radar_log_parser_spark.session import local_frame
from test_dedup_similarity import SF_DIR

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO_DIR, "radar_log_parser_spark")


def test_default_driver_mem_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    gib = int(session.default_driver_mem().removesuffix("g"))
    assert 1 <= gib <= max(1, session._host_mem_bytes() >> 30)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "5g")
    assert session.default_driver_mem() == "5g"


def test_local_frame_empty_keeps_schema(spark):
    ddl = "issue string, n bigint, grouped boolean"
    df = local_frame(spark, [], ddl)
    assert df.collect() == []
    assert df.schema == StructType.fromDDL(ddl)


def test_local_frame_bigint_stays_bigint(spark):
    df = local_frame(spark, [(1,), (2,), (2**40,)], "n bigint")
    assert df.schema["n"].dataType == LongType()
    assert [r["n"] for r in df.collect()] == [1, 2, 2**40]


def test_local_frame_names_round_trip(spark):
    names = ["it's", "`tick`", "a:b", ":p0_0", "?", "back\\slash", "", None]
    df = local_frame(spark, [(n, i) for i, n in enumerate(names)], "name string, i int")
    assert [(r["name"], r["i"]) for r in df.collect()] == [(n, i) for i, n in enumerate(names)]
    assert df.schema == StructType.fromDDL("name string, i int")


def _scan_leaves(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"(LocalTableScan|Scan ExistingRDD)\s*\[([^\]]*)\]", plan)


def _cols(attrs: str) -> tuple[str, ...]:
    return tuple(re.sub(r"#\d+L?$", "", a.strip()) for a in attrs.split(","))


def test_bench_plans_use_local_tables(pipeline_result):
    """The keep-set, the issue→process map and the issues dimension are
    LocalTableScans; the only RDD scans left are the pipeline's own
    localCheckpoint blocks (parsed and the slim scope)."""
    materialized = {
        tuple(pipeline_result.sinks[n].columns) for n in ("parsed", "scoped_slim")
    }
    for name in ("specific_issues", "scoped", "summary"):
        leaves = _scan_leaves(pipeline_result.sinks[name])
        assert any(kind == "LocalTableScan" for kind, _ in leaves), name
        rdd_scans = [_cols(a) for kind, a in leaves if kind == "Scan ExistingRDD"]
        assert all(c in materialized for c in rdd_scans), (name, rdd_scans)


def _modules(top: str = PKG_DIR, recurse: bool = True):
    for root, dirs, names in os.walk(top):
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    yield os.path.relpath(path, top), ast.parse(f.read(), path)
        if not recurse:
            dirs.clear()


_COLUMNAR = re.compile(r"^(pd|pandas|pa|pyarrow)\.|\.(to_pandas|toPandas|to_arrow|toArrow)\(\)$")


def test_no_create_dataframe_over_python_lists():
    """`createDataFrame(list)` plans a Python RDD scan that re-runs on
    Python workers every time a consuming plan runs; small driver tables
    go through `local_frame`. Only pandas or Arrow tables may be passed."""
    bad = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                arg = ast.unparse(node.args[0]) if node.args else ""
                if not _COLUMNAR.search(arg):
                    bad.append(f"{rel}:{node.lineno} {arg}")
    assert not bad, bad


def test_only_session_reads_the_environment():
    """Settled experiments are code, not env switches: outside the
    deployment settings in `session.py`, no package module reads
    `os.environ` or `os.getenv`."""
    bad = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        if rel != "session.py"
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr in ("environ", "getenv")
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    ]
    assert not bad, bad


def _referenced_names(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]


def test_no_unreferenced_package_definitions():
    """Every top-level function and class in the package is referenced by
    name from some module of the package, the tests, perfbench, tools or
    the root scripts, its own definition aside. Code that nothing calls
    is deleted, not kept as a second form."""
    trees = [t for _rel, t in _modules(REPO_DIR, recurse=False)]
    for sub in ("radar_log_parser_spark", "tests", "perfbench", "tools"):
        trees += [t for _rel, t in _modules(os.path.join(REPO_DIR, sub))]
    refs = Counter(n for t in trees for n in _referenced_names(t))
    dead = [
        f"{rel}:{node.lineno} {node.name}"
        for rel, tree in _modules()
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and refs[node.name] == sum(1 for n in _referenced_names(node) if n == node.name)
    ]
    assert not dead, dead


def test_warm_pipeline_run_compiles_no_classes(spark, cfg, vocab, fx, tmp_path):
    """A checkpointed run on the unit fixture (87 generated classes cold)
    repeated in a fresh work dir finds every class in the codegen cache.
    At Spark's default of 100 entries the second run recompiled 22."""
    from radar_log_parser_spark.plans.pipeline import Pipeline

    compiles = []
    for run in ("first", "second"):
        pipe = Pipeline(
            spark, cfg, vocab, fx.logs_path, work_dir=str(tmp_path / run), checkpoint=True
        )
        pipe.run()
        compiles.append(pipe.codegen_compiles)
    assert compiles[1] == 0, compiles


def test_warm_query_pass_compiles_no_classes(spark):
    """One pass over the logquery queries compiles about 110 generated
    classes cold; the next pass must compile none (at Spark's default of
    100 entries it recompiled 83-103). `nongrouped_count` is left out: Spark
    orders its two count-distinct groups by expression-id hashes, so each
    call picks one of two plan shapes and a later pass may meet the second
    one for the first time."""
    from radar_log_parser_spark.operators import logquery

    specs = [s for s in logquery.SPECS if s.name != "nongrouped_count"]
    compiles = []
    for _ in range(2):
        before = session.codegen_compiles(spark)
        for s in specs:
            s.spark(spark, SF_DIR).collect()
        compiles.append(session.codegen_compiles(spark) - before)
    assert compiles[1] == 0, compiles
