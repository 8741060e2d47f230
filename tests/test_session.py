"""session.py: the driver heap default, the parquet read path (the schema
inferred once per file version), driver-local dimension tables
(`local_frame`) — schema and value round trips, the plans that use them,
source guards that keep Python-RDD scans of driver lists, env-var
switches and unreferenced definitions out of the package — the codegen
cache size: a warm rerun compiles no classes — and the Python worker
daemon: workers import pyspark from site-packages with no zipimporter,
and a `spark-submit --py-files` job keeps Spark's own daemon."""

from __future__ import annotations

import ast
import json
import os
import re
import shutil
import site
import subprocess
import sys
import zipfile
import zipimport
from collections import Counter

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, StructType

from radar_log_parser_spark import daemon, session
from radar_log_parser_spark.session import local_frame, read_parquet
from test_dedup_similarity import SF_DIR, _jobs_run
from test_round6 import SF_DIR_MID

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO_DIR, "radar_log_parser_spark")


def test_default_driver_mem_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    gib = int(session.default_driver_mem().removesuffix("g"))
    assert 1 <= gib <= max(1, session._host_mem_bytes() >> 30)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "5g")
    assert session.default_driver_mem() == "5g"


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def test_input_fingerprint_equals_the_located_listing(spark, tmp_path):
    """The `listStatus` walk hashes what `FileSystem.listFiles(path, true)`
    lists: nested directories, hidden and marker files, a trailing slash,
    a `file://` URI, a single file."""
    from radar_log_parser_spark.session import _fingerprint, input_fingerprint

    def located(path):
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        root = fs.makeQualified(hpath).toString().rstrip("/")
        files = fs.listFiles(hpath, True)
        parts = []
        while files.hasNext():
            st = files.next()
            rel = st.getPath().toString()[len(root) :].lstrip("/")
            parts.append(f"{rel}\t{st.getLen()}\t{st.getModificationTime()}")
        return _fingerprint(*sorted(parts))

    for rel in ("t/a=1/b=2/x.parquet", "t/a=2/y.parquet", "t/_SUCCESS", "t/.x.crc", "one.parquet"):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(rel)
    for path in (tmp_path / "t", f"{tmp_path}/t/", f"file://{tmp_path}/t", tmp_path / "one.parquet"):
        assert input_fingerprint(spark, str(path)) == located(str(path)), path


def test_read_parquet_infers_once_per_file_version(spark, tmp_path):
    """A repeated read of an unchanged file runs no Spark job and has the
    schema Spark infers; a file rewritten at the same path with one more
    column is inferred again, and the read shows the column."""
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2])
    read_parquet(spark, path)
    assert _jobs_run(spark, lambda: read_parquet(spark, path), "warm-read") == 0
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    _write(path, a=[1, 2], b=["x", "y"])
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_read_parquet_keeps_one_schema_per_path(spark, tmp_path):
    """20 reads of 3 paths, one of them rewritten with a new column on the
    way, leave one cache entry per path, holding the latest schema."""
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(3)]
    for p in paths:
        _write(p, a=[1])
    for i in range(20):
        if i == 10:
            _write(paths[0], a=[1], b=[2])
        read_parquet(spark, paths[i % 3])
    cached = {p: entry for p, entry in session._SCHEMAS.items() if p.startswith(str(tmp_path))}
    assert sorted(cached) == paths
    assert cached[paths[0]][1].fieldNames() == ["a", "b"]


def test_read_parquet_missing_path_raises_as_spark_does(spark, tmp_path):
    """The file listing does not surface a Py4J error first: a missing
    path raises Spark's own PATH_NOT_FOUND."""
    missing = str(tmp_path / "missing.parquet")
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(missing)
    with pytest.raises(AnalysisException) as got:
        read_parquet(spark, missing)
    assert got.value.getCondition() == want.value.getCondition() == "PATH_NOT_FOUND"


def test_pipeline_lists_its_input_once(spark, cfg, vocab, fx, tmp_path, monkeypatch):
    """A fresh checkpointed run lists its input once: the listing that
    fingerprints the input for the lineage also keys the schema-cached
    read that the parse stage scans."""
    from radar_log_parser_spark.plans.pipeline import Pipeline

    listings = []
    listed = session.input_fingerprint

    def counting(spark, path):
        listings.append(path)
        return listed(spark, path)

    for name, mod in list(sys.modules.items()):
        if name.startswith("radar_log_parser_spark") and getattr(mod, "input_fingerprint", None) is listed:
            monkeypatch.setattr(mod, "input_fingerprint", counting)
    Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=str(tmp_path / "w"), checkpoint=True).run()
    assert listings == [fx.logs_path]


def test_warm_headliner_builds_run_no_job(spark):
    """Once each table's schema is cached, building a bench headliner runs
    no Spark job: a read of a table that infers its schema runs one. Only
    `dedup_cluster` (its label rounds) and `ann_ivf_topk` (its centroid
    collect) run jobs to build."""
    import __spark_entry__ as entry
    from bench import HEADLINERS

    queries = entry.queries()
    names = [q for q in HEADLINERS if q not in ("dedup_cluster", "ann_ivf_topk")]
    for q in names:
        queries[q](spark, SF_DIR_MID)
    jobs = {
        q: _jobs_run(spark, lambda q=q: queries[q](spark, SF_DIR_MID), f"build-{q}")
        for q in names
    }
    assert jobs == dict.fromkeys(names, 0)


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


def test_bench_plans_use_local_tables(pipeline_run):
    """The frames the routing and summary stages write read the keep-set,
    the issue→process map and the issues dimension as LocalTableScans, and
    no leaf is a Python RDD scan (`Scan ExistingRDD`)."""
    _res, written = pipeline_run
    keep_set = ("source", "process")
    ipmap = ("issue", "process", "proc_rank", "grouped", "k_lo", "k_hi")
    issues_dim = ("issue", "grouped", "priority")
    pairs_dim = ("issue", "k", "field")
    for stage, tables in (
        ("specific_issues", [keep_set]),
        ("scoped", [keep_set, ipmap]),
        ("summary", [issues_dim, pairs_dim]),
    ):
        leaves = _scan_leaves(written[stage])
        assert [a for kind, a in leaves if kind == "Scan ExistingRDD"] == [], stage
        assert sorted(_cols(a) for kind, a in leaves if kind == "LocalTableScan") == sorted(tables), stage


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


def _defined_names(node):
    """Names a statement defines: a function or class, or the plain-name
    targets of an assignment."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _definitions(tree):
    """(statement, name) of every top-level definition of a module, and of
    every non-dunder method and class-level name of each of its classes."""
    for node in tree.body:
        for name in _defined_names(node):
            yield node, name
    for cls in ast.walk(tree):
        if isinstance(cls, ast.ClassDef):
            for node in cls.body:
                for name in _defined_names(node):
                    if not (name.startswith("__") and name.endswith("__")):
                        yield node, name


def _unread_locals(tree):
    """(line, name) of every parameter and every assigned local name of a
    function or lambda that nothing in its body reads (nested scopes
    included; an augmented assignment reads its target). Names starting
    with `_` are exempt: that is the spelling of "deliberately unused"."""
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        a = fn.args
        params = [p for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg] if p]
        stored: dict[str, int] = {}
        read = set()
        for stmt in fn.body if isinstance(fn.body, list) else [fn.body]:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name):
                    if isinstance(node.ctx, ast.Load):
                        read.add(node.id)
                    else:
                        stored.setdefault(node.id, node.lineno)
                elif isinstance(node, ast.AugAssign) and isinstance(node.target, ast.Name):
                    read.add(node.target.id)
        for name, line in [(p.arg, fn.lineno) for p in params] + list(stored.items()):
            if name not in read and not name.startswith("_"):
                yield line, name


def test_no_unreferenced_package_definitions():
    """Every top-level function, class and assigned name in the package,
    and every non-dunder method and class-level name of its classes, is
    referenced by name from some module of the package, the tests,
    perfbench, tools or the root scripts, its own definition aside; and
    every parameter and local name of a package function is read inside
    it. Code and constants that nothing uses are deleted, not kept as a
    second form."""
    trees = [t for _rel, t in _modules(REPO_DIR, recurse=False)]
    for sub in ("radar_log_parser_spark", "tests", "perfbench", "tools"):
        trees += [t for _rel, t in _modules(os.path.join(REPO_DIR, sub))]
    refs = Counter(n for t in trees for n in _referenced_names(t))
    dead = [
        f"{rel}:{node.lineno} {name}"
        for rel, tree in _modules()
        for node, name in _definitions(tree)
        if refs[name] == sum(1 for n in _referenced_names(node) if n == name)
    ]
    dead += [
        f"{rel}:{line} {name}"
        for rel, tree in _modules()
        for line, name in _unread_locals(tree)
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


def test_package_root_is_import_free():
    """`python -m radar_log_parser_spark.daemon` imports the package root
    before the daemon drops Spark's archives from the path, so the root may
    hold only a docstring, `__future__` imports and constant assignments:
    anything else could load pyspark from `pyspark.zip` first."""
    ((_rel, tree),) = [m for m in _modules(recurse=False) if m[0] == "__init__.py"]
    bad = [
        f"__init__.py:{node.lineno} {ast.unparse(node)[:60]}"
        for i, node in enumerate(tree.body)
        if not (
            (i == 0 and isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant))
            or (isinstance(node, ast.ImportFrom) and node.module == "__future__")
            or (isinstance(node, (ast.Assign, ast.AnnAssign)) and isinstance(node.value, ast.Constant))
        )
    ]
    assert not bad, bad


def test_worker_imports_pyspark_from_site_packages(spark):
    """A Python worker of a `get_spark` session holds no zipimporter, so the
    `importlib.invalidate_caches()` each task calls re-reads no archive.
    Under Spark's own daemon a worker held 16, over `pyspark.zip`, the
    py4j zip and the `spark-core` jar."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        n = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"zips": [n], "pyspark": [pyspark.__file__]})

    (row,) = spark.range(1, numPartitions=1).mapInArrow(probe, "zips long, pyspark string").collect()
    assert row.zips == 0
    assert any(row.pyspark.startswith(d + os.sep) for d in site.getsitepackages()), row.pyspark


def _spark_layout(tmp_path, zipped_version: str) -> tuple[list[str], str]:
    """Spark's three archives, with `zipped_version` in `pyspark.zip`, and
    a site-packages dir holding pyspark 4.1.2 and py4j."""
    lib = tmp_path / "lib"
    lib.mkdir()
    files = {
        "pyspark.zip": {"pyspark/__init__.py": "", "pyspark/version.py": f"__version__: str = '{zipped_version}'\n"},
        "py4j-0.10.9.9-src.zip": {"py4j/__init__.py": ""},
        "spark-core_2.13-4.1.2.jar": {"org/apache/spark/A.class": ""},
    }
    for name, members in files.items():
        with zipfile.ZipFile(lib / name, "w") as z:
            for member, text in members.items():
                z.writestr(member, text)
    sp = tmp_path / "site-packages"
    for rel, text in {"pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n", "py4j/__init__.py": ""}.items():
        (sp / rel).parent.mkdir(parents=True, exist_ok=True)
        (sp / rel).write_text(text)
    return [str(lib / name) for name in files], str(sp)


@pytest.mark.parametrize("zipped, dropped", [("4.1.2", True), ("4.0.0", False)])
def test_daemon_drops_archives_only_for_the_same_pyspark(monkeypatch, tmp_path, zipped, dropped):
    archives, sp = _spark_layout(tmp_path, zipped)
    path = [str(tmp_path), *archives, sp]
    cache = {a: zipimport.zipimporter(a) for a in archives}
    cache[os.path.join(archives[0], "pyspark")] = zipimport.zipimporter(os.path.join(archives[0], "pyspark"))
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    daemon.drop_spark_archives()
    if dropped:
        assert sys.path == [str(tmp_path), sp]
        assert not any(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    else:
        assert sys.path == path
        assert all(sys.path_importer_cache.get(k) is v for k, v in cache.items())


def test_worker_daemon_needs_a_local_master_and_an_importable_package(monkeypatch, tmp_path):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO_DIR)
    assert session.worker_daemon("local[2]") == "radar_log_parser_spark.daemon"
    assert session.worker_daemon("spark://host:7077") is None
    monkeypatch.chdir(tmp_path)
    assert session.worker_daemon("local[2]") is None
    monkeypatch.setenv("PYTHONPATH", REPO_DIR)
    assert session.worker_daemon("local[2]") == "radar_log_parser_spark.daemon"


_PY_FILES_JOB = """
import json

from radar_log_parser_spark.session import get_spark

spark = get_spark(master="local[2]")


def double(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    import radar_log_parser_spark

    for b in batches:
        yield pa.RecordBatch.from_pydict(
            {"id": pc.multiply(b.column(0), 2), "pkg": [radar_log_parser_spark.__file__] * b.num_rows}
        )


rows = spark.range(100).mapInArrow(double, "id long, pkg string").collect()
print(json.dumps({
    "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module"),
    "ids": sorted(r.id for r in rows),
    "pkgs": sorted({r.pkg for r in rows}),
}))
spark.stop()
"""


def test_py_files_job_keeps_the_stock_daemon(tmp_path):
    """`spark-submit --py-files` ships the package to a worker with each
    task, after the daemon has started, so the daemon cannot import it:
    `get_spark` must leave Spark's daemon in place, and the job's Arrow
    UDF runs. Run from a directory outside the repo, without PYTHONPATH."""
    shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO_DIR, "radar_log_parser_spark")
    (tmp_path / "job.py").write_text(_PY_FILES_JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    p = subprocess.run(
        [os.path.join(os.environ["SPARK_HOME"], "bin", "spark-submit"), "--py-files", "pkg.zip", "job.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["daemon"] is None
    assert out["ids"] == [2 * i for i in range(100)]
    assert len(out["pkgs"]) == 1 and "pkg.zip" in out["pkgs"][0], out["pkgs"]
