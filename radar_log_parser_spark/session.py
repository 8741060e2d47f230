"""SparkSession factory with scale-oriented defaults, and the driver-side
helpers every plan shares: the no-job input listing (`input_fingerprint`),
the parquet read that infers a schema once per file version
(`read_parquet`, and `read_parquet_and_fingerprint`, which also returns
the listing's fingerprint) and driver-local tables (`local_frame`).

local[N] is the sandbox stand-in for a multi-executor cluster; every setting
here is chosen to behave identically on a real cluster (AQE, Arrow batching,
shuffle-partition sizing) — see BASELINE.md scaling gate.
"""

from __future__ import annotations

import hashlib
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# share of the host's (or the container's) memory the driver heap takes
# when SPARK_DRIVER_MEM is unset; the rest is left to Python workers, the
# page cache and the JVM's off-heap arenas
HEAP_FRACTION = 0.4
MAX_HEAP_GIB = 48


def _host_mem_bytes() -> int:
    """The smaller of physical memory and the cgroup memory limit."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                v = f.read().strip()
        except OSError:
            continue
        if v.isdigit():  # cgroup v2 reads "max" when unlimited
            mem = min(mem, int(v))
    return mem


def default_driver_mem() -> str:
    """SPARK_DRIVER_MEM, else HEAP_FRACTION of the host's memory in whole
    GiB (at least 1, at most MAX_HEAP_GIB)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    gib = int(_host_mem_bytes() * HEAP_FRACTION) >> 30
    return f"{min(max(gib, 1), MAX_HEAP_GIB)}g"


def worker_daemon(master: str) -> str | None:
    """`radar_log_parser_spark.daemon` (see its docstring) when a Python
    worker can import this package as it starts, else None for Spark's own
    daemon. The worker imports the package before any task has shipped a
    `--py-files` archive, so that holds only when the package was loaded
    from a plain directory that is the working directory or an entry of
    `PYTHONPATH`, and only on a local master, whose workers share the
    driver's working directory and environment; on a cluster the driver
    cannot tell."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not (master == "local" or master.startswith("local[")) or not os.path.isdir(root):
        return None
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if os.path.realpath(root) in {os.path.realpath(d) for d in dirs if d}:
        return "radar_log_parser_spark.daemon"
    return None


def get_spark(
    app: str = "radar_log_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    n_threads = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cpus
    shuffle_partitions = shuffle_partitions or max(2 * n_threads, 8)
    heap = default_driver_mem()
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", heap)
        # pre-size the heap: lazy growth under G1 causes multi-x run-to-run
        # variance on batch workloads (measured 17s..46s for one job)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", f"-Xms{heap}"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # collect_list/collect_set aggregations run in
        # ObjectHashAggregateExec, whose default in-memory key budget
        # (fallbackThreshold=128 distinct keys per task) silently degrades
        # the whole aggregation to SORT-based once crossed — the summary's
        # level-1 grains (issue × proc_rank × line_bucket, and the field
        # contents' issue × k × proc_rank × line_bucket) sit right at that
        # boundary, so tasks flip between hash and full-sort plans
        # run-to-run. The per-key buffers here are bounded (one joined
        # string per key), so a generous key budget is safe and keeps the
        # agg hash-based at any corpus size (keys/task stays
        # O(pairs × buckets/task), independent of total rows).
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
        # generated classes are cached in the driver JVM, least recently
        # used out first, in this many entries (default 100, which Guava
        # splits into 4 segments that evict on their own). One pass of the
        # 30 bench queries uses about 350 classes and one checkpointed
        # pipeline run about 107, so at 100 every warm run evicted classes
        # before their next use and paid codegen, janino compile and JIT
        # warm-up again: 353 compiles per warm query pass and 84 per warm
        # pipeline run with its sink writes (perfbench, local[2]), against
        # 0-4 and 0 at 1024. The headroom covers a driver that runs both
        # workloads' plans and more, as the test suite does. The cache
        # grows with the number of distinct plan shapes, not with repeat
        # runs. Static: read once, when the JVM compiles its first plan.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    daemon = worker_daemon(master)
    if daemon is not None:
        b = b.config("spark.python.daemon.module", daemon)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _fingerprint(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
        h.update(b"\x00")
    return h.hexdigest()[:24]


def input_fingerprint(spark: SparkSession, path: str) -> str:
    """The input's content fingerprint, read on the driver with no Spark
    job: the relative path, size and modification time of every file under
    `path` (or of `path` itself), listed through Hadoop's FileSystem, so any
    scheme Spark reads is covered. A new file at the same path changes it,
    and no stage resumes over rows of the old input.

    Walked with `listStatus`, not `listFiles`: the located statuses
    `listFiles` builds read each file's permissions, which the local file
    system does through an `ls` subprocess when the native Hadoop library
    is absent (4 ms a file: 1 s for a 245-file input)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    root = fs.makeQualified(hpath).toString().rstrip("/")
    parts = []
    dirs = [hpath]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            if st.isDirectory():
                dirs.append(st.getPath())
            else:
                rel = st.getPath().toString()[len(root) :].lstrip("/")
                parts.append(f"{rel}\t{st.getLen()}\t{st.getModificationTime()}")
    return _fingerprint(*sorted(parts))


# path → ((application id, input fingerprint), the schema Spark inferred).
# Process-wide: the application id keeps one session's entries from
# serving another, and an entry is replaced whole, so threads that read one
# path at once at worst infer its schema twice.
_SCHEMAS: dict[str, tuple[tuple[str, str], StructType]] = {}


def read_parquet_and_fingerprint(spark: SparkSession, path: str) -> tuple[DataFrame, str]:
    """`spark.read.parquet(path)` that infers the schema once per file
    version, and the `input_fingerprint` of the one listing that decides
    it. Inference is a Spark job on every read, even of one file; a read
    that passes the schema runs none. The cache keeps one entry per path,
    valid while the application and the files' fingerprint are unchanged:
    a file rewritten at the same path is inferred again. A path the
    listing cannot take (a glob, a missing path) raises the listing's
    Py4J error.

    The schema is not derived from the parquet footer: Spark infers a
    timestamp without `isAdjustedToUTC` as `timestamp_ntz`, where
    pyarrow's schema maps to `timestamp`."""
    fp = input_fingerprint(spark, path)
    key = (spark.sparkContext.applicationId, fp)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path), fp
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df, fp


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The frame of `read_parquet_and_fingerprint`. A path the listing
    cannot take is read as Spark reads it, so Spark raises its own error
    (or reads the glob)."""
    try:
        return read_parquet_and_fingerprint(spark, path)[0]
    except Py4JJavaError:
        return spark.read.parquet(path)


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes the driver JVM has compiled so far (Spark's
    CodegenMetrics compile-time histogram count). JVM-wide, so a delta
    also counts plans other threads compiled meanwhile; reading it runs
    no Spark job."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A small driver-side table as a `LocalRelation` (plans show
    `LocalTableScan`): broadcasting it needs no Spark job and no Python
    worker, where `createDataFrame(list)` plans a Python RDD scan that
    re-runs on Python workers every time a consuming plan runs.

    Values travel as named parameter markers, so strings from YAML configs
    or collected rows need no quoting. (Positional `?` markers bind out of
    order in VALUES lists of three or more rows on Spark 4.1.)

    `schema` is a DDL string or a StructType. Every column is cast to its
    declared type and is nullable, as with `createDataFrame(rows, ddl)`:
    one trailing all-NULL row, cut by the LIMIT, keeps the columns
    nullable and gives an empty `rows` its types."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = [f"c{i}" for i in range(len(schema.fields))]
    cols = ", ".join(
        f"CAST({c} AS {f.dataType.simpleString()}) AS `{f.name.replace('`', '``')}`"
        for c, f in zip(names, schema.fields)
    )
    args: dict = {}
    values = []
    for i, row in enumerate(rows):
        keys = [f"p{i}_{j}" for j in range(len(names))]
        args.update(zip(keys, row, strict=True))
        values.append("(" + ", ".join(":" + k for k in keys) + ")")
    values.append("(" + ", ".join(["NULL"] * len(names)) + ")")
    return spark.sql(
        f"SELECT {cols} FROM VALUES {', '.join(values)} AS t({', '.join(names)}) LIMIT {len(values) - 1}",
        args=args,
    )
